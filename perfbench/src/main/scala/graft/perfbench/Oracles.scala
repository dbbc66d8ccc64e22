package graft.perfbench

/** Plain-Scala answers computed from the generator's ground truth, for
  * checking the engine's results. */
object Oracles {

  /** [[graft.graph.PageRank.run]]'s integer fixed-point recurrence, as its
    * documentation states it, with every node a seed:
    * {{{
    *   r0(v)      = scale div N
    *   base       = (15 * r0) div 100
    *   dang_k     = sum of r_k(v) over zero-outdeg v
    *   r_{k+1}(v) = base + (85 * ((dang_k div N) + sum_{(u,v)} (r_k(u) div outdeg(u)))) div 100
    * }}} */
  def pageRank(edges: Seq[(String, String)], iters: Int, scale: Long): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.toIndexedSeq
    val n = nodes.size.toLong
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val into = e.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val dangling = nodes.filterNot(outdeg.contains)
    val r0 = scale / n
    val base = (15L * r0) / 100L
    var r: Map[String, Long] = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val share = dangling.map(r).sum / n
      val cur = r
      r = nodes.map { v =>
        val c = into.getOrElse(v, Nil).map(u => cur(u) / outdeg(u)).sum
        v -> (base + (85L * (share + c)) / 100L)
      }.toMap
    }
    r
  }
}

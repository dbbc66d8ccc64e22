package graft.perfbench

/** Percentile and open-loop freshness arithmetic, kept free of Spark so the
  * benchmark's own tests can check it on synthetic schedules. */
object Stats {

  /** Linearly interpolated percentile (`q` in [0, 1]) — the same rule as
    * numpy's default and Python's `statistics.quantiles(method="inclusive")`. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Median of a possibly empty sample; 0 when nothing was measured (a
    * per-layer metric of a layer the workload does not use). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** One landed CDC file as the open loop saw it. Times are seconds on one
    * monotonic clock.
    *
    * @param due      when the schedule said the file lands
    * @param landed   when the lander's rename finished
    * @param taken    start of the orchestrator run that planned the file
    * @param visible  end of the first probe read that returned its rows
    */
  final case class FileTimes(due: Double, landed: Double,
      taken: Option[Double], visible: Option[Double]) {
    /** Freshness runs from the DUE time, so a stalled lander or engine
      * charges every file that queued behind the stall. */
    def freshness: Option[Double] = visible.map(_ - due)
    def queueWait: Option[Double] = taken.map(_ - landed)
    def lateness: Double = landed - due
  }

  final case class OpenLoop(freshness: Seq[Double], queueWait: Seq[Double],
      maxLateness: Double, backlog: Int)

  /** Summarize an open-loop run. `backlog` counts files that landed but
    * were not yet visible when the measuring window closed. */
  def openLoop(files: Seq[FileTimes]): OpenLoop = OpenLoop(
    freshness = files.flatMap(_.freshness),
    queueWait = files.flatMap(_.queueWait),
    maxLateness = if (files.isEmpty) 0.0 else files.map(_.lateness).max,
    backlog = files.count(_.visible.isEmpty))
}

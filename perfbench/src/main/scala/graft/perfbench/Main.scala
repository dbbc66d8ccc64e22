package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point:
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--out <dir>]
  * }}}
  * Prints a human-readable report, then, as its last line, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics untraced, the per-layer metrics traced. */
object Main {

  /** End-to-end metrics as (name, unit). Every workload reports every one
    * of them, each in that workload's own terms (see README). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_s" -> "s",
    "lake_bytes_per_row" -> "B/row",
    "live_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "orchestrate.plan_s" -> "s",
    "orchestrate.idle_call_ratio" -> "ratio",
    "orchestrate.queue_wait_s" -> "s",
    "sink.upsert_s" -> "s",
    "sink.upsert.driver_s" -> "s",
    "sink.upsert.shuffle_write_mb" -> "MB",
    "sink.upsert.spill_mb" -> "MB",
    "sink.rows_written_per_row_in" -> "ratio",
    "sink.overwrite_s" -> "s",
    "sink.read_resolve_s" -> "s",
    "sql.analyze_s" -> "s",
    "sql.plan_s" -> "s",
    "sql.exec_s" -> "s",
    "sql.input_rows_per_result_row" -> "ratio",
    "graph.run_s" -> "s",
    "graph.shuffle_write_mb" -> "MB",
    "graph.spill_mb" -> "MB",
    "graph.busy_frac" -> "ratio",
    "oracle.compare_s" -> "s",
    "trace.latency_p50_s" -> "s",
    "trace.listener_s" -> "s",
    "trace.spans" -> "count")

  /** Workload-specific names of the end-to-end metrics, for the report. */
  private val Aliases: Map[String, Map[String, String]] = Map(
    "cdc_freshness" -> Map("latency_p50_s" -> "freshness_p50_s"),
    "graph_rank" -> Map("latency_p50_s" -> "rank_job_s"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val body = Workloads.all.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = need("seed").toLong
    val secs = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = session(work, cpus)
    val heap = new HeapWatch
    val runId = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    val tracer = new Tracer(spark.sparkContext, trace, runId)
    val ctx = new Ctx(spark, tracer, heap, work, seed, secs, cpus)
    ctx.phase("session ready")
    try body(ctx, Workloads.Sizes())
    catch { case scala.util.control.NonFatal(e) =>
      ctx.attempted += 1; ctx.failed += 1; ctx.notes += s"workload threw: $e"
      e.printStackTrace()
    }
    ctx.phase("workload done")
    tracer.settle()
    val e2e = endToEnd(ctx)
    val layers = perLayer(ctx, e2e)
    report(workload, ctx, e2e, layers, trace)
    opts.get("out").filter(_ => trace).foreach(d => tracer.writeJsonl(Paths.get(d, s"$runId.jsonl")))
    heap.close()
    spark.stop()

    val metrics = (if (trace) PerLayer.map { case (n, u) => (n, layers(n), u) }
                   else EndToEnd.map { case (n, u) => (n, e2e(n)._1, u) })
    val correct = ctx.failed == 0 && (trace || EndToEnd.forall { case (n, _) => e2e(n)._1 > 0 })
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, "failed": ${ctx.failed}, "metrics": $json}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(work: Path, cpus: Int): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Spark's status store keeps every job, stage and SQL execution up to
      // these limits even without the UI; small limits keep that bookkeeping
      // from growing with the number of jobs a run fits in its window.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** name → (value, sample count). */
  def endToEnd(ctx: Ctx): Map[String, (Double, Int)] = {
    def med(k: String) = { val xs = ctx.get(k); (Stats.medianOr0(xs), xs.size) }
    val lat = ctx.get("latency")
    Map(
      "setup_s" -> med("setup"),
      "latency_p50_s" -> (Stats.medianOr0(lat), lat.size),
      "lake_bytes_per_row" -> med("bytes_per_row"),
      "live_heap_mb" -> (ctx.heap.maxLiveMb, 1))
  }

  def perLayer(ctx: Ctx, e2e: Map[String, (Double, Int)]): Map[String, Double] = {
    val t = ctx.tracer
    val spans = t.spans
    def named(n: String) = spans.filter(_.name == n)
    def medSpan(n: String) = Stats.medianOr0(named(n).map(_.seconds))
    def perCallMb(n: String, f: Counters => Long) = {
      val ss = named(n)
      if (ss.isEmpty) 0.0 else ss.map(s => f(t.counters(s))).sum / 1048576.0 / ss.size
    }
    val upserts = named("sink.upsert")
    val runOnce = named("orchestrate.runOnce").filter(s => spans.exists(_.parent == s.id))
    val graph = named("graph.run")
    val sqlExecInput = named("sql.exec").map(s => t.counters(s).inputRecords).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map(
      "orchestrate.plan_s" -> Stats.medianOr0(runOnce.map(s => t.selfSeconds(s, spans))),
      "orchestrate.idle_call_ratio" -> ratio(ctx.counts("idle_calls"), ctx.counts("calls")),
      "orchestrate.queue_wait_s" -> Stats.medianOr0(ctx.get("queue_wait")),
      "sink.upsert_s" -> medSpan("sink.upsert"),
      "sink.upsert.driver_s" -> Stats.medianOr0(upserts.map(t.driverSeconds)),
      "sink.upsert.shuffle_write_mb" -> perCallMb("sink.upsert", _.shuffleWriteBytes),
      "sink.upsert.spill_mb" -> perCallMb("sink.upsert", _.spillBytes),
      "sink.rows_written_per_row_in" -> ratio(upserts.map(s => t.counters(s).outputRecords).sum.toDouble,
        ctx.counts("upsert_rows_in")),
      "sink.overwrite_s" -> medSpan("sink.overwrite"),
      "sink.read_resolve_s" -> medSpan("sink.read"),
      "sql.analyze_s" -> medSpan("sql.analyze"),
      "sql.plan_s" -> medSpan("sql.plan"),
      "sql.exec_s" -> medSpan("sql.exec"),
      "sql.input_rows_per_result_row" -> ratio(sqlExecInput.toDouble, ctx.counts("result_rows")),
      "graph.run_s" -> medSpan("graph.run"),
      "graph.shuffle_write_mb" -> perCallMb("graph.run", _.shuffleWriteBytes),
      "graph.spill_mb" -> perCallMb("graph.run", _.spillBytes),
      "graph.busy_frac" -> ratio(graph.map(s => t.counters(s).executorRunMs / 1e3).sum,
        graph.map(_.seconds).sum * ctx.cpus),
      "oracle.compare_s" -> medSpan("oracle.compare"),
      "trace.latency_p50_s" -> e2e("latency_p50_s")._1,
      "trace.listener_s" -> t.listenerSeconds,
      "trace.spans" -> spans.size.toDouble)
  }

  private def report(workload: String, ctx: Ctx, e2e: Map[String, (Double, Int)],
      layers: Map[String, Double], trace: Boolean): Unit = {
    val alias = Aliases(workload)
    println(s"== $workload seed=${ctx.seed} seconds=${ctx.seconds} trace=${if (trace) 1 else 0} cpus=${ctx.cpus}")
    EndToEnd.foreach { case (n, u) =>
      val (v, k) = e2e(n)
      println(f"  ${alias.getOrElse(n, n)}%-26s ${v}%14.6f $u%-7s n=$k  ($n)")
    }
    // Too few samples per run for a tail percentile with ten beyond it;
    // shown for reading, not a metric.
    val lat = ctx.get("latency")
    if (lat.nonEmpty) println(f"  ${"latency_p90_s"}%-26s ${Stats.percentile(lat, 0.9)}%14.6f s       n=${lat.size}")
    ctx.counts.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  count.$k%-20s $v%14.3f") }
    if (trace) PerLayer.foreach { case (n, u) => println(f"  $n%-32s ${layers(n)}%14.6f $u") }
    ctx.samples.foreach { case (k, xs) =>
      println(s"  samples.$k ${xs.map(x => f"$x%.3f").mkString(" ")}")
    }
    println(s"  attempted=${ctx.attempted} failed=${ctx.failed}")
    ctx.notes.take(20).foreach(n => println(s"  note: $n"))
  }
}

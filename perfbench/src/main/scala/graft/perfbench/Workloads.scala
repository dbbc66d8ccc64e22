package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.PageRank
import graft.model.TimeCodec
import graft.oracle.CompareTables
import graft.orchestrate.CdcOrchestrator
import graft.sink.{KeyedLakeTable, LakeTableSpec}
import graft.sources.SnapshotSource
import graft.sql.QueryEngine

/** Everything one run shares: the session, the tracer, the operation
  * ledger and the workload's own measurements. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val heap: HeapWatch,
    val work: Path, val seed: Long, val seconds: Double, val cpus: Int) {
  var attempted = 0L
  var failed = 0L
  val notes = ArrayBuffer.empty[String]
  /** Seconds samples by measurement name. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Plain counts by name (rows in, result rows, calls). */
  val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = samples.get(name).fold(Seq.empty[Double])(_.toSeq)

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Run `body` for its effects and its checks only: the samples and counts
    * it records are dropped. For warm-up work before a window opens. */
  def untimed[T](body: => T): T = {
    val s0 = samples.toSeq.map { case (k, v) => k -> v.clone() }
    val c0 = counts.toMap
    try body
    finally {
      samples.clear(); samples ++= s0
      counts.clear(); counts ++= c0
    }
  }

  /** Progress line on stderr, with seconds since the JVM started. */
  def phase(name: String): Unit = System.err.println(
    f"perfbench: $name at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  /** An operation that must not throw; a throw counts as a failure. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => failed += 1; notes += s"$what threw: $e"; None }
  }

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case NonFatal(e) => notes += s"$what threw: $e"; false }
    if (!good) { failed += 1; notes += s"$what: mismatch" }
  }

  def compare(what: String, lake: DataFrame, expected: DataFrame): Unit =
    span("oracle.compare") {
      check(what) {
        val d = CompareTables.compare(lake, expected)
        if (!d.isEqual) notes += s"$what: $d"
        d.isEqual
      }
    }
}

object Workloads {

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Build the lake the workload starts from `n` times, each in its own
    * directory from the same inputs, and keep the last; `setup_s` is the
    * median build time. Generating the inputs is not part of it. */
  def setups[S](ctx: Ctx, n: Int)(build: Path => S): S = {
    var last: Option[S] = None
    (0 until n).foreach { i =>
      val dir = ctx.work.resolve(s"setup-$i")
      val (s, t) = seconds(build(dir))
      ctx.add("setup", t)
      if (i < n - 1) Inputs.deleteTree(dir)
      last = Some(s)
    }
    ctx.phase(s"$n set-ups done")
    last.get
  }

  def lakeTable(spark: SparkSession, path: Path, keys: Seq[String] = Seq("id")) =
    new KeyedLakeTable(spark, LakeTableSpec(path.toString, recordKeys = keys,
      precombine = "update_at", partitionSource = "create_at"))

  /** Bootstrap both tables from the `LOAD` files under `cdcRoot`. */
  private def bootstrap(ctx: Ctx, cdcRoot: String, lakes: Map[String, KeyedLakeTable]): Unit = {
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    Inputs.Tables.foreach { t =>
      val snap = SnapshotSource.read(ctx.spark, SnapshotSource.listLoadFiles(conf, s"$cdcRoot/$t"))
      ctx.span("sink.overwrite")(lakes(t).overwrite(snap))
    }
  }

  private def checkCdcState(ctx: Ctx, c: Inputs.Cdc, lakes: Map[String, KeyedLakeTable],
      throughTick: Map[String, Int]): Unit = {
    import ctx.spark.implicits._
    ctx.compare("accounts end state", lakes("accounts").read(),
      c.expectedAccounts(throughTick("accounts")).toDF())
    ctx.compare("transactions end state", lakes("transactions").read(),
      c.expectedTxns(throughTick("transactions")).toDF())
  }

  // ---------------------------------------------------------------- sizes

  /** Sizes and rates of every workload. The defaults are the benchmark;
    * the benchmark's tests shrink them. */
  final case class Sizes(
      setupRepeats: Int = 3,
      freshSnapshotEvents: Int = 3000,
      freshFileIntervalS: Double = 2.75,
      graphOrders: Int = 6000,
      graphCustomers: Int = 1500,
      graphSuppliers: Int = 200)

  /** Event time per CDC file: ~180 events, about 1.5 minute partitions. */
  private val TickSeconds = 90
  /** Open-loop validity: the lander may run this late, and this many files
    * may wait unapplied when the window closes. */
  private val MaxLatenessS = 0.25
  private val MaxBacklog = 2
  /** How long files landed in the window may take to become visible. */
  private val DrainS = 20.0
  /** Untimed warm-up before the window: ticks applied (`cdc_freshness`),
    * jobs run (`graph_rank`). With fewer, the first timed samples still
    * read slower than the rest. */
  private val FreshWarmTicks = 2
  private val GraphWarmJobs = 2
  /** PageRank iterations per job, as q169 runs them. */
  private val Iters = 5

  /** Resolve a table through a reader handle, then run `query` through the
    * SQL surface with analysis, planning and execution timed apart. */
  private def sqlQuery(ctx: Ctx, table: KeyedLakeTable, view: String, query: String) = {
    ctx.span("sink.read") {
      val (_, dt) = seconds(table.registerAs(view))
      ctx.add("read_resolve", dt)
    }
    val (df, ta) = seconds(ctx.span("sql.analyze")(QueryEngine.sql(ctx.spark, query)))
    val (_, tp) = seconds(ctx.span("sql.plan")(df.queryExecution.executedPlan))
    val (rows, te) = seconds(ctx.span("sql.exec")(df.collect()))
    ctx.add("sql.analyze", ta); ctx.add("sql.plan", tp); ctx.add("sql.exec", te)
    ctx.counts("result_rows") += rows.length
    rows
  }

  // ----------------------------------------------------------- cdc_freshness

  /** Open loop: one CDC file per table per tick of event time, landing
    * every `freshFileIntervalS` seconds with the two tables' files a half
    * tick apart, so most batches carry one file and pay the full per-commit
    * cost. One orchestrator applies them (`maxFiles = 2`, the reference's);
    * after every commit a reader on its own table handles queries for each
    * applied file's newest id. The first `FreshWarmTicks` ticks are
    * applied, tick by tick, checked but untimed, before the window opens:
    * the first commits of a JVM compile the merge's code and run slower
    * than the rest. */
  def cdcFreshness(ctx: Ctx, sz: Sizes): Unit = {
    val spark = ctx.spark
    val nFiles = math.ceil(ctx.seconds / sz.freshFileIntervalS).toInt + 1
    val nTicks = (nFiles + 1) / 2 + FreshWarmTicks + 1
    val c = Inputs.cdc(ctx.seed, sz.freshSnapshotEvents, nTicks, TickSeconds)
    val cdcRoot = ctx.work.resolve("cdc").toString
    Inputs.writeSnapshot(spark, c, cdcRoot)
    val staged = Inputs.stage(spark, c, ctx.work.resolve("stage"))
    ctx.phase("inputs ready")
    val lakeDir = setups(ctx, sz.setupRepeats) { dir =>
      bootstrap(ctx, cdcRoot, Inputs.Tables.map(t => t -> lakeTable(spark, dir.resolve(t))).toMap)
      dir
    }
    ctx.counts("snapshot_rows") = (c.snapshot.accounts.size + c.snapshot.txns.size).toDouble
    ctx.counts("lake_files_at_start") = Inputs.parquetFiles(lakeDir).toDouble
    val writers = Inputs.Tables.map(t => t -> lakeTable(spark, lakeDir.resolve(t))).toMap
    val readers = Inputs.Tables.map(t => t -> lakeTable(spark, lakeDir.resolve(t))).toMap
    val byName = c.files.values.flatten.map(f => (f.table, f.name.split('/').last) -> f).toMap

    val batch = ArrayBuffer.empty[Inputs.CdcFile]
    var execNs = 0L
    val orch = new CdcOrchestrator(spark, cdcRoot, ctx.work.resolve("plans").toString,
      ctx.work.resolve("tracker.json").toString, Inputs.Tables, maxFiles = 2,
      maxIntervalSeconds = 3600, execute = (t, df) => {
        val files = df.inputFiles.map(p => byName((t, p.split('/').last))).toSeq
        batch ++= files
        val (_, dt) = seconds(ctx.span("sink.upsert")(writers(t).upsert(df)))
        execNs += (dt * 1e9).toLong
        ctx.add("upsert", dt)
        ctx.counts("upsert_rows_in") += files.map(_.rows).sum
      })
    Inputs.Tables.foreach(t => orch.seed(t, TimeCodec.fromMicros(c.cutUs)))

    val taken = scala.collection.mutable.Map.empty[Inputs.CdcFile, Long]
    val visible = scala.collection.mutable.Map.empty[Inputs.CdcFile, Long]
    val pending = scala.collection.mutable.Map(Inputs.Tables.map(_ -> ArrayBuffer.empty[Inputs.CdcFile]): _*)
    val applied = scala.collection.mutable.Map(Inputs.Tables.map(_ -> -1): _*)

    /** One orchestrator run; after a commit, probe every table with
      * applied files. False when there was nothing to apply. */
    def step(): Boolean = {
      batch.clear(); execNs = 0L
      val start = System.nanoTime()
      val advanced = ctx.op("runOnce")(ctx.span("orchestrate.runOnce")(orch.runOnce())).getOrElse(false)
      ctx.counts("calls") += 1
      if (!advanced) ctx.counts("idle_calls") += 1
      else {
        ctx.add("plan", (System.nanoTime() - start - execNs) / 1e9)
        batch.foreach { f =>
          taken(f) = start
          pending(f.table) += f
          applied(f.table) = math.max(applied(f.table), f.tick)
        }
        Inputs.Tables.filter(t => pending(t).nonEmpty).foreach { t =>
          val want = pending(t).toSeq
          ctx.check(s"probe $t") {
            val rows = sqlQuery(ctx, readers(t), s"probe_$t",
              s"SELECT id, update_at FROM probe_$t WHERE id IN (${want.map(f => s"'${f.newestId}'").mkString(", ")})")
            val got = rows.map(r => r.getString(0) -> r.getString(1)).toMap
            val ok = want.forall(f => got.get(f.newestId).exists(_ >= f.newestUpdateAt))
            if (ok) {
              val now = System.nanoTime()
              want.foreach(visible(_) = now)
              pending(t).clear()
            }
            ok
          }
        }
      }
      advanced
    }

    val (warm, timed) = c.files.values.flatten.toSeq
      .sortBy(f => (f.tick, Inputs.Tables.indexOf(f.table))).partition(_.tick < FreshWarmTicks)
    warm.groupBy(_.tick).toSeq.sortBy(_._1).foreach { case (_, fs) =>
      fs.foreach(f => Inputs.land(staged(f), cdcRoot, f))
      ctx.untimed(while (step()) ())
    }
    ctx.phase("warm-up commits done")

    // The schedule is fixed before the loop starts; the lander only renames.
    val schedule = timed.take(nFiles)
    val t0 = System.nanoTime() + 200000000L
    val endNs = t0 + (ctx.seconds * 1e9).toLong
    val due = schedule.zipWithIndex.map { case (f, j) =>
      f -> (t0 + (j * sz.freshFileIntervalS * 1e9).toLong) }.toMap
    val landed = new ConcurrentHashMap[Inputs.CdcFile, java.lang.Long]()
    val lander = new Thread(() => {
      try schedule.iterator.takeWhile(due(_) < endNs).foreach { f =>
        val wait = due(f) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        Inputs.land(staged(f), cdcRoot, f)
        landed.put(f, System.nanoTime())
      } catch { case _: InterruptedException => () }
    }, "perfbench-lander")
    lander.setDaemon(true)
    lander.start()

    var backlogAtEnd = -1
    val drainEnd = endNs + (DrainS * 1e9).toLong
    // After the window closes no file lands; the loop drains what has, so
    // every landed file gets its freshness sample.
    def backlog = landed.keySet.asScala.count(!visible.contains(_))
    while (System.nanoTime() < endNs || (backlog > 0 && System.nanoTime() < drainEnd)) {
      if (backlogAtEnd < 0 && System.nanoTime() >= endNs) {
        lander.join()
        backlogAtEnd = backlog
      }
      if (!step()) Thread.sleep(10)
    }
    lander.interrupt()
    lander.join()
    if (backlogAtEnd < 0) backlogAtEnd = backlog

    def sec(ns: Long) = (ns - t0) / 1e9
    val times = schedule.filter(landed.containsKey).map { f =>
      Stats.FileTimes(sec(due(f)), sec(landed.get(f)), taken.get(f).map(sec), visible.get(f).map(sec))
    }
    val ol = Stats.openLoop(times)
    ol.freshness.foreach(ctx.add("latency", _))
    ol.queueWait.foreach(ctx.add("queue_wait", _))
    ctx.counts("landed") = times.size.toDouble
    ctx.counts("backlog_at_window_end") = backlogAtEnd.toDouble
    ctx.counts("unapplied_after_drain") = ol.backlog.toDouble
    ctx.counts("max_lateness_s") = ol.maxLateness
    // Open-loop validity: a late lander, or a backlog beyond what one more
    // batch takes, means the schedule that was measured is not the one set.
    ctx.check("open loop schedule held") {
      val ok = ol.maxLateness <= MaxLatenessS && backlogAtEnd <= MaxBacklog && ol.backlog == 0
      if (!ok)
        ctx.notes += f"open loop invalid: lander late by ${ol.maxLateness}%.3f s, " +
          s"backlog $backlogAtEnd files at window end, ${ol.backlog} never visible"
      ok
    }
    checkCdcState(ctx, c, writers, applied.toMap)
    ctx.add("bytes_per_row", Inputs.treeBytes(lakeDir).toDouble /
      (c.expectedAccounts(applied("accounts")).size + c.expectedTxns(applied("transactions")).size))
    ctx.heap.collect()
  }

  // -------------------------------------------------------------- graph_rank

  /** Closed loop of back-to-back jobs: read the (src, dst)-keyed edge
    * table, rank it with [[PageRank.run]], overwrite the ranks table and
    * select the top ranks through the SQL surface. The first jobs of a JVM
    * compile the job's code and run slower than the rest, so
    * `GraphWarmJobs` jobs run, checked but untimed, before the window
    * opens. */
  def graphRank(ctx: Ctx, sz: Sizes): Unit = {
    val spark = ctx.spark
    val stamp = lit("2000-01-01T00:00:00.000000+0000")

    val g = Inputs.graph(ctx.seed, sz.graphOrders, sz.graphCustomers, sz.graphSuppliers)
    val corpus = ctx.work.resolve("corpus").toString
    Inputs.writeGraph(spark, g, corpus)
    ctx.phase("inputs ready")
    lazy val want = Oracles.pageRank(g.edges, Iters, PageRank.Scale)

    final class Lake(dir: Path) {
      val edges = lakeTable(spark, dir.resolve("edges"), Seq("src", "dst"))
      val ranks = lakeTable(spark, dir.resolve("ranks"), Seq("node"))
      val ranksReader = lakeTable(spark, dir.resolve("ranks"), Seq("node"))
      def bytes: Long = Inputs.treeBytes(dir.resolve("edges")) + Inputs.treeBytes(dir.resolve("ranks"))
      ctx.span("sink.overwrite")(edges.overwrite(
        PageRank.corpusEdges(spark, corpus).withColumn("create_at", stamp).withColumn("update_at", stamp)))
    }

    def job(lake: Lake): Option[Double] = ctx.op("rank job") {
      val (top, dt) = seconds {
        val e = ctx.span("sink.read") {
          val (df, dt) = seconds(lake.edges.read())
          ctx.add("read_resolve", dt)
          df
        }
        val ranks = ctx.span("graph.run") {
          val (r, dt) = seconds(PageRank.run(e.select("src", "dst"), iters = Iters))
          ctx.add("graph.run", dt)
          r
        }
        ctx.span("sink.overwrite")(lake.ranks.overwrite(
          ranks.withColumn("create_at", stamp).withColumn("update_at", stamp)))
        sqlQuery(ctx, lake.ranksReader, "ranks", "SELECT node, rank FROM ranks ORDER BY rank DESC, node LIMIT 10")
      }
      // PageRank leaves its result frame cached for the caller to release.
      // clearCache drops blocks asynchronously; wait, so the next job and
      // the heap reading start from an empty block store.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      ctx.check("top ranks")(top.map(r => r.getString(0) -> r.getLong(1)).toSeq ==
        want.toSeq.sortBy { case (n, r) => (-r, n) }.take(10))
      ctx.span("oracle.compare") {
        ctx.check("all ranks") {
          lake.ranks.read().select("node", "rank").collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap == want
        }
      }
      dt
    }

    val lake = setups(ctx, sz.setupRepeats)(new Lake(_))
    ctx.counts("edge_rows") = g.edges.size.toDouble
    ctx.counts("edge_files") = Inputs.parquetFiles(ctx.work.resolve(s"setup-${sz.setupRepeats - 1}")).toDouble
    (1 to GraphWarmJobs).foreach(_ => ctx.untimed(job(lake)))
    ctx.phase(s"$GraphWarmJobs warm-up jobs done")
    val endNs = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (ctx.get("latency").isEmpty || System.nanoTime() < endNs)
      job(lake) match {
        case Some(dt) => ctx.add("latency", dt)
        case None => if (ctx.failed > 3) throw new IllegalStateException("rank jobs keep failing")
      }
    ctx.add("bytes_per_row", lake.bytes.toDouble / (g.edges.distinct.size + want.size))
    ctx.heap.collect()
  }

  val all: Map[String, (Ctx, Sizes) => Unit] = Map(
    "cdc_freshness" -> cdcFreshness,
    "graph_rank" -> graphRank)
}

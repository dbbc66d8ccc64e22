package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PageRank

/** Each workload at tiny sizes against a real local session: every oracle
  * must agree with the engine, and every metric the result line carries
  * must be named in BENCHMARK.json. */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = Paths.get(sys.props.getOrElse("perfbench.tmp", "target/test-work")).toAbsolutePath
  private lazy val spark: SparkSession = Main.session(root.resolve("session"), 2)

  override def afterAll(): Unit = spark.stop()

  private def ctx(name: String, seconds: Double, trace: Boolean): Ctx = {
    val work = root.resolve(name)
    Inputs.deleteTree(work)
    Files.createDirectories(work)
    new Ctx(spark, new Tracer(spark.sparkContext, trace, name), new HeapWatch, work, 7L, seconds, 2)
  }

  private def assertClean(c: Ctx): Unit = {
    assert(c.failed == 0, c.notes.mkString("; "))
    assert(c.attempted > 0)
    Main.EndToEnd.foreach { case (n, _) =>
      assert(Main.endToEnd(c)(n)._1 > 0, s"$n must never be 0")
    }
  }

  test("PageRank oracle matches PageRank.run on a graph with a dangling node") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d", "a" -> "b", "c" -> "d")
    val got = PageRank.run(edges.toDF("src", "dst"), iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Oracles.pageRank(edges, 4, PageRank.Scale))
    spark.catalog.clearCache()
  }

  test("cdc_freshness at tiny size: probes, end state and open loop all check out") {
    val c = ctx("fresh", seconds = 8, trace = true)
    Workloads.cdcFreshness(c, Workloads.Sizes(setupRepeats = 1, freshSnapshotEvents = 400,
      freshFileIntervalS = 4.0))
    c.tracer.settle()
    assertClean(c)
    assert(c.get("latency").size == c.counts("landed").toInt)
    assert(c.counts("landed") >= 2)
    val layers = Main.perLayer(c, Main.endToEnd(c))
    assert(layers("sink.upsert_s") > 0 && layers("orchestrate.plan_s") > 0 && layers("sql.exec_s") > 0)
    assert(layers("sink.rows_written_per_row_in") > 0)
    assert(layers("graph.run_s") == 0)
  }

  test("graph_rank at tiny size: ranks and top ranks match the oracle") {
    val c = ctx("graph", seconds = 1, trace = true)
    Workloads.graphRank(c, Workloads.Sizes(setupRepeats = 2, graphOrders = 300,
      graphCustomers = 60, graphSuppliers = 15))
    c.tracer.settle()
    assertClean(c)
    assert(c.get("setup").size == 2)
    val layers = Main.perLayer(c, Main.endToEnd(c))
    assert(layers("graph.run_s") > 0 && layers("graph.busy_frac") > 0)
    assert(layers("sink.upsert_s") == 0)
  }

  test("the metrics printed are exactly those BENCHMARK.json names") {
    val file = Paths.get(sys.props.getOrElse("perfbench.benchmark", "../BENCHMARK.json"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    def entries(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(e => e.get("name").asText() -> Option(e.get("unit")).map(_.asText()).orNull).toSeq
    }
    assert(entries("end_to_end") == Main.EndToEnd)
    assert(entries("per_layer") == Main.PerLayer)
    assert(entries("workloads").map(_._1).toSet == Workloads.all.keySet)
    val c = ctx("names", seconds = 1, trace = false)
    assert(Main.endToEnd(c).keySet == Main.EndToEnd.map(_._1).toSet)
    assert(Main.perLayer(c, Main.endToEnd(c)).keySet == Main.PerLayer.map(_._1).toSet)
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.TimeCodec
import graft.oracle.Workload
import graft.oracle.Workload.{Account, Txn}
import graft.sources.{CdcFileSource, CdcTreeWriter}

/** Seeded inputs. Everything the engine sees is a file written here; the
  * generator's in-memory log is kept only as ground truth. */
object Inputs {

  val Tables: Seq[String] = Seq("accounts", "transactions")

  /** Event time of an ISO-8601 timestamp from [[Workload.iso]], in epoch µs. */
  def micros(iso: String): Long = {
    val dt = java.time.LocalDateTime.parse(iso.substring(0, 26))
    dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + dt.getNano / 1000
  }

  /** One CDC file of one table: the rows of one tick. */
  final case class CdcFile(table: String, tick: Int, upperUs: Long, rows: Int,
      newestId: String, newestUpdateAt: String) {
    def name: String = CdcFileSource.cdcFilePath("", TimeCodec.fromMicros(upperUs)).stripPrefix("/")
  }

  /** A generated CDC stream cut into a `LOAD` snapshot (every event at or
    * before `cutUs`, as the table state at the cut) and ticks of `tickUs`
    * event time, each one file per table.
    *
    * Generator timestamps are whole milliseconds, so the ms-resolution
    * file names encode tick bounds exactly. */
  final case class Cdc(log: Workload.Log, cutUs: Long, tickUs: Long, nTicks: Int) {
    def upper(tick: Int): Long = cutUs + (tick + 1L) * tickUs
    private def tickOf(us: Long): Int = ((us - cutUs - 1) / tickUs).toInt

    val snapshot: Workload.Log = Workload.Log(
      Workload.expectedAccountState(Workload.Log(
        log.accounts.filter(a => micros(a.update_at) <= cutUs), Nil)),
      Workload.expectedTxnState(Workload.Log(
        Nil, log.txns.filter(t => micros(t.update_at) <= cutUs))))

    /** Files per table, in tick order; a tick with no events of a table
      * lands no file for it. */
    lazy val files: Map[String, Seq[CdcFile]] = {
      def mk[R](table: String, rows: Seq[R], upd: R => String, id: R => String) = {
        val byTick = rows.filter(r => micros(upd(r)) > cutUs).groupBy(r => tickOf(micros(upd(r))))
        (0 until nTicks).flatMap(k => byTick.get(k).map { rs =>
          val newest = rs.maxBy(upd)
          CdcFile(table, k, upper(k), rs.size, id(newest), upd(newest))
        })
      }
      Map(
        "accounts" -> mk[Account]("accounts", log.accounts, _.update_at, _.id),
        "transactions" -> mk[Txn]("transactions", log.txns, _.update_at, _.id))
    }

    /** Ground truth after every tick up to and including `tick` applied. */
    def expectedAccounts(throughTick: Int): Seq[Account] =
      Workload.expectedAccountState(Workload.Log(
        log.accounts.filter(a => micros(a.update_at) <= upper(throughTick)), Nil))
    def expectedTxns(throughTick: Int): Seq[Txn] =
      Workload.expectedTxnState(Workload.Log(
        Nil, log.txns.filter(t => micros(t.update_at) <= upper(throughTick))))
  }

  /** Generate `snapshotEvents` events before the cut and `nTicks` ticks of
    * `tickSeconds` event time after it (the generator spaces events 0.5 s
    * apart on average). */
  def cdc(seed: Long, snapshotEvents: Int, nTicks: Int, tickSeconds: Int): Cdc = {
    val tickUs = tickSeconds * 1000000L
    val perTick = tickSeconds * 2
    val log = Workload.generate(seed, snapshotEvents + (nTicks + 1) * perTick)
    val times = (log.accounts.map(_.update_at) ++ log.txns.map(_.update_at)).map(micros).sorted
    val cut = times(snapshotEvents - 1)
    val full = Cdc(log, cut, tickUs, nTicks)
    // drop events beyond the last tick so ground truth ends where files end
    val end = full.upper(nTicks - 1)
    full.copy(log = Workload.Log(
      log.accounts.filter(a => micros(a.update_at) <= end),
      log.txns.filter(t => micros(t.update_at) <= end)))
  }

  /** Write the `LOAD` snapshot of both tables under `cdcRoot/<table>/`. */
  def writeSnapshot(spark: SparkSession, c: Cdc, cdcRoot: String): Unit = {
    import spark.implicits._
    CdcTreeWriter.writeLoadFile(spark, c.snapshot.accounts.toDF(), s"$cdcRoot/accounts")
    CdcTreeWriter.writeLoadFile(spark, c.snapshot.txns.toDF(), s"$cdcRoot/transactions")
  }

  /** Write every tick's file of both tables into `stageRoot/<table>/`, one
    * Spark job per table, named by the tick's commit-time upper bound.
    * Returns the staged path of each file. */
  def stage(spark: SparkSession, c: Cdc, stageRoot: Path): Map[CdcFile, Path] = {
    import spark.implicits._
    def tickCol(df: DataFrame) = df.withColumn("__tick",
      ((unix_micros(to_timestamp(substring(col("update_at"), 1, 26),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")) - lit(c.cutUs) - lit(1L)) / lit(c.tickUs)).cast("int"))
    val frames = Map(
      "accounts" -> c.log.accounts.filter(a => micros(a.update_at) > c.cutUs).toDF(),
      "transactions" -> c.log.txns.filter(t => micros(t.update_at) > c.cutUs).toDF())
    frames.toSeq.flatMap { case (table, df) =>
      val tmp = stageRoot.resolve(s"_write_$table")
      tickCol(df).repartition(col("__tick")).write.partitionBy("__tick").parquet(tmp.toString)
      val out = c.files(table).map { f =>
        val dir = tmp.resolve(s"__tick=${f.tick}")
        val part = Files.list(dir).iterator().asScala
          .find(p => p.getFileName.toString.startsWith("part-") && p.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no staged part for $table tick ${f.tick}"))
        val target = stageRoot.resolve(table).resolve(s"${f.tick}.parquet")
        Files.createDirectories(target.getParent)
        Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
        f -> target
      }
      deleteTree(tmp)
      out
    }.toMap
  }

  /** Land one staged file into the CDC tree by atomic rename. */
  def land(staged: Path, cdcRoot: String, f: CdcFile): Unit = {
    val target = java.nio.file.Paths.get(cdcRoot, f.table, f.name)
    Files.createDirectories(target.getParent)
    Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Orders and lineitems for [[graft.graph.PageRank.corpusEdges]], shaped
    * like the TPC-H tables it joins: `customers` customers, `suppliers`
    * suppliers, and 1–7 lineitems per order. Returns the edge list the
    * corpus rule derives, as ground truth. */
  final case class Graph(orders: Seq[(Long, Long)], lineitems: Seq[(Long, Long)]) {
    lazy val edges: Seq[(String, String)] = {
      val cust = orders.toMap
      lineitems.flatMap { case (ok, sk) =>
        val c = s"c${cust(ok)}"
        val s = s"s$sk"
        if (sk % 3 == 0) Seq(c -> s, s -> c) else Seq(c -> s)
      }
    }
  }

  def graph(seed: Long, nOrders: Int, customers: Int, suppliers: Int): Graph = {
    val rnd = new scala.util.Random(seed)
    val orders = (1 to nOrders).map(o => o.toLong -> (1 + rnd.nextInt(customers)).toLong)
    val li = orders.flatMap { case (o, _) =>
      Seq.fill(1 + rnd.nextInt(7))(o -> (1 + rnd.nextInt(suppliers)).toLong)
    }
    Graph(orders, li)
  }

  def writeGraph(spark: SparkSession, g: Graph, dir: String): Unit = {
    import spark.implicits._
    g.orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    g.lineitems.toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def parquetFiles(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
    finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

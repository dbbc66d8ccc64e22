package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Stage counters of the Spark jobs one span ran, summed over its tasks. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var outputRecords = 0L
  /** (submitted, completed) epoch-ms of every stage that ran. */
  val stageIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Attributes scheduler events to the benchmark span whose job group was
  * active when the job started. Only jobs whose group the [[Tracer]] set
  * are counted. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val counters = new ConcurrentHashMap[Int, Counters]()
  @volatile var callbackNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  private def of(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .foreach { g =>
        val span = g.stripPrefix(Tracer.GroupPrefix).toInt
        e.stageIds.foreach(stageSpan.put(_, span))
        val c = of(span)
        c.synchronized(c.jobs += 1)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null && stageSpan.containsKey(e.stageId)) {
      val c = of(stageSpan.get(e.stageId))
      c.synchronized {
        c.tasks += 1
        c.executorRunMs += m.executorRunTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    if (stageSpan.containsKey(info.stageId))
      for (s <- info.submissionTime; d <- info.completionTime) {
        val c = of(stageSpan.get(info.stageId))
        c.synchronized(c.stageIntervals += ((s, d)))
      }
  }
}

/** One span: a call into one layer, timed from the benchmark's own code. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Disabled, [[span]] only runs its body, so the untraced
  * run does exactly the same engine work with no bookkeeping. Enabled, each
  * span sets a Spark job group so [[SpanListener]] can attribute stage
  * counters to it; spans stay in memory until [[writeJsonl]]. */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  private val ids = new AtomicInteger(0)
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  /** Epoch-ns minus monotonic-ns, to line spans up with stage timestamps. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set((id, name) :: outer)
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        outer.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(Tracer.GroupPrefix + pid, pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        done.synchronized(done += Span(id, outer.headOption.fold(0)(_._1), name, runId, t0, t1))
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def settle(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def spans: Seq[Span] = done.synchronized(done.toList)

  def counters(s: Span): Counters =
    listener.flatMap(l => Option(l.counters.get(s.id))).getOrElse(new Counters)

  /** Wall time of the span during which none of its stages ran: the
    * driver-side share (planning, listing, commit, scheduling gaps). */
  def driverSeconds(s: Span): Double = {
    val lo = (s.startNs + epochOffsetNs) / 1e6
    val hi = (s.endNs + epochOffsetNs) / 1e6
    val clipped = counters(s).stageIntervals.toSeq
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** Self time of a span: its duration minus what its child spans cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  def listenerSeconds: Double = listener.fold(0.0)(_.callbackNs / 1e9)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = counters(s)
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.runId}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        f""""executor_run_ms":${c.executorRunMs},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
        f""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        f""""spill_bytes":${c.spillBytes},"input_records":${c.inputRecords},"output_records":${c.outputRecords}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Heap in use right after a full collection, from the JVM's GC
  * notifications. Only the full collections the benchmark requests at the
  * end of a run count: after a young collection, or a full one the
  * collector starts mid-job, the reading would follow the collector's
  * schedule rather than what the program retains. */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var maxBytes = 0L
  @volatile private var lastBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val handler = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause == "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          lastBytes = used
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(handler, null, null))

  /** Two full collections a second apart: after the first, Spark's
    * ContextCleaner drops the blocks and broadcasts of unreachable RDDs;
    * the second measures what is left. Notifications arrive
    * asynchronously. */
  def collect(): Unit = {
    System.gc(); Thread.sleep(1000)
    System.gc(); Thread.sleep(100)
    synchronized { if (lastBytes > maxBytes) maxBytes = lastBytes }
  }

  def maxLiveMb: Double = maxBytes / (1024.0 * 1024.0)

  def close(): Unit = emitters.foreach(e =>
    scala.util.Try(e.removeNotificationListener(handler)))
}

package etlbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the id shared by every span of
  * one measured operation (-1 outside measured operations). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def layer: String = Spans.layerOf(name)
}

/** Span arithmetic: a span's self time is its duration minus the part of
  * its interval that its children cover. */
object Spans {
  /** The layer is the name up to the first dot: "sink.dualWrite" → "sink". */
  def layerOf(name: String): String = name.takeWhile(_ != '.')

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(kids, s.startNs, s.endNs))
    }.toMap
  }
}

/** Records spans in memory; a no-op when tracing is off. Single-threaded:
  * the benchmark's closed-loop client is the only caller. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  var currentOp: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
      }
    }
}

/** Per-stage and per-job execution metrics from the benchmark's own
  * listener, kept with their wall-clock times so they can be attributed to
  * the operation whose interval contains them. */
final class SparkMeter extends SparkListener {
  final case class Job(startMs: Long, var endMs: Long)
  final case class Stage(submitMs: Long, tasks: Int, runMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long,
      inputBytes: Long, inputRows: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.ArrayBuffer[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(
      i.submissionTime.getOrElse(i.completionTime.getOrElse(0L)), i.numTasks,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
  }
}

/** One measured operation: an ETL day, a query execution, a curation key. */
final case class OpRec(id: Int, kind: String, name: String, startMs: Long,
    endMs: Long, wallNs: Long, cpuNs: Long, ok: Boolean)

/** Times operations and layers, counts per-layer work, and (when traced)
  * records spans and Spark metrics. Counters only accumulate while
  * `measuring` is set, so set-up and output checks never leak into them. */
final class Meter(val traced: Boolean) {
  val tracer = new Tracer(traced)
  val spark: Option[SparkMeter] = if (traced) Some(new SparkMeter) else None
  val counters = mutable.LinkedHashMap[String, Double]()
  val ops = mutable.ArrayBuffer[OpRec]()
  /** Operations run before measuring began: the cold pass. */
  val coldOps = mutable.ArrayBuffer[OpRec]()
  var measuring = false
  private var nextOp = 1

  def add(name: String, v: Double): Unit =
    if (measuring) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Call into a layer: a span named `span`, its wall time added to
    * `counter` (when given) and a failure counted against the layer. */
  def layer[A](span: String, counter: String = null)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(span)(body)
    catch {
      case e: Throwable =>
        add(Spans.layerOf(span) + ".failed", 1)
        throw e
    } finally if (counter != null) add(counter, (System.nanoTime() - t0) / 1e9)
  }

  /** One measured operation; a thrown exception marks it failed. */
  def op(kind: String, name: String)(body: => Unit): OpRec = {
    val id = nextOp
    nextOp += 1
    tracer.currentOp = id
    val ms0 = System.currentTimeMillis()
    val c0 = ThreadCpu.totalNs
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(s"op.$kind")(body); true }
      catch {
        case e: Throwable =>
          System.err.println(s"op $kind/$name failed: $e")
          false
      } finally tracer.currentOp = -1
    val rec = OpRec(id, kind, name, ms0, System.currentTimeMillis(),
      System.nanoTime() - t0, ThreadCpu.totalNs - c0, ok)
    if (measuring) ops += rec else coldOps += rec
    rec
  }
}

/** CPU time of this JVM's Java threads: Spark's driver, task, scheduler
  * and listener threads and the benchmark's own. HotSpot's JIT compiler
  * and collector threads are not among them, so their time, which falls as
  * the JVM warms up and not with the program's work, is left out.
  *
  * A thread's time is only readable while it lives, so a sampler reads
  * every thread each 20 ms and keeps the last reading of each: a thread
  * that ends inside an operation (a streaming query's, a broadcast's) keeps
  * all but its last 20 ms. Java thread ids are never reused. */
object ThreadCpu {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val last = mutable.HashMap[Long, Long]()
  private var total = 0L

  private val sampler = new Thread("etlbench-thread-cpu") {
    setDaemon(true)
    override def run(): Unit =
      while (true) { totalNs; Thread.sleep(20) }
  }
  require(mx.isThreadCpuTimeSupported, "this JVM cannot read per-thread CPU time")
  mx.setThreadCpuTimeEnabled(true)
  sampler.start()

  /** Total CPU time of every Java thread seen so far, the sampler's own
    * excepted. */
  def totalNs: Long = synchronized {
    val ids = mx.getAllThreadIds
    val cpu = mx.getThreadCpuTime(ids)
    var i = 0
    while (i < ids.length) {
      if (cpu(i) >= 0 && ids(i) != sampler.getId) {
        total += cpu(i) - last.getOrElse(ids(i), 0L)
        last(ids(i)) = cpu(i)
      }
      i += 1
    }
    total
  }
}

object Jvm {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Live heap after full collections, in MiB. The second collection
    * frees what the first made unreachable (finalized and cleaned state). */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds since this JVM started (the launcher's clock). */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of work at a layer boundary. Times are both the
  * monotonic clock (durations) and the wall clock in ms (to line spans
  * up with Spark listener events, which carry wall-clock times). */
final case class Span(id: Int, name: String, parent: Int, t0: Long,
    t1: Long, wall0: Long, wall1: Long, compiles: Long) {
  def ms: Double = (t1 - t0) / 1e6
}

/** Process-wide readings the benchmark takes around spans and windows. */
object Probe {
  import scala.jdk.CollectionConverters._

  /** Janino compiles so far (exact: a histogram count, not an estimate). */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def loadAvg(): Seq[Double] = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
    finally src.close()
  }

  /** CPU seconds this process has used, all threads. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds the host's hypervisor held back from this machine's CPUs
    * (the `steal` column of /proc/stat, in 1/100 s ticks), summed. */
  def stealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().collectFirst {
      case l if l.startsWith("cpu ") =>
        l.split("\\s+").lift(8).map(_.toDouble / 100.0).getOrElse(0.0)
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Regular files and their bytes under `dir` (0, 0 if absent). */
  def walk(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (1L, dir.length())
    else Option(dir.listFiles()).getOrElse(Array.empty)
      .map(walk).foldLeft((0L, 0L)) { case ((a, b), (c, d)) =>
        (a + c, b + d) }
}

/** Span recorder. Off (the untraced run) it only runs the body. On, it
  * records name, start, end, parent and the exact codegen-compile delta
  * of every call the benchmark makes into a layer; spans stay in memory
  * and are written out once, at exit. Single client thread. */
final class Tracer(val on: Boolean, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = Probe.compiles()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, parent, t0, t1, w0,
          System.currentTimeMillis(), Probe.compiles() - c0)
      }
    }

  /** Self time per span name (ms) over spans starting at or after
    * `fromNs`: each span's duration minus the union of its children. */
  def selfMs(fromNs: Long): Map[String, Double] = {
    val in = spans.filter(_.t0 >= fromNs)
    val kids = in.groupBy(_.parent)
    in.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        s.ms - Intervals.union(kids.getOrElse(s.id, Nil)
          .map(k => (k.t0, k.t1))) / 1e6
      }.sum
    }
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.t0},"end_ns":${s.t1},""" +
        s""""start_ms":${s.wall0},"end_ms":${s.wall1},""" +
        s""""compiles":${s.compiles}}""")
    } finally w.close()
  }
}

object Intervals {
  /** Total length covered by a set of [a, b) intervals. */
  def union(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** `iv` clipped to [lo, hi). */
  def clip(iv: Iterable[(Long, Long)], lo: Long, hi: Long)
      : Iterable[(Long, Long)] =
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(p => p._2 > p._1)
}

/** Spark's public listener bus, read from outside the program: job
  * intervals, stage and task counts, task metrics, and the Catalyst
  * phase times each finished query execution reports. Registered only
  * in the traced run. */
final class ExecListener extends SparkListener with QueryExecutionListener {
  import ExecListener._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Long] // submission times
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[Phase]
  @volatile private var lastEvent = System.currentTimeMillis()
  @volatile private var open = 0

  private def touch(): Unit = lastEvent = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L); open += 1; touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time); open -= 1; touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages += e.stageInfo.submissionTime.getOrElse(
        System.currentTimeMillis())
      touch()
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += (if (m == null) Task(e.taskInfo.finishTime, e.taskInfo.successful,
      0, 0, 0, 0, 0)
    else Task(e.taskInfo.finishTime, e.taskInfo.successful,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    touch()
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (n, p) =>
      phases += Phase(n, p.startTimeMs, p.durationMs)
    }
    touch()
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution,
      e: Exception): Unit = record(qe)

  /** The bus delivers asynchronously: wait until every started job has
    * ended and no event arrived for a quiet interval (bounded). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
        (open > 0 || System.currentTimeMillis() - lastEvent < 400))
      Thread.sleep(50)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object ExecListener {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(finish: Long, ok: Boolean, cpuNs: Long,
      shufW: Long, shufR: Long, spill: Long, input: Long)
  final case class Phase(name: String, start: Long, ms: Long)
}

package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run: the session, the tracer, the seed and
  * the run's scratch and data directories (all inside the checkout). */
final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long,
    runDir: java.io.File, dataRoot: java.io.File)

/** One latency sample: what kind of op, how long, and when (wall ms, to
  * attribute Spark listener events to it). */
final case class Sample(kind: String, ms: Double, wall0: Long, wall1: Long)

/** Ops, failures and check time of a stretch of cycles. Checks run
  * outside op timing, and their time is subtracted from the window. */
final class OpLog {
  val samples = ArrayBuffer.empty[Sample]
  val errors = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var checkNanos = 0L

  /** Time one op; a throw counts as a failed op. */
  def op[A](kind: String)(body: => A): Option[A] = {
    attempted += 1
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      samples += Sample(kind, (System.nanoTime() - t0) / 1e6, w0,
        System.currentTimeMillis())
      Some(r)
    } catch {
      case e: Throwable =>
        fail(s"$kind: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
        None
    }
  }

  /** Run an untimed correctness check; false or a throw is a failure. */
  def check(what: String)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Throwable =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
    checkNanos += System.nanoTime() - t0
    if (!ok) fail(s"check failed: $what")
    ok
  }

  /** A step of a cycle that is not an op (it counts toward the window
    * but is not a latency sample); a throw is a failure. */
  def step[A](what: String)(body: => A): Option[A] =
    try Some(body) catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  /** Untimed bookkeeping that must not count against the window. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally checkNanos += System.nanoTime() - t0
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg.take(400)
    System.err.println(s"[perfbench] FAIL $msg")
  }
}

trait Workload {
  /** Untimed warm-up cycles after the cold cycle. */
  def warmupCycles: Int

  /** The measured window runs whole cycles until it reaches `--seconds`,
    * and at least this many. */
  def minCycles: Int = 1

  /** Generate this run's inputs from the seed (timed as set-up). */
  def generate(ctx: Ctx): Unit

  /** One cycle of ops, each checked. */
  def cycle(ctx: Ctx, log: OpLog): Unit

  /** Workload-specific figures over the measured samples: per-layer
    * metrics (`layer`, reported by the traced run) and record-only
    * extras. */
  def layer(ctx: Ctx, window: Seq[Sample], cycles: Int, fromNs: Long)
      : Map[String, Double] = Map.empty
  def extras(cycles: Int): Map[String, Double] = Map.empty
}

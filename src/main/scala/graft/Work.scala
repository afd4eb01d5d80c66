package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The work one measured body did on a session, as exact deltas — the
  * single per-query statistics record Bench, RunOne, the scale probes
  * and the shuffle/plan specs all read.
  *
  * `plans` keeps each execution's RDDs, shuffles and broadcasts
  * reachable (so the context cleaner cannot free them): hold a Work
  * only while reading it, and keep the scalars when records outlive
  * the query.
  *
  * @param wallS             wall seconds of the body alone
  * @param gcMs              JVM garbage-collector time (all collector beans)
  * @param compiles          Janino codegen compiles (exact counter delta)
  * @param jobs              Spark jobs started
  * @param shuffleWriteBytes shuffle bytes written by successful tasks
  * @param outputBytes       output bytes written by successful tasks
  * @param plans             executed plan of each successful SQL
  *                          execution, in completion order
  * @param observed          `Dataset.observe` metrics by name, merged
  *                          over every execution */
final case class Work(wallS: Double, gcMs: Long, compiles: Long, jobs: Int,
    shuffleWriteBytes: Long, outputBytes: Long, plans: Seq[SparkPlan],
    observed: Map[String, Row])

object Work {

  /** Run `body` and return its value with the [[Work]] it did. The
    * listener bus is drained before the clock starts and again after it
    * stops, so every event of `body`'s jobs is counted (a sleep can lose
    * trailing events on a loaded host) and none of an earlier body's.
    * The caches and checkpoints `body` tracked are released afterwards
    * ([[graft.operators.Dedup.scoped]]) even when `body` throws, which
    * then rethrows; ones tracked before it, such as a cached corpus
    * that several measured batches read, are kept. One measuring thread
    * per session: a concurrent query on the same session would be
    * counted too. */
  def measure[T](spark: SparkSession)(body: => T): (T, Work) =
    graft.operators.Dedup.scoped(spark) {
      val sc = spark.sparkContext
      val c = new Collector
      GraftSqlBridge.flushListeners(sc)
      sc.addSparkListener(c)
      spark.listenerManager.register(c)
      try {
        val gc0 = gcMillis()
        val compiles0 = compiles()
        val t0 = System.nanoTime()
        val out = body
        val wallS = (System.nanoTime() - t0) / 1e9
        val gcMs = gcMillis() - gc0
        val compiled = compiles() - compiles0
        GraftSqlBridge.flushListeners(sc)
        (out, c.synchronized {
          Work(wallS, gcMs, compiled, c.jobs, c.shuffle, c.output,
            c.plans.toVector, c.observed)
        })
      } finally {
        spark.listenerManager.unregister(c)
        sc.removeSparkListener(c)
      }
    }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  private final class Collector extends SparkListener
      with QueryExecutionListener {
    var jobs = 0
    var shuffle = 0L
    var output = 0L
    val plans = ArrayBuffer.empty[SparkPlan]
    var observed = Map.empty[String, Row]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo.successful && e.taskMetrics != null) synchronized {
        shuffle += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        output += e.taskMetrics.outputMetrics.bytesWritten
      }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      plans += qe.executedPlan
      observed ++= qe.observedMetrics
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
}

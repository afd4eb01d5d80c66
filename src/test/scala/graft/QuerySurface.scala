package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{WindowGroupLimit, Window => LWindow}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.athenaeum.SparkSpec.unpartitionedWindows

/** One pass over EVERY SparkEntry query, shared by PlanHygieneSpec and
  * SmokeAllQueriesSpec: each query is built once, its plans are audited
  * from that DataFrame's own QueryExecution, the same QueryExecution is
  * executed, and the graft caches and checkpoints are released before
  * the next query. The specs' tests each read one field of the per-query
  * [[QuerySurface.Record]]; the pass runs once per data dir per JVM. */
object QuerySurface {

  /** What the plan audits saw for one query.
    * @param nestedLoop    BroadcastNestedLoopJoin or CartesianProduct in
    *                      the physical plan
    * @param globalWindows unpartitioned window nodes, including inside
    *                      cached subtrees
    * @param scanCounts    leaf scans per base relation
    *                      ([[graft.plans.PlanAudit.scanCounts]]) */
  final case class Audit(nestedLoop: Boolean, globalWindows: Seq[String],
      scanCounts: Map[String, Int])

  /** @param audit    the plan audits, or the error that building or
    *                 planning the query failed with
    * @param runError the error executing the query failed with, if any
    * @param drift    session state the query left changed: conf keys,
    *                 `spark.experimental` optimizations/strategies and
    *                 persisted RDDs left after the release
    * @param duplicateBlocks BlockManager "already exists on this machine"
    *                 warnings while the query ran: two tasks raced to
    *                 cache the same partition */
  final case class Record(audit: Either[String, Audit],
      runError: Option[String], drift: Seq[String], duplicateBlocks: Int)

  private val passes = scala.collection.mutable.Map
    .empty[String, Seq[(String, Record)]]

  /** Every query's record, sorted by query name. */
  def at(spark: SparkSession, dir: String): Seq[(String, Record)] =
    synchronized {
      passes.getOrElseUpdate(dir, DuplicateBlocks.counting {
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          name -> record(spark, fn(spark, dir))
        }
      })
    }

  private def record(spark: SparkSession, build: => DataFrame): Record = {
    val before = sessionState(spark)
    val dupsBefore = DuplicateBlocks.seen.get
    val (audit, runError) =
      try {
        val df = build
        val audit =
          try Right(auditOf(df))
          catch { case e: Throwable => Left(e.getMessage) }
        val runError =
          try { df.collect(); None }
          catch { case e: Throwable => Some(e.getMessage) }
        (audit, runError)
      } catch { case e: Throwable => (Left(e.getMessage), Some(e.getMessage)) }
      finally graft.operators.Dedup.releaseAll(spark)
    Record(audit, runError, drift(before, sessionState(spark)),
      DuplicateBlocks.seen.get - dupsBefore)
  }

  /** Counts BlockManager's duplicate-block warnings through an appender
    * on that one logger, at WARN whatever the session's log level. */
  private object DuplicateBlocks {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

    val seen = new java.util.concurrent.atomic.AtomicInteger
    private val logger = "org.apache.spark.storage.BlockManager"

    def counting[T](body: => T): T = {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val appender = new AbstractAppender("duplicate-blocks", null, null,
          true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage
              .contains("already exists on this machine")) seen.incrementAndGet()
      }
      appender.start()
      val config = new LoggerConfig(logger, Level.WARN, false)
      config.addAppender(appender, Level.WARN, null)
      ctx.getConfiguration.addLogger(logger, config)
      ctx.updateLoggers()
      try body
      finally {
        ctx.getConfiguration.removeLogger(logger)
        ctx.updateLoggers()
        appender.stop()
      }
    }
  }

  private def auditOf(df: DataFrame): Audit = {
    val qe = df.queryExecution
    val plan = qe.executedPlan.toString
    Audit(
      plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"),
      qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => Seq("Window")
        case w: WindowGroupLimit if w.partitionSpec.isEmpty =>
          Seq("WindowGroupLimit")
        case im: InMemoryRelation => unpartitionedWindows(im.cachedPlan)
      }.flatten,
      graft.plans.PlanAudit.scanCounts(df))
  }

  private def sessionState(spark: SparkSession): Map[String, Any] =
    spark.conf.getAll.map { case (k, v) => s"conf $k" -> v } ++ Map(
      "extraOptimizations" -> spark.experimental.extraOptimizations,
      "extraStrategies" -> spark.experimental.extraStrategies,
      "persistent RDDs" -> spark.sparkContext.getPersistentRDDs.keySet)

  private def drift(a: Map[String, Any], b: Map[String, Any]): Seq[String] =
    (a.keySet ++ b.keySet).toSeq.sorted.collect {
      case k if a.get(k) != b.get(k) =>
        s"$k: ${a.getOrElse(k, "<unset>")} -> ${b.getOrElse(k, "<unset>")}"
    }
}

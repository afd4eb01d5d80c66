package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Plan-hygiene instrumentation: how many times does a query's optimized
  * plan SCAN each base relation? A relation appearing N≥3 times almost
  * always means a multi-consumer subtree re-executes instead of being
  * persisted — the constant-factor waste that is disqualifying at 100 TB
  * (4× a 100 TB scan is 300 TB of wasted IO). Cached subtrees surface as
  * `InMemoryRelation` leaves, so a correctly persist-barriered fan-out
  * counts its base scan ONCE regardless of how many consumers sit above
  * the barrier.
  */
object PlanAudit {

  /** Leaf parquet scans per relation root path in the optimized logical
    * plan. `collectLeaves` stops at `InMemoryRelation`, so persisted
    * subtrees do not leak their inner scans into the count. */
  def scanCounts(df: DataFrame): Map[String, Int] =
    df.queryExecution.optimizedPlan.collectLeaves()
      .flatMap {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName)
          case _ => Nil
        }
        case _ => Nil
      }
      .groupBy(identity).map { case (p, xs) => p -> xs.size }
}

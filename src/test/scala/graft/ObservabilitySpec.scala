package graft

import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec
import graft.sources.Tables

/** Pipeline observability without a second scan: `Dataset.observe`
  * attaches named aggregate metrics that are computed AS the job runs
  * (one pass — the 100 TB alternative to a separate count/quality job)
  * and delivered to a QueryExecutionListener ([[Work.observed]]). The
  * production shape: row counts and quality-gate tallies recorded on
  * the write path itself, alerting fed from the listener.
  */
class ObservabilitySpec extends SparkSpec {

  test("observe() delivers row/null/sum metrics in the same pass") {
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    val observed = orders.observe("ingest_metrics",
      count(lit(1)).as("n_rows"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
        .as("n_nonpositive"),
      max(col("o_orderkey")).as("max_key"))
    val (total, work) = Work.measure(spark)(observed.count())
    assert(work.observed.contains("ingest_metrics"),
      "observed metrics never delivered")
    val m = work.observed("ingest_metrics")
    assert(m.getAs[Long]("n_rows") == total)
    assert(m.getAs[Long]("n_nonpositive") == 0L)
    assert(m.getAs[Long]("max_key") ==
      orders.agg(max("o_orderkey")).head.getLong(0))
  }
}

package graft.operators

import org.apache.spark.sql.functions._
import graft.athenaeum.SparkSpec

/** AQE skew-join demonstration: a hot key that floods one shuffle
  * partition gets split at runtime by adaptive execution — the zero-code
  * alternative to manual salting (ScaleJoins.saltedJoin covers engines /
  * layouts where AQE can't help). */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits a skewed partition at runtime (skew=true in plan)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      // 200k rows on key 0, a handful elsewhere -> one hot partition
      val skewed = spark.range(0, 200000)
        .select((col("id") % 1000 * 0 + 0).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("pay"))
        .union(spark.range(0, 1000).select((col("id") % 50 + 1).as("k"),
          col("id").cast("string").as("pay")))
      val dim = spark.range(0, 51).select(col("id").as("k"),
        concat(lit("dim"), col("id")).as("d"))
      val joined = skewed.join(dim, "k")
      // materialize THIS QueryExecution so the adaptive plan finalizes
      // (count() would execute a different one and leave this unfinal)
      assert(joined.collect().length == 201000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skew join:\n${plan.take(3000)}")
    }
  }
}

package graft.sources

import graft.athenaeum.SparkSpec
import org.apache.spark.sql.functions._

/** Partitioned/bucketed parquet sink: hive layout, dynamic partition
  * overwrite, partition pruning on read-back. */
class GraftSinkSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("partitioned write: hive layout, pruning, dynamic overwrite") {
    import spark.implicits._
    val out = java.nio.file.Files
      .createTempDirectory("graft-sink").toString + "/events"
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    GraftSink.writePartitioned(ev, out, Seq("event_type"))
    // hive directory layout
    val parts = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts.forall(_.startsWith("event_type=")) && parts.size > 1)
    // read-back round trip
    val back = spark.read.parquet(out)
    assert(back.count() == ev.count())
    // partition pruning reaches the scan
    val pruned = back.filter(col("event_type") === "click")
    val scan = pruned.queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"), scan)
    // dynamic overwrite: rewriting ONE partition leaves the others alone
    val nClicks = back.filter("event_type = 'click'").count()
    val nTotal = back.count()
    GraftSink.writePartitioned(
      ev.filter("event_type = 'click'").limit(10), out, Seq("event_type"))
    val after = spark.read.parquet(out)
    assert(after.filter("event_type = 'click'").count() == 10)
    assert(after.count() == nTotal - nClicks + 10)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the 100 TB shape: fact partitioned by a dim key on disk, dim filter
    // only known at runtime — DPP turns the dim side into a runtime
    // subquery filter on the fact's PARTITION COLUMN, so the fact scan
    // reads only the matching partition directories instead of the table
    val out = java.nio.file.Files
      .createTempDirectory("graft-dpp").toString + "/orders"
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    GraftSink.writePartitioned(orders, out, Seq("o_orderpriority"))
    val fact = spark.read.parquet(out)
    // small dim keyed by the partition column, filtered at runtime
    val dim = orders.select(col("o_orderpriority").as("p"))
      .distinct().filter(col("p") < "3")
    val joined = fact.join(dim, col("o_orderpriority") === col("p"))
    val scan = joined.queryExecution.executedPlan
      .collectLeaves().map(_.toString).find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(scan.contains("dynamicpruning"), scan)
    // and the result is correct: only the filtered priorities survive
    val pris = joined.select(col("o_orderpriority")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(pris.nonEmpty && pris.forall(_ < "3"))
  }

  test("bucketed write: co-located join without an exchange") {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    GraftSink.writeBucketed(ev, "sink_ev_a", 4, Seq("user_id"))
    GraftSink.writeBucketed(ev, "sink_ev_b", 4, Seq("user_id"))
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("sink_ev_a").groupBy("user_id").count()
        .join(spark.table("sink_ev_b").groupBy("user_id").count(), "user_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(1500))
      assert(!plan.contains("Exchange"), plan.take(1500))
    } finally {
      spark.sql("DROP TABLE IF EXISTS sink_ev_a")
      spark.sql("DROP TABLE IF EXISTS sink_ev_b")
    }
  }
}

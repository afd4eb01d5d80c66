package graft.operators

import org.apache.spark.sql.functions._
import graft.athenaeum.SparkSpec
import graft.sources.Tables

/** Plan-level assertions for the scale techniques: salting preserves
  * join results; bucketed tables join with no Exchange; partitioned
  * writes prune at the scan. */
class ScaleJoinsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the rows of the plain join") {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part")
    val plain = li.join(part, li("l_partkey") === part("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_partkey", "p_brand")
    val salted = ScaleJoins.saltedJoin(
        li.withColumnRenamed("l_partkey", "p_partkey"), part,
        "p_partkey", buckets = 8, saltCol = "l_orderkey")
      .select("l_orderkey", "l_linenumber", "p_partkey", "p_brand")
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("bucketed tables join without a shuffle on either side") {
    ScaleJoins.writeBucketed(
      Tables(spark, dir, "orders"), "orders_b", "o_custkey", 4)
    ScaleJoins.writeBucketed(
      Tables(spark, dir, "customer"), "customer_b", "c_custkey", 4)
    // disable broadcast so the join would otherwise shuffle
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == 1500)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // At 100 TB a selective dim-side filter should cut the fact-side
    // shuffle BEFORE the join via Spark's runtime row-level bloom filter;
    // production thresholds (10 GB probe-side scan) are lowered to fire on
    // test data.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables(spark, dir, "lineitem")
      val part = Tables(spark, dir, "part").filter(col("p_size") === 1)
      val joined = li.join(part, li("l_partkey") === part("p_partkey"))
        .select("l_orderkey", "p_brand")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"no bloom filter in:\n$plan")
      val expected = li.join(
        Tables(spark, dir, "part").filter("p_size = 1"),
        li("l_partkey") === col("p_partkey")).count()
      assert(joined.count() == expected)
    }
  }

  test("repartitionByRange yields range partitioning (clustered layout)") {
    // the write-time layout for range-pruned columnar files: co-locate
    // value ranges so min/max row-group stats actually cut IO
    val li = Tables(spark, dir, "lineitem")
      .repartitionByRange(4, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
    val plan = li.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(l_shipdate"), plan)
    assert(li.count() == Tables(spark, dir, "lineitem").count())
  }

  test("partitioned write prunes partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("pw").toString + "/li"
    ScaleJoins.writePartitioned(
      Tables(spark, dir, "lineitem"), out, Seq("l_returnflag"))
    val read = spark.read.parquet(out).filter(col("l_returnflag") === "R")
    val scan = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"no partition filter in:\n$scan")
    assert(read.count() ==
      Tables(spark, dir, "lineitem").filter("l_returnflag = 'R'").count())
  }
}

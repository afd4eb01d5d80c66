package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec
import graft.operators.Dedup

/** Differential spec: every ParallelRank helper must equal the naive
  * single-partition window it replaces, row for row — including the
  * NTILE remainder-bucket convention and the exclusive-max NULL head.
  * The naive side here is allowed to use the unpartitioned window the
  * production guard bans: it is the semantic oracle. */
class ParallelRankSpec extends SparkSpec {

  // deterministic pseudo-random frame with duplicate v values (ties are
  // broken by id, exercising the total-order contract), 5 partitions of
  // skewed sizes
  private def frame(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, ((i * 2654435761L) % 97L + 97L) % 97L)
    }.toDF("id", "v").repartition(5)
  }

  // The naive sides below MUST stay naive: the session's GlobalWindowRule
  // would rewrite them into the very ParallelRank shape under test (a
  // differential spec comparing an implementation against itself proves
  // nothing). Run every test in this suite with the graft rules excluded.
  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    withoutGraftRules(super.withFixture(test))

  private def naiveRank(df: DataFrame): DataFrame =
    df.withColumn("rn", row_number().over(
      Window.orderBy(col("v"), col("id"))).cast("long"))

  test("rowNumber == global-window row_number (ties broken by id)") {
    val df = frame(500)
    val got = ParallelRank.rowNumber(df, "rn", 7, col("v"), col("id"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = naiveRank(df)
    val want = naive
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.releaseAll(spark)
    assert(got == want)
    // the oracle really is the un-rewritten single-partition window
    assert(SparkSpec.unpartitionedWindows(naive.queryExecution.executedPlan)
      .nonEmpty, naive.queryExecution.executedPlan.toString.take(2000))
  }

  test("ntile matches SQL NTILE semantics, including n < k and n % k != 0") {
    for ((n, k) <- Seq((500, 4), (500, 7), (3, 8), (11, 3), (96, 96))) {
      val df = frame(n)
      val got = ParallelRank.ntile(df, "t", k, 6, col("v"), col("id"))
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.withColumn("t", ntile(k).over(
          Window.orderBy(col("v"), col("id"))).cast("long"))
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Dedup.releaseAll(spark)
      assert(got == want, s"n=$n k=$k")
    }
  }

  test("runningSum == inclusive global prefix sum") {
    val df = frame(300)
    val got = ParallelRank.runningSum(df, "cs", col("v"), 7,
        col("v"), col("id"))
      .select("id", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("cs", sum(col("v")).over(
        Window.orderBy(col("v"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.releaseAll(spark)
    assert(got == want)
  }

  test("runningMaxExclusive == strictly-earlier max, NULL on the first row") {
    import spark.implicits._
    // distinct sort keys (the operator's contract for range-frame parity)
    val df = (0 until 200).map { i =>
      (i.toLong, ((i * 40503L) % 1000L) * 7L % 993L)
    }.toDF("k", "m").repartition(4)
    val got = ParallelRank.runningMaxExclusive(df, "mx", col("m"), 6,
        col("k"))
      .select("k", "mx").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    val want = df.withColumn("mx", max(col("m")).over(
        Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("k", "mx").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    Dedup.releaseAll(spark)
    assert(got == want)
  }

  test("rankedTopK == ranked top-k of the naive global window") {
    val df = frame(400)
    val got = ParallelRank.rankedTopK(df, "rn", 25, col("v").desc, col("id"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("rn", row_number().over(
        Window.orderBy(col("v").desc, col("id"))).cast("long"))
      .filter(col("rn") <= 25)
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.releaseAll(spark)
    assert(got == want)
    assert(got.size == 25)
  }

  test("degenerate frames: empty input yields empty output, one row ranks 1") {
    import spark.implicits._
    val empty = spark.emptyDataset[(Long, Long)].toDF("id", "v")
    assert(ParallelRank.rowNumber(empty, "rn", 4, col("v"), col("id"))
      .count() == 0)
    assert(ParallelRank.runningSum(empty, "cs", col("v"), 4, col("id"))
      .count() == 0)
    val one = Seq((7L, 3L)).toDF("id", "v")
    val r = ParallelRank.ntile(one, "t", 4, 4, col("v"), col("id"))
      .select("id", "t").collect().head
    Dedup.releaseAll(spark)
    assert(r.getLong(0) == 7L && r.getLong(1) == 1L)
  }

  test("multi-run withRunningAggs: rank and sum share one pass") {
    val df = frame(250)
    val got = ParallelRank.withRunningAggs(df, 5,
        Seq(ParallelRank.RunCol("rn", lit(1L), "sum", inclusive = true),
          ParallelRank.RunCol("cs", col("v"), "sum", inclusive = true)),
        col("v"), col("id"))
      .select("id", "rn", "cs").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val w = Window.orderBy(col("v"), col("id"))
    val want = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cs", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "rn", "cs").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    Dedup.releaseAll(spark)
    assert(got == want)
  }
}

package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec
import graft.athenaeum.SparkSpec.unpartitionedWindows

/** The transparent global-window rewrite: plain `OVER (ORDER BY …)`
  * rank-family windows must plan WITHOUT any single-partition window
  * stage and still return exactly what the naive plan returns. The
  * naive baseline is computed with the graft rules removed — with the
  * rule active, any matchable spelling would itself be rewritten. */
class GlobalWindowRuleSpec extends SparkSpec {

  /** Deterministic frame with heavy TIES in v (7 distinct values over
    * 300 rows) so rank/dense_rank differ from row_number, spread over
    * several input partitions. */
  private def frame(n: Int = 300): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, ((i * 2654435761L) % 7L + 7L) % 7L)
    }.toDF("id", "v").repartition(5)
  }

  private def assertNoGlobalWindow(df: DataFrame): Unit = {
    df.collect() // finalize any adaptive plan first
    val bad = unpartitionedWindows(df.queryExecution.executedPlan)
    assert(bad.isEmpty, s"unpartitioned window stages: $bad\n" +
      df.queryExecution.executedPlan.toString.take(3000))
  }

  test("row_number over a total order: rewritten, parallel, identical") {
    val df = frame()
    val w = Window.orderBy(col("v"), col("id"))
    val got = df.withColumn("rn", row_number().over(w))
    assertNoGlobalWindow(got)
    val want = withoutGraftRules {
      val naive = df.withColumn("rn", row_number().over(w))
      // the baseline really is the un-rewritten single-partition plan
      assert(unpartitionedWindows(naive.queryExecution.executedPlan)
        .nonEmpty, naive.queryExecution.executedPlan.toString.take(3000))
      naive.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(gotMap == want)
    // schema preserved exactly (row_number stays IntegerType)
    assert(got.schema("rn").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("rank + dense_rank + percent_rank + ntile in ONE window node") {
    val df = frame()
    val w = Window.orderBy(col("v")) // real ties: 7 distinct keys
    def q(d: DataFrame): DataFrame = d
      .withColumn("rk", rank().over(w))
      .withColumn("dr", dense_rank().over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("nt", ntile(7).over(w))
    val got = q(df)
    assertNoGlobalWindow(got)
    // ties make per-row comparison valid for all four outputs (none
    // depends on intra-tie order: rank/dense_rank/percent_rank are
    // tie-constant, and ntile(7) boundaries land between tie groups
    // here is NOT guaranteed — so compare ntile as a multiset per v)
    def tieConstant(d: DataFrame) = d.select("id", "rk", "dr", "pr")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2),
        r.getDouble(3))).toMap
    def ntileHist(d: DataFrame) = d.groupBy("v", "nt").count()
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val (wantTie, wantNt) = withoutGraftRules {
      val n = q(df)
      (tieConstant(n), ntileHist(n))
    }
    assert(tieConstant(got) == wantTie)
    assert(ntileHist(got) == wantNt)
  }

  test("ntile remainder rule and percent_rank n=1 edge") {
    import spark.implicits._
    // 10 rows, ntile(4) -> buckets of 3,3,2,2 (first n mod k get extra)
    val ten = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val nt = ten.withColumn("nt",
      ntile(4).over(Window.orderBy(col("v"))))
    assertNoGlobalWindow(nt)
    val sizes = nt.groupBy("nt").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1 -> 3L, 2 -> 3L, 3 -> 2L, 4 -> 2L))
    val one = Seq((1L, 5L)).toDF("id", "v")
      .withColumn("pr", percent_rank().over(Window.orderBy(col("v"))))
    assert(one.collect().head.getDouble(2) == 0.0)
  }

  test("descending order with a tie-break rewrites correctly") {
    val df = frame()
    val w = Window.orderBy(col("v").desc, col("id").asc)
    val got = df.withColumn("rn", row_number().over(w))
    assertNoGlobalWindow(got)
    val want = withoutGraftRules {
      df.withColumn("rn", row_number().over(w)).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    assert(got.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap == want)
  }

  test("SQL surface: OVER (ORDER BY) through spark.sql rewrites too") {
    frame().createOrReplaceTempView("gw_t")
    val got = spark.sql(
      "SELECT id, rank() OVER (ORDER BY v) AS rk FROM gw_t")
    assertNoGlobalWindow(got)
    val want = withoutGraftRules {
      spark.sql("SELECT id, rank() OVER (ORDER BY v) AS rk FROM gw_t")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    assert(got.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap == want)
  }

  test("low-cardinality sort key at a sample rate every key dodges: still parallel, still exact") {
    import spark.implicits._
    // regression for the sf0.1 q_sql_global_rank failure: with n large
    // enough that the cutpoint sample rate m > 1, a sort key with FEWER
    // distinct values than m can have every value dodge the
    // pmod(xxhash64(k), m) = 0 filter — the empty sample collapsed all
    // rows into bucket lit(1), the optimizer folded the __pid partition
    // away, the internal window went single-partition, and the rule
    // re-matched it into an ambiguous __o0. Keys are picked
    // ADVERSARIALLY at test time (hash % m != 0 for this n's m), so the
    // empty-sample path triggers deterministically.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val target = math.max(parts, 1) * 4 * 64L
    val n = (target * 2).toInt // m = 2
    val m = math.max(1L, n / target)
    assert(m >= 2, s"test needs a sample rate > 1, got m=$m")
    val candidates = (1 to 200).map(i => s"prio_$i")
    val hashes = candidates.toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(m)).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keys = candidates.filter(k => hashes(k) != 0L).take(5)
    assert(keys.size == 5, "need 5 dodging keys")
    val df = (0 until n).map(i => (i.toLong, keys(i % 5)))
      .toDF("id", "k").repartition(7)
    df.createOrReplaceTempView("gwr_lowcard")
    val q = spark.sql(
      """SELECT id, CAST(rank() OVER (ORDER BY k) AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER (ORDER BY k) AS BIGINT) AS dr
        |FROM gwr_lowcard""".stripMargin)
    assertNoGlobalWindow(q)
    // exact semantics vs a local reference over the 5-key domain
    val sorted = keys.sorted
    val perKey = (0 until n).groupBy(i => keys(i % 5)).view.mapValues(_.size)
    val rkOf = sorted.zipWithIndex.map { case (k, i) =>
      k -> (1L + sorted.take(i).map(perKey(_).toLong).sum) }.toMap
    val drOf = sorted.zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == n)
    got.foreach { case (id, rk, dr) =>
      val k = keys((id % 5).toInt)
      assert(rk == rkOf(k) && dr == drOf(k),
        s"id=$id k=$k got ($rk, $dr) want (${rkOf(k)}, ${drOf(k)})")
    }
  }

  test("top-k filter directly above the rank is LEFT to WindowGroupLimit") {
    val df = frame()
    val topk = df
      .withColumn("rn", row_number().over(Window.orderBy(col("v"), col("id"))))
      .filter(col("rn") <= 10)
    // the rule must NOT fire: Spark's own group-limit shape (bounded
    // k·parts final) beats a full range shuffle for top-k
    val optimized = topk.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Window"), optimized.take(2000))
    assert(topk.count() == 10)
    assert(topk.agg(max("rn")).collect().head.getInt(0) == 10)
  }

  test("running sum/min/max/count + cume_dist: rewritten, identical, ties included") {
    import spark.implicits._
    // heavy ties in v (7 keys over 300 rows) + NULL values in the summed
    // column, incl. an ALL-NULL leading tie group (SQL sum must stay NULL
    // until the first non-null value enters the frame)
    val df = frame().withColumn("x",
      when(col("v") === 0L, lit(null).cast("long"))
        .otherwise(col("id") % 13))
    val w = Window.orderBy(col("v")) // default frame: RANGE UNBOUNDED..CURRENT
    def q(d: DataFrame): DataFrame = d
      .withColumn("rs", sum(col("x")).over(w))
      .withColumn("rmin", min(col("x")).over(w))
      .withColumn("rmax", max(col("x")).over(w))
      .withColumn("rc", count(col("x")).over(w))
      .withColumn("cd", cume_dist().over(w))
    val got = q(df)
    assertNoGlobalWindow(got)
    // default RANGE frame includes peers → every output is tie-constant
    def snap(d: DataFrame) = d.collect().map(r => r.getLong(0) ->
      (Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
        r.getLong(6), r.getDouble(7))).toMap
    val want = withoutGraftRules(snap(q(df)))
    assert(snap(got) == want)
    assert(got.schema("rs").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("decimal running sum stays decimal and exact") {
    import spark.implicits._
    // decimal + decimal stays decimal (a double literal would silently
    // promote the column to DOUBLE and the rule would refuse the sum)
    val df = frame().withColumn("d",
      (col("id") % 97).cast("decimal(18,2)") +
        lit("0.25").cast("decimal(18,2)"))
    val w = Window.orderBy(col("v"), col("id")) // total order
    def q(d: DataFrame): DataFrame =
      d.withColumn("rs", sum(col("d")).over(w))
    val got = q(df)
    assertNoGlobalWindow(got)
    val wantSchema = withoutGraftRules(q(df).schema("rs").dataType)
    assert(got.schema("rs").dataType == wantSchema) // decimal(28,4)-ish
    val want = withoutGraftRules {
      q(df).collect().map(r => r.getLong(0) -> r.getDecimal(3)).toMap
    }
    assert(got.collect().map(r => r.getLong(0) -> r.getDecimal(3)).toMap
      == want)
  }

  test("fp sums, ROWS frames, and fp means are NOT rewritten") {
    val df = frame().withColumn("f", col("id").cast("double") * 0.1)
    val w = Window.orderBy(col("v"), col("id"))
    // double sum: reassociation would change rounding → leave naive
    val fp = df.withColumn("rs", sum(col("f")).over(w))
    assert(fp.queryExecution.optimizedPlan.toString.contains("Window"))
    // explicit ROWS frame: tie-order-dependent either way → leave naive
    val rows = df.withColumn("rs", sum(col("id")).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(rows.queryExecution.optimizedPlan.toString.contains("Window"))
    // avg accumulates a double sum internally even for integral inputs
    val mean = df.withColumn("m", avg(col("id")).over(w))
    assert(mean.queryExecution.optimizedPlan.toString.contains("Window"))
  }

  test("a node MIXING ranks and running aggregates rewrites as one") {
    val df = frame()
    val w = Window.orderBy(col("v"))
    def q(d: DataFrame): DataFrame = d
      .withColumn("rk", rank().over(w))
      .withColumn("rs", sum(col("id")).over(w))
      .withColumn("cd", cume_dist().over(w))
    val got = q(df)
    assertNoGlobalWindow(got)
    def snap(d: DataFrame) = d.collect().map(r => r.getLong(0) ->
      (r.getInt(2), r.getLong(3), r.getDouble(4))).toMap
    val want = withoutGraftRules(snap(q(df)))
    assert(snap(got) == want)
  }

  test("unsupported window functions leave the node untouched") {
    val df = frame()
    val w = Window.orderBy(col("v"), col("id"))
    // lag is not rank-family: node must not be rewritten (mixing would
    // double the pass), and results must still be correct
    val lagged = df.withColumn("prev", lag(col("id"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    val want = withoutGraftRules {
      df.withColumn("prev", lag(col("id"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getInt(3))).toMap
    }
    val gotMap = lagged.collect().map(r => r.getLong(0) ->
      (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getInt(3))).toMap
    assert(gotMap == want)
  }

  test("EXPRESSION and STRING sort keys rewrite correctly") {
    import spark.implicits._
    // string key with ties + an arithmetic expression key: the cutpoint
    // sample and the bucket tree must evaluate the expression, not a
    // column reference
    val df = (0 until 200).map { i =>
      (i.toLong, s"s${i % 9}", (i * 37 % 11).toLong)
    }.toDF("id", "s", "a").repartition(4)
    val w = Window.orderBy(col("s")) // string, 9 tie groups
    val we = Window.orderBy((col("a") * 2 + col("id") % 7).asc, col("id"))
    def q(d: DataFrame): DataFrame = d
      .withColumn("rk", rank().over(w))
      .withColumn("rn", row_number().over(we))
    val got = q(df)
    assertNoGlobalWindow(got)
    def snap(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> (r.getInt(3), r.getInt(4))).toMap
    val want = withoutGraftRules(snap(q(df)))
    assert(snap(got) == want)
  }

  test("agg OVER (): share-of-total rewrites to a broadcast scalar, no window") {
    import spark.implicits._
    val df = frame().withColumn("x",
      when(col("v") === 3L, lit(null).cast("long")).otherwise(col("id")))
    val w = Window.partitionBy() // empty partition, empty order
    def q(d: DataFrame): DataFrame = d
      .withColumn("share",
        col("id").cast("double") / sum(col("x")).over(w).cast("double"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("mn", min(col("x")).over(w))
      .withColumn("mx", max(col("x")).over(w))
    val got = q(df)
    assertNoGlobalWindow(got)
    // the rewrite must not even contain a Window operator
    assert(!got.queryExecution.optimizedPlan.toString.contains("Window"))
    def snap(d: DataFrame) = d.collect().map(r => r.getLong(0) ->
      (r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val want = withoutGraftRules(snap(q(df)))
    assert(snap(got) == want)
    // SQL spelling too
    df.createOrReplaceTempView("gw_sc")
    val sql = spark.sql(
      "SELECT id, id / sum(x) OVER () AS sh FROM gw_sc")
    assertNoGlobalWindow(sql)
    val wantSql = withoutGraftRules {
      spark.sql("SELECT id, id / sum(x) OVER () AS sh FROM gw_sc")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(sql.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == wantSql)
    // empty input: naive window yields no rows; so must the rewrite
    val empty = frame(0).withColumn("x", col("id"))
    assert(q(empty).count() == 0)
  }

  test("stateless claim: independently recomputed subtrees agree (self-join)") {
    val df = frame()
    val w = Window.orderBy(col("v"), col("id"))
    val ranked = df
      .withColumn("rn", row_number().over(w))
      .withColumn("rs", sum(col("id")).over(w))
    // a self-join forces TWO independent recomputes of the rewritten
    // subtree (no persist anywhere) — identical cutpoint literals must
    // make both sides produce identical ranks for every id
    val l = ranked.select(col("id"), col("rn").as("rn_l"),
      col("rs").as("rs_l"))
    val r = ranked.select(col("id"), col("rn").as("rn_r"),
      col("rs").as("rs_r"))
    val joined = l.join(r, "id")
    assertNoGlobalWindow(joined)
    val rows = joined.collect()
    assert(rows.length == 300)
    assert(rows.forall(x => x.getInt(1) == x.getInt(3) &&
      x.getLong(2) == x.getLong(4)))
  }

  test("partitioned windows are never touched") {
    val df = frame()
    val w = Window.partitionBy(col("v")).orderBy(col("id"))
    val got = df.withColumn("rn", row_number().over(w))
    val optimized = got.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Window"), optimized.take(2000))
    val want = withoutGraftRules {
      df.withColumn("rn", row_number().over(w)).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    assert(got.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap == want)
  }
}

package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.athenaeum.SparkSpec
import graft.athenaeum.SparkSpec.unpartitionedWindows

/** Randomized differential check of [[GlobalWindowRule]]: for random
  * frames (sizes incl. 0, heavy ties, NULLs both as sort key and as
  * aggregated value), random sort direction × null ordering, and the
  * full supported function set in one query, the rewritten plan must
  * (a) contain no unpartitioned window stage and (b) return exactly
  * what the naive single-partition plan returns. Tie-order-DEPENDENT
  * outputs (row_number, ntile) are only asserted when the generated
  * order is total (id tiebreak present) — everything else is
  * tie-constant by construction (rank family and RANGE-frame
  * aggregates include peers). */
class GlobalWindowRulePropertySpec extends SparkSpec {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private case class Case(rows: Seq[(Long, Long, Option[Long])],
      parts: Int, key: String, asc: Boolean, nullsFirst: Boolean,
      tieBreak: Boolean, k: Int)

  private val genCase: Gen[Case] = for {
    n <- Gen.choose(0, 80)
    vDom <- Gen.choose(1, 5) // tiny domain => heavy ties
    rows <- Gen.listOfN(n, for {
      v <- Gen.choose(0L, vDom.toLong)
      x <- Gen.option(Gen.choose(-7L, 7L))
    } yield (v, x))
    parts <- Gen.choose(1, 6)
    key <- Gen.oneOf("v", "x") // x is nullable: null sort-key groups
    asc <- Gen.oneOf(true, false)
    nf <- Gen.oneOf(true, false)
    tb <- Gen.oneOf(true, false)
    k <- Gen.choose(1, 7)
  } yield Case(
    rows.zipWithIndex.map { case ((v, x), i) => (i.toLong, v, x) },
    parts, key, asc, nf, tb, k)

  test("random frames: rewritten global windows == naive plan exactly") {
    import spark.implicits._
    val prop = Prop.forAll(genCase) { c =>
      val df = c.rows.toDF("id", "v", "x").repartition(c.parts)
      val base = col(c.key)
      val dir = (c.asc, c.nullsFirst) match {
        case (true, true)   => base.asc_nulls_first
        case (true, false)  => base.asc_nulls_last
        case (false, true)  => base.desc_nulls_first
        case (false, false) => base.desc_nulls_last
      }
      val w =
        if (c.tieBreak) Window.orderBy(dir, col("id"))
        else Window.orderBy(dir)
      def q(d: DataFrame): DataFrame = {
        var o = d
          .withColumn("rk", rank().over(w))
          .withColumn("dr", dense_rank().over(w))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("rs", sum(col("x")).over(w))
          .withColumn("rmin", min(col("x")).over(w))
          .withColumn("rmax", max(col("x")).over(w))
          .withColumn("rc", count(col("x")).over(w))
          .withColumn("rcs", count(lit(1)).over(w))
        if (c.tieBreak) o = o
          .withColumn("rn", row_number().over(w))
          .withColumn("nt", ntile(c.k).over(w))
        o
      }
      def snap(d: DataFrame): Map[Long, Seq[Any]] =
        d.collect().map(r => r.getLong(0) -> r.toSeq.drop(3)).toMap
      val got = q(df)
      val gm = snap(got)
      val bad = unpartitionedWindows(got.queryExecution.executedPlan)
      val (wm, naiveGlobal) = withoutGraftRules {
        val naive = q(df)
        (snap(naive), unpartitionedWindows(naive.queryExecution.executedPlan))
      }
      // an empty frame folds to an empty relation with no window at all;
      // otherwise the baseline must be the un-rewritten plan
      val naiveOk = c.rows.isEmpty || naiveGlobal.nonEmpty
      val ok = bad.isEmpty && naiveOk && gm == wm
      if (!ok) println(s"[gwprop] FAIL case=$c bad=$bad naive=$naiveGlobal" +
        s"\n got=$gm\nwant=$wm")
      ok
    }
    check(prop, 20)
  }
}

package graft.operators

import org.apache.spark.sql.functions._
import graft.athenaeum.SparkSpec
import graft.sources.Tables

class RangeJoinSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed range join equals the naive theta join") {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val part = Tables(spark, dir, "part").select("p_partkey", "p_size")
    val naive = li.join(part,
        abs(col("l_quantity") - col("p_size")) <= 2)
      .select("l_orderkey", "l_linenumber", "p_partkey")
    val bucketed = RangeJoin.bucketed(li, "l_quantity", part, "p_size", 2.0)
      .select("l_orderkey", "l_linenumber", "p_partkey")
    assert(bucketed.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(bucketed).count() == 0)
  }

  test("optimizer rule: naive abs-tolerance join auto-plans as equi join") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val part = Tables(spark, dir, "part").select("p_partkey", "p_size")
      val naive = li.join(part,
        abs(col("l_quantity") - col("p_size")) <= 2)
      val plan = naive.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(2000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // schema is untouched by the rewrite (bucket columns projected away)
      assert(naive.columns.toSeq ==
        Seq("l_orderkey", "l_linenumber", "l_quantity", "p_partkey", "p_size"))
      // and results match the manual bucketed form exactly
      val manual = RangeJoin.bucketed(li, "l_quantity", part, "p_size", 2.0)
        .select(naive.columns.map(col).toIndexedSeq: _*)
      assert(naive.exceptAll(manual).count() == 0)
      assert(manual.exceptAll(naive).count() == 0)
      // flipped orientation (lit >= abs) and reversed operand order too
      val flipped = part.join(li,
        lit(2) >= abs(col("p_size") - col("l_quantity")))
      val fplan = flipped.queryExecution.executedPlan.toString
      assert(!fplan.contains("BroadcastNestedLoopJoin") &&
        !fplan.contains("CartesianProduct"), fplan.take(2000))
      assert(flipped.count() == naive.count())
    }
  }

  /** Deterministic result checksum: row count + keyed sum (order- and
    * plan-independent), so rewritten and un-rewritten plans can be
    * compared without putting both in one query tree. */
  private def sig(df: org.apache.spark.sql.DataFrame): String =
    df.agg(count(lit(1)), sum(col("l_orderkey") * col("p_partkey")),
      sum(col("p_partkey"))).collect()(0).toString

  test("optimizer rule: BETWEEN band form auto-plans as equi join") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val part = Tables(spark, dir, "part").select("p_partkey", "p_size")
      // asymmetric band: l_quantity ∈ [p_size - 1, p_size + 3]
      def band = li.join(part,
        col("l_quantity") >= col("p_size") - 1 &&
          col("l_quantity") <= col("p_size") + 3)
      val plan = band.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(2000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(sig(band) == withoutGraftRules(sig(band)))
      // the rule-off baseline really is the un-rewritten nested loop
      val naivePlan =
        withoutGraftRules(band.queryExecution.executedPlan.toString)
      assert(naivePlan.contains("BroadcastNestedLoopJoin") ||
        naivePlan.contains("CartesianProduct"), naivePlan.take(2000))
      // between() desugars to the same conjunction
      def between = li.join(part,
        col("l_quantity").between(col("p_size") - 2, col("p_size") + 2))
      val bplan = between.queryExecution.executedPlan.toString
      assert(!bplan.contains("BroadcastNestedLoopJoin") &&
        !bplan.contains("CartesianProduct"), bplan.take(2000))
      assert(sig(between) == withoutGraftRules(sig(between)))
    }
  }

  test("optimizer rule: interval containment auto-plans as equi join") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.graft.rangeJoin.bucketWidth" -> "4.0") {
      val li = Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      // bounded-width intervals from the part side
      val ivm = Tables(spark, dir, "part")
        .select(col("p_partkey"), col("p_size").as("lo"),
          (col("p_size") + 5).as("hi"))
      def contained = li.join(ivm,
        col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
      val plan = contained.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(2000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(sig(contained) == withoutGraftRules(sig(contained)))
      // between() spelling matches too
      def between = li.join(ivm,
        col("l_quantity").between(col("lo"), col("hi")))
      val bplan = between.queryExecution.executedPlan.toString
      assert(!bplan.contains("BroadcastNestedLoopJoin") &&
        !bplan.contains("CartesianProduct"), bplan.take(2000))
      assert(sig(between) == withoutGraftRules(sig(between)))
    }
  }

  test("bucketed form avoids the nested loop even without broadcast") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables(spark, dir, "lineitem")
      val part = Tables(spark, dir, "part")
      val plan = RangeJoin.bucketed(li, "l_quantity", part, "p_size", 2.0)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(2000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    }
  }
}

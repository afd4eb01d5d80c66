package graft.streaming

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec

/** The bucketed gates' serve-path PLAN contract as unit assertions: in
  * every executed per-batch query that scans gate state, the state-side
  * scan must (a) report the at-rest `HashPartitioning(key, nBuckets)`
  * (i.e. the bucketed scan is actually in effect) and (b) reach its
  * consuming join with NO Exchange and NO Sort in between — the
  * "accumulated state never moves" claim as plan shape, so a Spark
  * upgrade or hint change that silently breaks bucket-pruning is caught
  * by a unit test, not a scale probe. Captured from the REAL sinks via
  * a QueryExecutionListener during a second batch (the first batch has
  * no state to serve). */
class GatePlanAuditSpec extends SparkSpec {

  /** Executed plans of every SQL execution `body` triggers (AQE off for
    * a stable, directly walkable plan tree). */
  private def audited(body: => Unit): Seq[SparkPlan] =
    withConf("spark.sql.adaptive.enabled" -> "false")(
      graft.Work.measure(spark)(body)._2.plans)

  private def isStateScan(s: FileSourceScanExec, mark: String): Boolean =
    s.relation.location.rootPaths.exists(_.toString.contains(mark))

  /** True when `n`'s subtree reaches a state scan without crossing a
    * join — i.e. `n` sits BETWEEN the scan and its consuming join. */
  private def scanBelowNoJoin(n: SparkPlan, mark: String): Boolean =
    n match {
      case s: FileSourceScanExec => isStateScan(s, mark)
      case _: ShuffledHashJoinExec | _: SortMergeJoinExec |
          _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
        false
      case other => other.children.exists(scanBelowNoJoin(_, mark))
    }

  /** Audit all captured plans: at least one state scan must appear;
    * every state scan must report the bucketed HashPartitioning; no
    * Exchange/Sort may sit between a state scan and its join. */
  private def audit(plans: Seq[SparkPlan], mark: String,
      nBuckets: Int): Unit = {
    val scans = plans.flatMap(_.collect {
      case s: FileSourceScanExec if isStateScan(s, mark) => s
    })
    assert(scans.nonEmpty, s"no state scan captured for $mark")
    scans.foreach { s =>
      s.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.numPartitions == nBuckets,
            s"state scan partitions ${h.numPartitions} != $nBuckets")
        case other => fail(
          s"state scan is not bucketed: $other — the at-rest layout " +
            "is being read as plain parquet")
      }
    }
    val offenders = plans.flatMap(_.collect {
      case e: Exchange if scanBelowNoJoin(e.child, mark) => e
      case so: SortExec if scanBelowNoJoin(so.child, mark) => so
    })
    assert(offenders.isEmpty,
      s"Exchange/Sort above a state scan (state must stream): " +
        offenders.map(_.nodeName).mkString(", "))
  }

  /** True when `n`'s subtree reaches a state scan without crossing a
    * FINAL aggregate or a join — the walker for merge-state reads,
    * where the claim is scan → partial agg → final agg with no
    * Exchange anywhere between the scan and the final aggregate (an
    * Exchange above the PARTIAL agg is exactly the full-state shuffle
    * the bucketed layout exists to prevent, so stopping at the partial
    * would blind the pin). */
  private def scanBelowNoFinalAgg(n: SparkPlan, mark: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    n match {
      case s: FileSourceScanExec => isStateScan(s, mark)
      case a: HashAggregateExec
          if a.aggregateExpressions.exists(e =>
            e.mode == Final || e.mode == Complete) => false
      case a: ObjectHashAggregateExec
          if a.aggregateExpressions.exists(e =>
            e.mode == Final || e.mode == Complete) => false
      case a: SortAggregateExec
          if a.aggregateExpressions.exists(e =>
            e.mode == Final || e.mode == Complete) => false
      case _: ShuffledHashJoinExec | _: SortMergeJoinExec |
          _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
        false
      case other => other.children.exists(scanBelowNoFinalAgg(_, mark))
    }
  }

  test("boilerplate gate read path: delta-run scan bucketed, merge aggregation lands on the at-rest partitioning with no exchange before the final agg") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audit-bg").toString
    def batch(b: Int) = (0 until 40).map { i =>
      val id = b * 100L + i
      (id, (0 until 20).map(k => f"${mix64(id * 131L + k)}%08x".take(8))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val snk = BoilerplateGate.sink(s"$dir/freq", s"$dir/out",
      "doc_id", "text", chunkTokens = 5, nBuckets = 8)
    snk(batch(0), 0L)
    val plans = audited(snk(batch(1), 1L))
    val mark = s"$dir/freq"
    val scans = plans.flatMap(_.collect {
      case s: FileSourceScanExec if isStateScan(s, mark) => s
    })
    assert(scans.nonEmpty, "no frequency-state scan captured")
    scans.foreach { s =>
      s.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.numPartitions == 8,
            s"state scan partitions ${h.numPartitions} != 8")
        case other => fail(
          s"state scan is not bucketed: $other — the delta runs are " +
            "being read as plain parquet")
      }
    }
    val offenders = plans.flatMap(_.collect {
      case e: Exchange if scanBelowNoFinalAgg(e.child, mark) => e
      case so: SortExec if scanBelowNoFinalAgg(so.child, mark) => so
    })
    assert(offenders.isEmpty,
      "Exchange/Sort between the delta-run scan and the final merge " +
        s"aggregate (state must merge in place): " +
        offenders.map(_.nodeName).mkString(", "))
  }

  test("substring gate serve path: both state scans bucketed, no exchange/sort above state") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audit-sub").toString
    def batch(b: Int) = (0 until 60).map { i =>
      val id = b * 100L + i
      (id, (0 until 6).map(k => f"${mix64(id * 31L + k)}%016x").mkString)
    }.toDF("doc_id", "text")
    val snk = SubstrGate.sink(s"$dir/docs", s"$dir/grams", s"$dir/out",
      "doc_id", "text", minLen = 30, nBuckets = 8)
    snk(batch(0), 0L)
    val plans = audited(snk(batch(1), 1L))
    audit(plans, s"$dir/grams", 8)
    audit(plans, s"$dir/docs", 8)
  }

  test("spatial gate serve path: point-set scan bucketed, no exchange/sort above state") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audit-sp").toString
    def batch(b: Int) = (0 until 200).map { i =>
      val id = b * 1000L + i
      (id, math.floorMod(mix64(id), 1000L), math.floorMod(mix64(id * 7L), 1000L))
    }.toDF("id", "x", "y")
    val snk = SpatialGate.sink(s"$dir/state", s"$dir/out",
      "id", "x", "y", radius = 30L, cell = 30L, nBuckets = 8)
    snk(batch(0), 0L)
    audit(audited(snk(batch(1), 1L)), s"$dir/state", 8)
  }

  test("cluster maintainer serve path: banded-index scan bucketed, no exchange/sort above state (cap path included)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audit-cm").toString
    def batch(b: Int) = (0 until 60).map { i =>
      val id = b * 100L + i
      (id, (0 until 15).map(k => f"${mix64(id * 31L + k)}%016x").mkString)
    }.toDF("doc_id", "text")
    val snk = ClusterMaintainer.sink(s"$dir/labels", s"$dir/idx",
      "doc_id", "text", maxBucket = 16, nBuckets = 8)
    snk(batch(0), 0L)
    audit(audited(snk(batch(1), 1L)), s"$dir/idx", 8)
  }

  test("substring gate serve path WITH live tombstones: state still streams exchange-free, the takedown filter is a broadcast anti-join") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audit-fgt").toString
    def batch(b: Int) = (0 until 60).map { i =>
      val id = b * 100L + i
      (id, (0 until 6).map(k => f"${mix64(id * 31L + k)}%016x").mkString)
    }.toDF("doc_id", "text")
    val snk = SubstrGate.sink(s"$dir/docs", s"$dir/grams", s"$dir/out",
      "doc_id", "text", minLen = 30, nBuckets = 8)
    snk(batch(0), 0L)
    SubstrGate.forget(spark, s"$dir/docs", s"$dir/grams",
      Seq(3L, 17L), forgetId = 0L)
    val plans = audited {
      snk(batch(1), 1L)
      SubstrGate.served(spark, s"$dir/docs", s"$dir/out").count()
      ()
    }
    // the tombstone filter must not change the state-side plan shape:
    // scans still bucketed, nothing between scan and join. The marks
    // name the state DATA dirs so the (1-bucket, broadcast-side) tomb
    // sidecar scans under <path>/tomb/data are not audited as state
    audit(plans, s"$dir/grams/data", 8)
    audit(plans, s"$dir/docs/data", 8)
    // and the takedown registry itself rides BROADCAST anti-joins —
    // a takedown set that shuffled corpus-sized state would be the
    // exact pattern the delete-file design exists to avoid
    val antiJoins = plans.flatMap(_.collect {
      case j: BroadcastHashJoinExec
          if j.joinType.sql.contains("ANTI") => j
      case j: ShuffledHashJoinExec
          if j.joinType.sql.contains("ANTI") => j
      case j: SortMergeJoinExec
          if j.joinType.sql.contains("ANTI") => j
      case j: BroadcastNestedLoopJoinExec
          if j.joinType.sql.contains("ANTI") => j
    })
    assert(antiJoins.nonEmpty, "no tombstone anti-join captured")
    val bad = antiJoins.filterNot(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bad.isEmpty,
      "tombstone anti-join is not a broadcast: " +
        bad.map(_.nodeName).mkString(", "))
  }

  test("semantic gate serve path: encoding and vector scans bucketed, no exchange/sort above state") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audit-sem").toString
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(k => (math.floorMod(mix64(i * 17 + k), 100L) / 100.0f))
    def batch(b: Int) = (0 until 40).map { i =>
      val id = b * 100L + i
      (id, vec(id))
    }.toDF("vec_id", "embedding")
    val snk = SemGate.sink(s"$dir/state", s"$dir/out",
      "vec_id", "embedding", threshold = 0.95, ncells = 2,
      kmIters = 1, m = 2, ks = 4, sd = 4, nBuckets = 8)
    snk(batch(0), 0L)
    val plans = audited(snk(batch(1), 1L))
    audit(plans, s"$dir/state/enc", 8)
    audit(plans, s"$dir/state/vectors", 8)
  }
}

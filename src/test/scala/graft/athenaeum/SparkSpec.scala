package graft.athenaeum

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Every test ends with the harness sweep of graft's tracked caches
    * and checkpoints, on the session if one was started. */
  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally SparkSession.getDefaultSession.foreach(graft.operators.Dedup.releaseAll)

  /** Run `f` with each `key -> value` set on the session, then put back
    * what was there: the prior explicit value, or no setting at all. */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `f` with the graft optimizer rules excluded — the naive
    * baseline a rule-vs-naive spec compares the rewrite against (with the
    * rules on, any matchable spelling would itself be rewritten). */
  def withoutGraftRules[T](f: => T): T =
    withConf("spark.sql.optimizer.excludedRules" -> Seq(
      graft.plans.GlobalWindowRule, graft.plans.BucketedRangeJoinRule)
      .map(_.ruleName).mkString(","))(f)

  /** Directory containing the golden fixtures on the test classpath. */
  def goldenDir: String =
    new java.io.File(getClass.getResource("/golden/cities.table.json").toURI)
      .getParent

  def goldenText(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(goldenDir, name)), "UTF-8")

  /** splitmix64 — the shared deterministic fixture hash (one copy: a
    * typo'd constant in a per-spec clone would silently change that
    * spec's corpus with no compile error). */
  protected def mix64(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

object SparkSpec {
  /** Unpartitioned (single-partition) Window/WindowGroupLimit operators
    * in a physical plan, looking through adaptive plans, their query
    * stages and cached subtrees — none of them may hide one. */
  def unpartitionedWindows(p: SparkPlan): Seq[String] = p.collect {
    case w: WindowExec if w.partitionSpec.isEmpty => Seq("WindowExec")
    case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
      Seq("WindowGroupLimitExec")
    case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.executedPlan)
    case q: QueryStageExec => unpartitionedWindows(q.plan)
    case s: InMemoryTableScanExec =>
      unpartitionedWindows(s.relation.cachedPlan)
  }.flatten

  /** The product posture ([[graft.GraftSession]]) plus the test
    * deployment settings only. */
  lazy val session: SparkSession = {
    val s = graft.GraftSession.builder("graft-test", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

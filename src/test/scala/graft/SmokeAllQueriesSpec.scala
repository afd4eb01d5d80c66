package graft

import graft.athenaeum.SparkSpec
import graft.queries.QuerySpec

/** Executes EVERY SparkEntry query end-to-end on sf0.001 — the cheap
  * tripwire that keeps `sbt test` sufficient to catch a runtime break
  * (ANSI overflow, divide-by-zero on a degenerate group, a renamed
  * column) without waiting for the driver's sf0.01 correctness sweep.
  * The runs come from the shared [[QuerySurface]] pass, which also
  * audits each query's plans for PlanHygieneSpec.
  */
class SmokeAllQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("building a registry rejects a duplicate name or an empty oracle") {
    // a map keyed by name silently keeps the LAST duplicate — a re-added
    // name would shadow an existing query and its oracle, and the oracle
    // sweep would still pass (against the wrong query)
    val a = QuerySpec("q_a", (s, _) => s.range(1).toDF(), "SELECT 1")
    val dup = intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(a, QuerySpec("q_b", a.run, "SELECT 2"),
        a.copy(oracle = "SELECT 3")))
    }
    assert(dup.getMessage.contains("duplicate query names: q_a"))
    val empty = intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(a, QuerySpec("q_c", a.run, "  ")))
    }
    assert(empty.getMessage.contains("empty oracle: q_c"))
    assert(QuerySpec.registry(Seq(a)) == Seq(a))
  }

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"empty oracles: ${blank.toSeq.sorted}")
  }

  test("no duplicate query keys in the SparkEntry source") {
    // Count each `QuerySpec("q...",` declaration across the family files:
    // exactly once per name, and every declared name reaches SparkEntry
    // (a spec left out of its family's `all` would never be run or checked).
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(
      java.nio.file.Paths.get("src/main/scala/graft/queries")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val key = """QuerySpec\(\s*"(q[0-9a-z_]+)"""".r
    val declared = files.flatMap { f =>
      key.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f))).map(_.group(1))
    }
    val dups = declared.groupBy(identity).collect {
      case (n, xs) if xs.size > 1 => n -> xs.size }.toSeq.sorted
    assert(dups.isEmpty, s"query names declared more than once: $dups")
    val reg = SparkEntry.queries.keySet
    assert(declared.toSet == reg,
      s"declared but not registered: ${(declared.toSet -- reg).toSeq.sorted}; " +
        s"registered but not declared: ${(reg -- declared.toSet).toSeq.sorted}")
  }

  test("every query executes at sf0.001 (no runtime failures)") {
    val failures = QuerySurface.at(spark, dir).flatMap { case (name, r) =>
      r.runError.map(e => s"$name: $e")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    // reported, not asserted: with cache visibility tracking off (the
    // Spark default) the warning marks two tasks racing to cache one
    // partition, the loser waiting for and reading the winner's copy —
    // no recompute, and which queries hit the race varies run to run
    info("BlockManager duplicate-block warnings: " +
      QuerySurface.at(spark, dir).collect {
        case (name, r) if r.duplicateBlocks > 0 => s"$name ${r.duplicateBlocks}"
      }.mkString(", "))
  }

  test("building and running a query leaves the session conf and planner hooks unchanged") {
    // a query that flips a conf, appends an experimental rule/strategy
    // or leaves a block persisted after its release changes every later
    // query planned on the same session
    val drifted = QuerySurface.at(spark, dir).collect {
      case (name, r) if r.drift.nonEmpty => s"$name: ${r.drift.mkString("; ")}"
    }
    assert(drifted.isEmpty, drifted.mkString("\n"))
  }

  test("entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

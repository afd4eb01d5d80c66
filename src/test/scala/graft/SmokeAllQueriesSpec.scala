package graft

import graft.athenaeum.SparkSpec

/** Executes EVERY SparkEntry query end-to-end on sf0.001 — the cheap
  * tripwire that keeps `sbt test` sufficient to catch a runtime break
  * (ANSI overflow, divide-by-zero on a degenerate group, a renamed
  * column) without waiting for the driver's sf0.01 correctness sweep.
  * The runs come from the shared [[QuerySurface]] pass, which also
  * audits each query's plans for PlanHygieneSpec.
  */
class SmokeAllQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("no duplicate query keys in the SparkEntry source") {
    // Map literals silently keep the LAST duplicate key — a re-added
    // name would shadow an existing query in both maps and the oracle
    // sweep would still pass (against the wrong query). Count each
    // `"q..." ->` key in the source: exactly once per map, so exactly
    // twice overall (queries + oracleSql).
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")))
    val key = """"(q[0-9a-z_]+)"\s*->""".r
    val counts = key.findAllMatchIn(src).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size)
    val dups = counts.filter(_._2 != 2).toSeq.sortBy(_._1)
    assert(dups.isEmpty,
      s"keys not appearing exactly twice (queries + oracleSql): $dups")
  }

  test("every query executes at sf0.001 (no runtime failures)") {
    val failures = QuerySurface.at(spark, dir).flatMap { case (name, r) =>
      r.runError.map(e => s"$name: $e")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("building and running a query leaves the session conf and planner hooks unchanged") {
    // a query that flips a conf or appends an experimental rule/strategy
    // changes every later query planned on the same session
    val drifted = QuerySurface.at(spark, dir).collect {
      case (name, r) if r.drift.nonEmpty => s"$name: ${r.drift.mkString("; ")}"
    }
    assert(drifted.isEmpty, drifted.mkString("\n"))
  }

  test("entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

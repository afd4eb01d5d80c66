package graft.functions

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.athenaeum.SparkSpec
import graft.functions.expressions.AcAutomaton
import graft.sources.Tables

/** Aho–Corasick multi-pattern counts must match, per pattern, the SQL
  * replace-count formula the DuckDB oracle uses:
  * `(length(t) - length(replace(t, p, ''))) / length(p)` — i.e. greedy
  * left-to-right NON-overlapping occurrences. */
class MultiPatternSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Greedy-left non-overlapping count — the replace() semantics. */
  private def bruteCount(text: String, pat: String): Long = {
    var n = 0L
    var i = text.indexOf(pat)
    while (i >= 0) { n += 1; i = text.indexOf(pat, i + pat.length) }
    n
  }

  private def counts(text: String, pats: Seq[String]): Seq[Long] = {
    import spark.implicits._
    Seq(text).toDF("t")
      .select(GraftFunctions.multiCount(col("t"), pats).as("c"))
      .head().getSeq[Long](0)
  }

  test("self-overlapping pattern counts greedily from the left") {
    assert(counts("aaa", Seq("aa")) == Seq(1L))
    assert(counts("aaaa", Seq("aa")) == Seq(2L))
    assert(counts("a a a", Seq("a a", "a")) == Seq(1L, 3L))
  }

  test("suffix patterns all fire via dict links (ushers)") {
    assert(counts("ushers", Seq("he", "she", "hers", "his")) ==
      Seq(1L, 1L, 1L, 0L))
  }

  test("multi-byte UTF-8 patterns match on character boundaries") {
    assert(counts("un café, deux cafés", Seq("café", "eux")) == Seq(2L, 1L))
  }

  test("property: equals brute-force greedy count on dense small-alphabet text") {
    val textGen = Gen.listOfN(40, Gen.oneOf('a', 'b', ' ')).map(_.mkString)
    val pats = Seq("a", "ab", "aba", "b b", "ab ab", "aa")
    val ac = new AcAutomaton(pats.map(_.getBytes("UTF-8")).toArray)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(textGen) { t =>
        val got = ac.countAll(
          org.apache.spark.unsafe.types.UTF8String.fromString(t))
          .toLongArray.toSeq
        got == pats.map(bruteCount(t, _))
      })
    assert(res.passed, res.status.toString)
  }

  test("whole-corpus parity with the replace-count SQL formula (codegen path)") {
    val pats = Seq("scan", "slow scan", "a a", "table table")
    val docs = Tables(spark, dir, "documents")
    val sqlCols = pats.zipWithIndex.map { case (p, i) =>
      val q = p.replace("'", "''")
      s"CAST((length(text) - length(replace(text, '$q', ''))) DIV ${p.length} AS BIGINT) AS sql_$i"
    }
    val mismatch = docs
      .select(col("doc_id") +: GraftFunctions.multiCount(col("text"), pats)
        .as("native") +: sqlCols.map(org.apache.spark.sql.functions.expr): _*)
      .filter((0 until pats.length)
        .map(i => s"native[$i] <> sql_$i").mkString(" OR "))
    assert(mismatch.count() == 0)
  }

  test("SQL surface: graft_multi_count with a constant array") {
    val r = spark.sql(
      "SELECT graft_multi_count('she sells seashells', array('she', 'sea', 'x')) AS c")
      .head().getSeq[Long](0)
    assert(r == Seq(2L, 1L, 0L)) // 'she' + the one inside 'sea-SHE-lls'
  }

  test("guards: empty, duplicate, and non-constant pattern lists rejected") {
    intercept[IllegalArgumentException] { counts("x", Seq.empty) }
    intercept[IllegalArgumentException] { counts("x", Seq("a", "a")) }
    intercept[IllegalArgumentException] { counts("x", Seq("a", "")) }
    val e = intercept[Exception] {
      spark.sql("SELECT graft_multi_count(text, array(text)) FROM VALUES ('a') AS t(text)")
        .collect()
    }
    assert(e.getMessage.contains("constant"))
  }

  test("null text yields null, not a crash") {
    import spark.implicits._
    val r = Seq[String](null).toDF("t")
      .select(GraftFunctions.multiCount(col("t"), Seq("a")).as("c"))
      .head()
    assert(r.isNullAt(0))
  }
}

package graft.functions

import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.athenaeum.SparkSpec
import graft.functions.expressions.StringSimImpl
import graft.sources.Tables

/** JaroWinklerSim must stay bit-identical to DuckDB's
  * `jaro_winkler_similarity` — the oracle for q_jaro_linkage compares
  * raw doubles. The reference points here are hand-checked values that
  * were verified against DuckDB (and 12k random pairs at build time);
  * the edge-case table pins the semantics that differ between common
  * JW implementations (both-empty, boost threshold, prefix cap). */
class StringSimilaritySpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    StringSimImpl.jaroWinkler(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("reference values match DuckDB semantics") {
    // classic textbook pair: jaro = 17/18, winkler boost l=3
    assert(jw("martha", "marhta") == 0.9611111111111111)
    // both empty is 0.0 in DuckDB (NOT the 1.0 many libraries return)
    assert(jw("", "") == 0.0)
    assert(jw("a", "") == 0.0)
    assert(jw("", "a") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    // jaro = 2/3 <= 0.7: the Winkler boost must NOT apply
    assert(jw("ab", "aa") == (0.5 + 0.5 + 1.0) / 3.0)
    // match window max(2,2)/2 - 1 = 0: adjacent swaps at length 2 can
    // never match, so this is 0.0 (DuckDB-confirmed), NOT a transposition
    assert(jw("ab", "ba") == 0.0)
    // prefix bonus caps at 4 even with a longer common prefix
    val sim10 = jw("abcdefghij", "abcdefghix")
    val jaro10 = (0.9 + 0.9 + 1.0) / 3.0
    assert(sim10 == jaro10 + 4 * 0.1 * (1.0 - jaro10))
  }

  test("non-ASCII pairs match DuckDB's UTF-8 BYTE iteration") {
    // DuckDB iterates UTF-8 bytes, not code points — these literals are
    // duckdb-run reference values (jaro_winkler_similarity, v1.x); a
    // UTF-16/code-point loop produces a different number for EVERY pair,
    // so this table fails loudly if the byte semantics regress
    assert(jw("héllo", "hello") == 0.8400000000000001)
    assert(jw("naïve", "naive") == 0.8577777777777779)
    assert(jw("日本語テスト", "日本語てすと") == 0.8666666666666666)
    assert(jw("ünïcödé", "unicode") == 0.5670995670995671)
    assert(jw("Müller", "Mueller") == 0.8285714285714287)
    assert(jw("crème brûlée", "creme brulee") == 0.7970370370370371)
    assert(jw("ABCдЕ", "ABCde") == 0.6761904761904761)
    assert(jw("ßharp", "sharp") == 0.8222222222222223)
  }

  test("symmetry and bounds on real part-name pairs") {
    val names = Tables(spark, dir = "/root/testdata/sf0.001", name = "part")
      .select("p_name").limit(60).collect().map(_.getString(0))
    for (a <- names.take(20); b <- names.take(20)) {
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(s == jw(b, a), s"asymmetric for $a / $b")
      if (a == b) assert(s == 1.0)
    }
  }

  test("codegen and interpreted paths agree on table data") {
    val p = Tables(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_partkey"), col("p_name"))
    val pairs = p.select(col("p_name").as("a"))
      .crossJoin(p.limit(5).select(col("p_name").as("b")))
    val viaPlan = pairs
      .select(GraftFunctions.jaroWinkler(col("a"), col("b")).as("jw"),
        col("a"), col("b"))
      .collect()
    viaPlan.foreach { r =>
      assert(r.getDouble(0) == jw(r.getString(1), r.getString(2)))
    }
  }

  test("SQL registration: graft_jaro_winkler usable from spark.sql") {
    val r = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta') AS s").head.getDouble(0)
    assert(r == 0.9611111111111111)
  }
}

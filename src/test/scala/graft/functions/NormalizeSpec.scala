package graft.functions

import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.athenaeum.SparkSpec
import graft.functions.expressions.NormalizeImpl

/** NFC normalization: decomposed sequences compose, ASCII is untouched,
  * and the result is idempotent — the properties the nfc-keyed dedup
  * stage (q_nfc_dedup) relies on. */
class NormalizeSpec extends SparkSpec {

  private def nfc(s: String): String =
    NormalizeImpl.nfc(UTF8String.fromString(s)).toString

  test("decomposed e+COMBINING ACUTE composes to U+00E9") {
    assert(nfc("café") == "café")
    assert(nfc("café") == nfc("café"))
  }

  test("ASCII is the identity (fast path)") {
    val s = "plain ascii text 123 !@#"
    assert(nfc(s) == s)
  }

  test("idempotent: nfc(nfc(x)) == nfc(x)") {
    for (s <- Seq("café", "Ångström", "ascii", "Å"))
      assert(nfc(nfc(s)) == nfc(s))
  }

  test("SQL surface: graft_nfc collapses the two forms") {
    val r = spark.sql(
      "SELECT graft_nfc('café') = graft_nfc('café') AS same, " +
        "length(graft_nfc('café')) AS len").head()
    assert(r.getBoolean(0) && r.getInt(1) == 4)
  }

  test("null yields null through the Column API") {
    import spark.implicits._
    val r = Seq[String](null).toDF("t")
      .select(GraftFunctions.nfc(col("t"))).head()
    assert(r.isNullAt(0))
  }
}

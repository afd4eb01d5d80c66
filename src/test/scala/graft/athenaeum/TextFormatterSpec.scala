package graft.athenaeum

import Analyzer.{OutCol, OutRef, OutSum, ResolvedCol}

/** W1/W2 text at its edges, byte for byte: headers wider than every
  * value, empty strings, negative and 19-digit longs, zero rows. */
class TextFormatterSpec extends SparkSpec {

  private val wide = Seq[OutCol](
    OutRef(ResolvedCol("t", "s"), Some("a_very_wide_string_header"),
      isInt = false),
    OutSum(ResolvedCol("t", "n"), Some("a_very_wide_sum_header")))
  private val head = "a_very_wide_string_header | a_very_wide_sum_header\n" +
    "-" * 50 + "\n"

  test("edge cases: wide headers, empty strings, extreme longs, zero rows") {
    import spark.implicits._
    val df = Seq(("", 0L), ("x", -1234567890123456789L),
      ("", Long.MinValue)).toDF("s", "n")
    assert(TextFormatter.render(df, wide) == head +
      " " * 25 + " | " + " " * 21 + "0\n" +
      "x" + " " * 24 + " | " + "  -1234567890123456789\n" +
      " " * 25 + " | " + "  -9223372036854775808\n")
    assert(TextFormatter.render(df.limit(0), wide) == head)
  }
}

package graft.functions

import org.apache.spark.sql.functions.{col, expr}
import graft.athenaeum.SparkSpec
import graft.functions.XFormulas._

/** The Hilbert fragments must produce a true Hilbert curve: a BIJECTION
  * onto 0..n²−1 whose consecutive keys are ALWAYS unit Manhattan steps —
  * the locality guarantee q_hilbert_key's scaladoc claims over z-order.
  * Proven exhaustively on a 16×16 grid (every cell, every step). */
class HilbertSpec extends SparkSpec {

  private def curve(n: Int, levels: Int): Seq[(Int, Int, Long)] = {
    var df = spark.range(n.toLong * n).selectExpr(
      s"CAST(id % $n AS INT) AS ox", s"CAST(id DIV $n AS INT) AS oy",
      s"CAST(id % $n AS INT) AS x", s"CAST(id DIV $n AS INT) AS y",
      "CAST(0 AS BIGINT) AS d")
    for (i <- 0 until levels) {
      val s2 = n >> (i + 1)
      df = df.select(col("ox"), col("oy"),
        expr(hilbertX(s2, n)).as("x"), expr(hilbertY(s2, n)).as("y"),
        expr(hilbertD(s2)).as("d"))
    }
    df.select(col("ox"), col("oy"), col("d")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
  }

  test("16x16: keys are a bijection onto 0..255") {
    val c = curve(16, 4)
    assert(c.map(_._3).sorted == (0L until 256L))
  }

  test("16x16: consecutive keys are unit Manhattan steps (true locality)") {
    val byD = curve(16, 4).sortBy(_._3)
    val bad = byD.sliding(2).filter { case Seq((x1, y1, _), (x2, y2, _)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(bad.isEmpty)
  }

  test("native HilbertKey == the unrolled fragment chain (the oracle's form)") {
    // the queries run the native expression; the oracle runs the CASE
    // fragments — this equality is what keeps them differential
    val frag = curve(16, 4).map { case (x, y, d) => ((x, y), d) }.toMap
    import spark.implicits._
    val native = spark.range(256).selectExpr(
      "CAST(id % 16 AS BIGINT) AS x", "CAST(id DIV 16 AS BIGINT) AS y")
      .select(col("x"), col("y"),
        GraftFunctions.hilbert(col("x"), col("y"), 4).as("h"))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt),
        r.getLong(2)))
    assert(native.forall { case (xy, h) => frag(xy) == h })
  }

  test("SQL surface: graft_hilbert matches the JVM impl") {
    val r = spark.sql("SELECT graft_hilbert(3L, 5L, 4) AS h").head().getLong(0)
    assert(r == graft.functions.expressions.HilbertImpl.xy2d(3L, 5L, 4))
  }

  test("z-order takes non-unit jumps where Hilbert never does") {
    // the comparative claim in q_hilbert_key's doc, pinned on the same grid
    val z = (0 until 256).map { id =>
      val (x, y) = (id % 16, id / 16)
      val zv = (0 until 4).map(b =>
        (((x >> b) & 1) << (2 * b)) + (((y >> b) & 1) << (2 * b + 1))).sum
      (x, y, zv)
    }.sortBy(_._3)
    val jumps = z.sliding(2).count { case Seq((x1, y1, _), (x2, y2, _)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(jumps > 0)
  }
}

package graft.perfbench

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.operators.Dedup

/** `batch_sf0.1`: driver queries from `graft.Bench.headline` over the
  * sf0.1 tables, one pass per cycle in a seed-shuffled order. Each result
  * is checked against a pinned row count and order-insensitive hash. */
final class BatchSf01 extends Workload {
  import BatchSf01._

  val warmupCycles = 0
  private var dir: String = _
  private var pinned: Map[String, (Long, Long)] = Map.empty
  private var rnd: scala.util.Random = _

  def generate(ctx: Ctx): Unit = {
    dir = new java.io.File(ctx.dataRoot, "sf0.1").getPath
    pinned = readPinned(new java.io.File(ctx.dataRoot, pinFile))
    require(queries.forall(pinned.contains), s"no pin for some of $queries")
    rnd = new scala.util.Random(ctx.seed)
    // resolve the tables once (schema inference), as a user's session would
    tables.foreach(graft.sources.Tables(ctx.spark, dir, _))
  }

  def cycle(ctx: Ctx, log: OpLog): Unit =
    rnd.shuffle(queries).foreach { name =>
      val kind = if (name.startsWith("q_")) "batch.ops" else "batch.tpch"
      log.op(kind) {
        ctx.tr("op")(SparkEntry.queries(name)(ctx.spark, dir).collect())
      }.foreach { rows =>
        log.check(s"$name rows/hash") {
          val (n, h) = pinned(name)
          val got = (rows.length.toLong, hash(rows))
          if (got != (n, h)) System.err.println(
            s"[perfbench] $name: got rows/hash $got, pinned ${(n, h)}")
          got == (n, h)
        }
      }
      Dedup.releaseAll(ctx.spark)
    }

  override def layer(ctx: Ctx, window: Seq[Sample], cycles: Int,
      fromNs: Long): Map[String, Double] = {
    val c = cycles.max(1)
    Map(
      "batch.tpch_s" -> window.filter(_.kind == "batch.tpch").map(_.ms).sum / 1e3 / c,
      "batch.ops_s" -> window.filter(_.kind == "batch.ops").map(_.ms).sum / 1e3 / c)
  }
}

object BatchSf01 {
  /** A fixed subset of `graft.Bench.headline` (TPC-H and pipeline
    * operators) sized so that one cold pass, one warm-up pass and the
    * measured passes fit the run's time budget. */
  val queries: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q5_region_volume", "q6_forecast",
    "q13_custdist", "q18_big_orders",
    "q_dedup_minhash_lsh", "q_sem_dedup", "q_bigram_lm", "q_bm25")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "orders", "lineitem", "documents", "embeddings")

  val pinFile = "batch_sf0.1.pins.tsv"

  /** Order-insensitive result hash: wrapping sum of the FNV-1a 64 of
    * each row's text form. */
  def hash(rows: Array[Row]): Long = rows.foldLeft(0L) { (acc, r) =>
    var h = 0xcbf29ce484222325L
    val s = r.toString
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    acc + h
  }

  def readPinned(f: java.io.File): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2).toLong))
      .toMap
    finally src.close()
  }
}

package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.sources.{Tables, VersionedTable}
import graft.streaming.{BoilerplateGate, SemGate, SubstrGate}

/** `gate_ingest`: streaming ingest that writes beside reads. One cycle,
  * on fresh state directories: seed-sliced `documents` micro-batches go
  * through the substring and boilerplate gates, `embeddings` batches
  * through the semantic gate with one epoch roll mid-stream, then one
  * takedown and the served reads. An op is one micro-batch commit. */
final class GateIngest extends Workload {
  import GateIngest._

  // the cold cycle is the only warm-up; one cycle holds only 12 commits,
  // so the window takes at least two
  val warmupCycles = 0
  override val minCycles = 2
  private var docBatches: Seq[DataFrame] = Nil
  private var embBatches: Seq[DataFrame] = Nil
  private var docs: Map[Long, String] = Map.empty
  private var vecs: Map[Long, Array[Double]] = Map.empty
  private var forgotten: Seq[Long] = Nil
  private var inputBytes = 0L
  private var substrTruth: Option[Set[String]] = None
  private var cycleNo = 0
  private val storedRatio = mutable.ArrayBuffer.empty[Double]
  private var outputRows = (0L, 0L) // substring runs, semantic pairs
  // traced only, keyed by start time: (files, bytes) each commit left,
  // and the latency of the boilerplate batches that compacted
  private val commitDelta = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val compactMs = mutable.ArrayBuffer.empty[(Long, Double)]

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = new java.io.File(ctx.dataRoot, "sf0.1").getPath
    val rnd = new scala.util.Random(ctx.seed)
    val docFrame = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val embFrame = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val pickedDocs = rnd.shuffle(docFrame.collect().toSeq).take(nDocs)
    val pickedEmb = rnd.shuffle(embFrame.collect().toSeq).take(nVecs)
    docs = pickedDocs.map(r => r.getLong(0) -> r.getString(1)).toMap
    vecs = pickedEmb.map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    forgotten = rnd.shuffle(docs.keys.toSeq.sorted).take(nDocs / 20)
    inputBytes =
      docs.values.map(t => 8L + t.getBytes("UTF-8").length).sum +
        vecs.values.map(v => 8L + 4L * v.length).sum
    // micro-batches arrive as in-memory frames, as from a stream source
    def local(rows: Seq[Row], like: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)
    docBatches = pickedDocs.grouped(nDocs / docBatchCount).toSeq
      .map(local(_, docFrame))
    embBatches = pickedEmb.grouped(nVecs / embBatchCount).toSeq
      .map(local(_, embFrame))
    substrTruth = None
  }

  def cycle(ctx: Ctx, log: OpLog): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    val root = new java.io.File(ctx.runDir, s"gate/cycle-$cycleNo")
    cycleNo += 1
    val p = (n: String) => new java.io.File(root, n).getPath
    val (sDocs, sGrams, sOut) = (p("substr/docs"), p("substr/grams"),
      p("substr/out"))
    val (bFreq, bOut) = (p("boiler/freq"), p("boiler/out"))
    val (mState, mOut) = (p("sem/state"), p("sem/out"))
    val substr = SubstrGate.sink(sDocs, sGrams, sOut, "doc_id", "text",
      minLen, nBuckets = buckets)
    val boiler = BoilerplateGate.sink(bFreq, bOut, "doc_id", "text",
      chunkTokens = 10, minDocs = 3, nBuckets = buckets,
      compactEvery = compactEvery)
    val sem = SemGate.sink(mState, mOut, "vec_id", "embedding", threshold,
      nBuckets = buckets)

    /** One micro-batch commit; traced runs also walk the state around
      * it, untimed, to see the files and bytes the commit left. */
    def commit(kind: String, span: String)(body: => Unit)
        : Option[(Long, Double)] = {
      val before = if (tr.on) log.untimed(Some(Probe.walk(root))) else None
      val t0 = System.nanoTime()
      val ok = log.op(kind)(tr("op")(tr(span)(body)))
      val ms = (System.nanoTime() - t0) / 1e6
      before.foreach { case (f0, b0) =>
        val (f1, b1) = log.untimed(Probe.walk(root))
        commitDelta += ((t0, f1 - f0, b1 - b0))
      }
      ok.map(_ => (t0, ms))
    }

    docBatches.zipWithIndex.foreach { case (b, i) =>
      commit("gate.substr", "streaming.substr_sink")(substr(b, i.toLong))
      val folds0 = if (tr.on) log.untimed(foldCount(bFreq)) else 0
      val ms = commit("gate.boilerplate", "streaming.boilerplate_sink")(
        boiler(b, i.toLong))
      if (tr.on && log.untimed(foldCount(bFreq)) != folds0)
        ms.foreach(compactMs += _)
    }
    embBatches.zipWithIndex.foreach { case (b, i) =>
      commit("gate.sem", "streaming.sem_sink")(sem(b, i.toLong))
      if (i == rollAfter)
        log.step("sem roll")(tr("streaming.sem_roll")(SemGate.rollEpoch(
          spark, mState, mOut, threshold, fromEpoch = 0,
          nBuckets = buckets)))
    }
    log.step("forget")(tr("streaming.forget")(
      SubstrGate.forget(spark, sDocs, sGrams, forgotten, 0L)))
    val served = log.step("served read")(tr("streaming.served_read") {
      val s = SubstrGate.served(spark, sDocs, sOut).collect()
      val m = SemGate.pairsWithEpoch(spark, mState, mOut).collect()
      Dedup.releaseAll(spark)
      (s, m)
    })

    served.foreach { case (subRows, semRows) =>
      log.check("substr served == batch operator over kept docs") {
        val truth = substrTruth.getOrElse {
          import spark.implicits._
          val kept = docs.toSeq.filterNot(d => forgotten.contains(d._1))
            .toDF("doc_id", "text")
          val t = Dedup.duplicatedSubstrings(kept, "doc_id", "text", minLen)
            .collect().map(_.toString).toSet
          Dedup.releaseAll(spark)
          substrTruth = Some(t)
          t
        }
        subRows.map(_.toString).toSet == truth &&
          subRows.length == truth.size
      }
      log.check("boilerplate emits every doc exactly once") {
        val ids = VersionedTable.read(spark, bOut).select("doc_id")
          .collect().map(_.getLong(0))
        ids.length == docs.size && ids.toSet == docs.keySet
      }
      outputRows = (subRows.length.toLong, semRows.length.toLong)
      log.check("semantic pairs exist and meet the cosine threshold") {
        semRows.nonEmpty && semRows.forall { r =>
          val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
          a < b && vecs.contains(a) && vecs.contains(b) &&
            cosine(vecs(a), vecs(b)) >= threshold - 1e-9
        }
      }
      log.untimed(storedRatio += Probe.walk(root)._2.toDouble / inputBytes)
    }
  }

  private def foldCount(freq: String): Int =
    Option(new java.io.File(freq, "_markers").list()).getOrElse(Array.empty)
      .count(_.startsWith("cmp-"))

  override def extras(cycles: Int): Map[String, Double] = Map(
    "stored_bytes_per_input_byte" -> storedRatio.takeRight(cycles).sum /
      cycles.max(1),
    "input_bytes" -> inputBytes.toDouble,
    "substr_runs_served" -> outputRows._1.toDouble,
    "sem_pairs_served" -> outputRows._2.toDouble)

  override def layer(ctx: Ctx, window: Seq[Sample], cycles: Int,
      fromNs: Long): Map[String, Double] = {
    val spans = ctx.tr.spans.filter(_.t0 >= fromNs)
    def meanMs(n: String) = {
      val s = spans.filter(_.name == n)
      if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
    }
    val commits = commitDelta.filter(_._1 >= fromNs)
    val compact = compactMs.filter(_._1 >= fromNs).map(_._2)
    Map(
      "streaming.substr_sink_ms" -> meanMs("streaming.substr_sink"),
      "streaming.boilerplate_sink_ms" -> meanMs("streaming.boilerplate_sink"),
      "streaming.boilerplate_compact_batch_ms" ->
        (if (compact.isEmpty) 0.0 else compact.sum / compact.size),
      "streaming.sem_sink_ms" -> meanMs("streaming.sem_sink"),
      "streaming.sem_roll_ms" -> meanMs("streaming.sem_roll"),
      "streaming.forget_ms" -> meanMs("streaming.forget"),
      "streaming.served_read_ms" -> meanMs("streaming.served_read"),
      "sources.files_per_commit" ->
        commits.map(_._2).sum.toDouble / commits.size.max(1),
      "sources.bytes_per_commit" ->
        commits.map(_._3).sum.toDouble / commits.size.max(1),
      "sources.stored_bytes_per_input_byte" -> extras(cycles)(
        "stored_bytes_per_input_byte"))
  }
}

object GateIngest {
  val nDocs = 300
  /** With `compactEvery = 2`, compaction fires on batches 2 and 4. */
  val docBatchCount = 5
  val nVecs = 400
  val embBatchCount = 2
  /** The semantic gate rolls its epoch after this batch (mid-stream). */
  val rollAfter = 0
  val minLen = 30
  /** One bucket per task slot of the 4-core host the benchmark is sized
    * for. */
  val buckets = 4
  val compactEvery = 2
  val threshold = 0.3

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }
}

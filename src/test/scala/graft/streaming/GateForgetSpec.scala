package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec
import graft.operators.Dedup
import graft.sources.VersionedTable

/** Retraction on the JOIN-STATE gates — takedown / contamination
  * discovered after ingest / right-to-be-forgotten: tombstone delete
  * files beside the state ([[BucketedState.forget]]), serve-through
  * anti-joins on every read path, physical purge via generation
  * rewrite. Contract per gate: after `forget(ids)`, (a) the served
  * output equals the batch operator over the stream prefix MINUS the
  * forgotten docs, (b) a forgotten doc never pairs with any future
  * arrival, (c) the crash window between the two state tombstones is
  * already safe, and (d) purge reclaims the bytes without changing a
  * single served row. */
class GateForgetSpec extends SparkSpec {

  private val L = 8

  private def canon(df: DataFrame): Set[String] = {
    val s = df.collect().map(_.toString).toSet
    Dedup.releaseAll(spark)
    s
  }

  private def subTruth(docs: Seq[(Long, String)]): Set[String] = {
    import spark.implicits._
    canon(Dedup.duplicatedSubstrings(
      docs.toDF("doc_id", "text"), "doc_id", "text", L))
  }

  test("substring gate: forget excludes emitted pairs, blocks future pairs, survives the partial-tombstone crash window, and purge reclaims bytes served-invariant") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-subfgt").toString
    val (docsPath, gramsPath, outPath) =
      (s"$dir/docs", s"$dir/grams", s"$dir/out")
    val snk = SubstrGate.sink(docsPath, gramsPath, outPath,
      "doc_id", "text", L, nBuckets = 4)
    val b0 = Seq(1L -> "xxABCDEFGHxx", 2L -> "ABCDEFGHqq",
      3L -> "zzzzzzzzzzzz")
    val b1 = Seq(4L -> "ppABCDEFGHpp", 5L -> "zzzzzzzzzz")
    snk(b0.toDF("doc_id", "text"), 0L)
    snk(b1.toDF("doc_id", "text"), 1L)
    // pre-forget sanity: gate == batch operator on the full prefix
    assert(canon(SubstrGate.served(spark, docsPath, outPath)) ==
      subTruth(b0 ++ b1))
    // ---- forget doc 2 (one side of emitted pairs with 1 and 4) ----
    SubstrGate.forget(spark, docsPath, gramsPath, Seq(2L), forgetId = 0L)
    val kept = (b0 ++ b1).filterNot(_._1 == 2L)
    assert(canon(SubstrGate.served(spark, docsPath, outPath)) ==
      subTruth(kept),
      "served output after forget != batch truth minus the forgotten doc")
    // retried takedown (same id): no-op, same answer
    SubstrGate.forget(spark, docsPath, gramsPath, Seq(2L), forgetId = 0L)
    assert(canon(SubstrGate.served(spark, docsPath, outPath)) ==
      subTruth(kept))
    // ---- future batch: a twin of the FORGOTTEN doc must pair with
    // the live twins (1, 4) but never with 2 ----
    val b2 = Seq(6L -> "ABCDEFGHnn")
    snk(b2.toDF("doc_id", "text"), 2L)
    val afterB2 = canon(SubstrGate.served(spark, docsPath, outPath))
    assert(afterB2 == subTruth(kept ++ b2))
    assert(!afterB2.exists(_.contains("[2,")),
      s"a forgotten doc paired with a new arrival: $afterB2")
    // ---- crash window: docs tombstoned, grams NOT (the forget's
    // second append crashed). The doc-text table is the residual
    // substrate, so the half-forgotten doc still cannot form pairs ----
    BucketedState.forget(spark, docsPath, Seq(4L).toDF("id"), 1L)
    val b3 = Seq(7L -> "ABCDEFGHvv")
    snk(b3.toDF("doc_id", "text"), 3L)
    val kept2 = kept.filterNot(_._1 == 4L)
    val afterB3 = canon(SubstrGate.served(spark, docsPath, outPath))
    assert(afterB3 == subTruth(kept2 ++ b2 ++ b3),
      "the docs-tombstoned-grams-not crash window emitted a forgotten pair")
    // the retry completes the gram tombstone idempotently
    SubstrGate.forget(spark, docsPath, gramsPath, Seq(4L), forgetId = 1L)
    assert(canon(SubstrGate.served(spark, docsPath, outPath)) ==
      subTruth(kept2 ++ b2 ++ b3))
    // ---- physical purge: bytes reclaimed, served rows invariant ----
    val rawDocsBefore = BucketedState
      .readBefore(spark, docsPath, Long.MaxValue).get.count()
    val servedBefore = canon(SubstrGate.served(spark, docsPath, outPath))
    BucketedState.purgeForgotten(spark, docsPath)
    BucketedState.purgeForgotten(spark, gramsPath)
    val rawDocsAfter = BucketedState
      .readBefore(spark, docsPath, Long.MaxValue).get.count()
    assert(rawDocsAfter == rawDocsBefore - 2,
      s"purge did not drop the 2 forgotten docs: $rawDocsBefore -> $rawDocsAfter")
    // the REGISTRY persists (takedowns are forever — the append-only
    // output table still serves through it) and served rows are
    // invariant across the purge
    assert(BucketedState.forgottenKeys(spark, docsPath).get
      .count() == 2L)
    assert(canon(SubstrGate.served(spark, docsPath, outPath)) ==
      servedBefore)
    // a second purge with no new takedowns is a NO-OP (watermark):
    // the generation must not advance; the stream continues over the
    // purged generation
    val genBefore = BucketedState.liveLayout(spark, docsPath).get.gen
    BucketedState.purgeForgotten(spark, docsPath)
    assert(BucketedState.liveLayout(spark, docsPath).get.gen == genBefore,
      "re-purge with no new takedowns rewrote the state again")
    val b4 = Seq(8L -> "ABCDEFGHkk")
    snk(b4.toDF("doc_id", "text"), 4L)
    assert(canon(SubstrGate.served(spark, docsPath, outPath)) ==
      subTruth(kept2 ++ b2 ++ b3 ++ b4))
  }

  test("semantic gate: forget excludes emitted pairs, blocks future pairs, and the next epoch roll is the physical purge") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semfgt").toString
    val (statePath, outPath) = (s"$dir/state", s"$dir/out")
    // three exact-duplicate families (cosine 1.0) + noise
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8)(k =>
        (math.floorMod(mix64(seed * 17 + k), 100L) + 1) / 100.0f)
    val b0 = Seq((1L, vec(1)), (2L, vec(1)), (3L, vec(3)), (4L, vec(4)))
    val b1 = Seq((5L, vec(1)), (6L, vec(3)))
    val snk = SemGate.sink(statePath, outPath, "vec_id", "embedding",
      threshold = 0.999, ncells = 2, kmIters = 1, m = 2, ks = 4,
      sd = 4, nBuckets = 4)
    snk(b0.toDF("vec_id", "embedding"), 0L)
    snk(b1.toDF("vec_id", "embedding"), 1L)
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.releaseAll(spark); s
    }
    val before = pairs(SemGate.served(spark, statePath, outPath))
    assert(before.contains((1L, 2L)) && before.contains((1L, 5L)) &&
      before.contains((2L, 5L)) && before.contains((3L, 6L)), s"$before")
    // ---- forget vec 2: its emitted pairs vanish from the serve ----
    SemGate.forget(spark, statePath, Seq(2L), forgetId = 0L)
    val after = pairs(SemGate.served(spark, statePath, outPath))
    assert(after == before.filterNot(p => p._1 == 2L || p._2 == 2L),
      s"$after")
    // a future twin pairs with 1 and 5 but never with forgotten 2
    snk(Seq((7L, vec(1))).toDF("vec_id", "embedding"), 2L)
    val afterB2 = pairs(SemGate.served(spark, statePath, outPath))
    assert(afterB2.contains((1L, 7L)) && afterB2.contains((5L, 7L)))
    assert(!afterB2.exists(p => p._1 == 2L || p._2 == 2L),
      s"forgotten vector paired with a new arrival: $afterB2")
    // ---- the epoch roll re-encodes SERVED vectors: physical purge ----
    val newEpoch = SemGate.rollEpoch(spark, statePath, outPath,
      threshold = 0.999, fromEpoch = 0, ncells = 2, kmIters = 1,
      m = 2, ks = 4, sd = 4, nBuckets = 4)
    assert(newEpoch == 1)
    val encNew = BucketedState
      .readBefore(spark, s"$statePath/enc-e1", Long.MaxValue).get
    assert(encNew.filter(col("cid") === 2L).isEmpty,
      "epoch roll re-encoded a forgotten vector")
    // catch-up did not resurrect the forgotten doc's pairs
    val afterRoll = pairs(SemGate.served(spark, statePath, outPath))
    assert(!afterRoll.exists(p => p._1 == 2L || p._2 == 2L))
    // and the stream continues under the new epoch, still excluding it
    snk(Seq((8L, vec(1))).toDF("vec_id", "embedding"), 3L)
    val afterB3 = pairs(SemGate.served(spark, statePath, outPath))
    assert(afterB3.contains((7L, 8L)) &&
      !afterB3.exists(p => p._1 == 2L || p._2 == 2L))
    // ---- composition: a SECOND forget under epoch 1, then a second
    // roll — the new epoch's enc table gets its own tombstones, the
    // serve filter accumulates, and the next roll purges both ----
    SemGate.forget(spark, statePath, Seq(3L), forgetId = 1L)
    val afterF2 = pairs(SemGate.served(spark, statePath, outPath))
    assert(!afterF2.exists(p =>
      Set(2L, 3L).contains(p._1) || Set(2L, 3L).contains(p._2)),
      s"second forget leaked: $afterF2")
    assert(afterF2.contains((7L, 8L)))
    val e2 = SemGate.rollEpoch(spark, statePath, outPath,
      threshold = 0.999, fromEpoch = 1, ncells = 2, kmIters = 1,
      m = 2, ks = 4, sd = 4, nBuckets = 4)
    assert(e2 == 2)
    val encE2 = BucketedState
      .readBefore(spark, s"$statePath/enc-e2", Long.MaxValue).get
    assert(encE2.filter(col("cid").isin(2L, 3L)).isEmpty,
      "second roll re-encoded a forgotten vector")
    snk(Seq((9L, vec(3))).toDF("vec_id", "embedding"), 4L)
    val afterB4 = pairs(SemGate.served(spark, statePath, outPath))
    // 9 is a twin of forgotten 3 and of live 6: pairs with 6 only
    assert(afterB4.contains((6L, 9L)) &&
      !afterB4.exists(p =>
        Set(2L, 3L).contains(p._1) || Set(2L, 3L).contains(p._2)),
      s"post-second-roll serve leaked: $afterB4")
  }

  test("spatial gate: forget excludes emitted pairs and blocks future proximity pairs") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spfgt").toString
    val (statePath, outPath) = (s"$dir/state", s"$dir/out")
    val snk = SpatialGate.sink(statePath, outPath, "id", "x", "y",
      radius = 10L, cell = 10L, nBuckets = 4)
    // 1,2 close; 3 close to both; 9 isolated
    snk(Seq((1L, 0L, 0L), (2L, 5L, 0L), (9L, 500L, 500L))
      .toDF("id", "x", "y"), 0L)
    snk(Seq((3L, 0L, 5L)).toDF("id", "x", "y"), 1L)
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      val s = df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.releaseAll(spark); s
    }
    assert(pairs(SpatialGate.served(spark, statePath, outPath)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    SpatialGate.forget(spark, statePath, Seq(2L), forgetId = 0L)
    assert(pairs(SpatialGate.served(spark, statePath, outPath)) ==
      Set((1L, 3L)))
    // a new point lands right on the forgotten one: pairs with 1 and 3,
    // never with 2
    snk(Seq((4L, 5L, 0L)).toDF("id", "x", "y"), 2L)
    assert(pairs(SpatialGate.served(spark, statePath, outPath)) ==
      Set((1L, 3L), (1L, 4L), (3L, 4L)))
  }

  test("cluster maintainer: forget drops the doc's label row and disconnects it from future arrivals (bridged clusters stay merged — documented)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cmfgt").toString
    val (labelsPath, idxPath) = (s"$dir/labels", s"$dir/idx")
    def txt(seed: Long) = (0 until 15)
      .map(k => f"${mix64(seed * 31L + k)}%016x").mkString(" ")
    val snk = ClusterMaintainer.sink(labelsPath, idxPath,
      "doc_id", "text", nBuckets = 4)
    // 1 and 2 are twins; 5 is a loner
    snk(Seq((1L, txt(7)), (2L, txt(7)), (5L, txt(99)))
      .toDF("doc_id", "text"), 0L)
    def labels(): Map[Long, Long] = {
      val m = ClusterMaintainer.served(spark, idxPath, labelsPath,
        "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Dedup.releaseAll(spark); m
    }
    assert(labels().keySet == Set(1L, 2L))
    ClusterMaintainer.forget(spark, idxPath, "doc_id", Seq(2L),
      forgetId = 0L)
    assert(labels().keySet == Set(1L),
      "forgotten doc's label row still served")
    // a new twin of the FORGOTTEN doc pairs with live twin 1 (direct
    // signature match) but the forgotten doc itself stays out
    snk(Seq((3L, txt(7))).toDF("doc_id", "text"), 1L)
    val l2 = labels()
    assert(l2.contains(3L) && l2.contains(1L) && !l2.contains(2L))
    assert(l2(3L) == l2(1L), "twins must share a cluster")
    // a doc whose ONLY connection would be the forgotten one gets no
    // cross pair: forget a loner-twin pair's stored side first
    ClusterMaintainer.forget(spark, idxPath, "doc_id", Seq(5L),
      forgetId = 1L)
    snk(Seq((6L, txt(99))).toDF("doc_id", "text"), 2L)
    assert(!labels().contains(6L),
      "a forgotten doc still connected a future arrival")
  }

  test("boilerplate gate: doc-level forget decrements segment support — a threshold crossing contributed by retracted docs un-crosses for future batches") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bgfgt").toString
    val (freqPath, outPath) = (s"$dir/freq", s"$dir/out")
    val seg = "alpha beta gamma delta epsilon" // one 5-token chunk
    def uniq(id: Long) = (0 until 5)
      .map(k => f"u${id}x$k%02d").mkString(" ")
    val snk = BoilerplateGate.sink(freqPath, outPath, "doc_id", "text",
      chunkTokens = 5, minDocs = 3, nBuckets = 4)
    // docs 1,2 carry the segment; support = 2 < 3 → kept
    snk(Seq((1L, s"$seg ${uniq(1)}"), (2L, s"$seg ${uniq(2)}"))
      .toDF("doc_id", "text"), 0L)
    // doc 3 pushes support to 3 → excised from doc 3 onward
    snk(Seq((3L, s"$seg ${uniq(3)}")).toDF("doc_id", "text"), 1L)
    val out1 = VersionedTable.read(spark, outPath)
      .filter(col("doc_id") === 3L).head
    assert(out1.getAs[Long]("n_boiler") == 1L,
      s"segment not excised at support 3: $out1")
    // ---- forget docs 1 and 2: support drops to 1 ----
    BoilerplateGate.forget(spark, freqPath,
      Seq((1L, s"$seg ${uniq(1)}"), (2L, s"$seg ${uniq(2)}"))
        .toDF("doc_id", "text"),
      "doc_id", "text", chunkTokens = 5, forgetId = 0L)
    // future doc with the segment: support 1 + 1 = 2 < 3 → KEPT
    // (without the forget it would be 4 ≥ 3 → excised)
    snk(Seq((4L, s"$seg ${uniq(4)}")).toDF("doc_id", "text"), 2L)
    val out2 = VersionedTable.read(spark, outPath)
      .filter(col("doc_id") === 4L).head
    assert(out2.getAs[Long]("n_boiler") == 0L,
      s"retracted support still excises: $out2")
    assert(out2.getAs[String]("clean_text").contains("alpha"))
    // partial support: doc 5 re-crosses with 3,4,5 → excised again
    snk(Seq((5L, s"$seg ${uniq(5)}")).toDF("doc_id", "text"), 3L)
    assert(VersionedTable.read(spark, outPath)
      .filter(col("doc_id") === 5L).head.getAs[Long]("n_boiler") == 1L)
  }
}

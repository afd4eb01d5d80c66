package graft.streaming

import org.apache.spark.sql.functions.col

import graft.athenaeum.SparkSpec
import graft.operators.{Dedup, Similarity}
import graft.sources.VersionedTable

/** The streaming semantic-dedup gate's cumulative pair table must equal
  * [[Similarity.cellPairsFrozen]] (quantizer frozen on the first batch)
  * over the stream's prefix after every batch — cross-batch pairs in
  * either id order included — and replays plus the crash windows
  * (state appends landed, output did not; state append half-landed)
  * must all be exactly-once via the partition-pruned pinned reads. */
class SemGateSpec extends SparkSpec {

  private val T = 0.8

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val s = df.collect().map(_.toString).toSet
    Dedup.releaseAll(spark)
    s
  }

  // deterministic 8-dim float vectors: three tight directions plus
  // per-vector jitter — near-dups within a direction, not across
  private def vec(dir: Int, jit: Int): Array[Float] = {
    val v = Array.fill(8)(0.05f * ((dir * 31 + jit * 17) % 5))
    v(dir % 8) = 1.0f
    v((dir + 3) % 8) = 0.3f * (dir % 3)
    v((jit + 5) % 8) += 0.02f * jit
    v
  }

  test("cumulative gate pairs equal the frozen-quantizer operator on every prefix; replays and crash windows are exactly-once") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semg").toString
    val (statePath, outPath) = (s"$dir/state", s"$dir/out")
    val snk = SemGate.sink(statePath, outPath, "vec_id", "embedding", T,
      ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4, pqIters = 1,
      nBuckets = 8)
    // b0: 6 vectors, two tight pairs (dirs 0 and 1); b1: 4 vectors —
    // cross-matches against stored dirs plus one intra pair (dir 2);
    // b2: one more dir-0 arrival (cross against b0 AND b1)
    val b0 = Seq((1L, vec(0, 0)), (2L, vec(0, 1)), (3L, vec(1, 0)),
      (4L, vec(1, 2)), (5L, vec(2, 0)), (6L, vec(5, 0)))
    val b1 = Seq((10L, vec(0, 2)), (0L, vec(1, 1)), (11L, vec(2, 1)),
      (12L, vec(2, 3)))
    val b2 = Seq((20L, vec(0, 3)))
    var seen = Seq.empty[(Long, Array[Float])]
    // the truth's frozen quantizer: trained on the FIRST batch, unit
    // vectors, same params as the gate
    lazy val cent = Similarity.kmeansCodebook(
      b0.toDF("vec_id", "embedding")
        .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
      "vec_id", "nv", ncells = 2, iters = 2)
    def truth(rows: Seq[(Long, Array[Float])]): Set[String] =
      canon(Similarity.cellPairsFrozen(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cent, T))
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      snk(b.toDF("vec_id", "embedding"), i.toLong)
      seen = seen ++ b
      val got = canon(VersionedTable.read(spark, outPath))
      assert(got == truth(seen),
        s"gate pairs != frozen-quantizer operator after batch $i")
    }
    assert(canon(VersionedTable.read(spark, outPath)).nonEmpty)

    // plain replay of the last epoch: no new versions, identical bytes
    val before = canon(VersionedTable.read(spark, outPath))
    snk(b2.toDF("vec_id", "embedding"), 2L)
    assert(VersionedTable.versions(spark, outPath).size == 3)
    assert(canon(VersionedTable.read(spark, outPath)) == before)

    // crash window: batch 7's STATE appends landed (enc half-landed:
    // marker deleted, partition files left), the output commit did not
    // — simulate by running the full batch then surgically removing
    // the output version and the enc marker
    val b3 = Seq((30L, vec(0, 4)), (31L, vec(1, 3)))
    snk(b3.toDF("vec_id", "embedding"), 7L)
    val v7 = VersionedTable.versions(spark, outPath).last
    val mdir = new java.io.File(s"$outPath/_manifests")
    assert(new java.io.File(mdir, f"v$v7%05d.txt").delete())
    mdir.listFiles().filter(_.getName.startsWith("bt-7-"))
      .foreach(f => assert(f.delete()))
    assert(new java.io.File(s"$statePath/enc/_markers/bt-7").delete())
    snk(b3.toDF("vec_id", "embedding"), 7L)
    assert(canon(VersionedTable.read(spark, outPath)) == truth(seen ++ b3),
      "crash-window replay diverged from the frozen-quantizer truth")
    // the half-landed enc append must appear exactly once after replay
    val enc7 = spark.table(BucketedState.tableName(s"$statePath/enc"))
      .filter(col("__bt") === 7L)
    assert(enc7.count() == 2L, "enc state for batch 7 not exactly-once")

    // re-delivered id in a NEW batch: must not pair with its own copy
    snk(Seq((1L, vec(0, 0))).toDF("vec_id", "embedding"), 9L)
    val self = VersionedTable.read(spark, outPath)
      .filter(col("id_a") === col("id_b")).count()
    Dedup.releaseAll(spark)
    assert(self == 0L, s"re-delivered id produced $self self-pairs")
  }

  test("rollEpoch refuses a non-quiet boundary: a batch whose state landed but whose output did not must replay before any roll") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semqb").toString
    val (statePath, outPath) = (s"$dir/state", s"$dir/out")
    val snk = SemGate.sink(statePath, outPath, "vec_id", "embedding", T,
      ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4, pqIters = 1,
      nBuckets = 8)
    val b0 = Seq((1L, vec(0, 0)), (2L, vec(0, 1)), (3L, vec(1, 0)),
      (4L, vec(1, 2)))
    val b1 = Seq((10L, vec(0, 2)), (11L, vec(2, 1)))
    snk(b0.toDF("vec_id", "embedding"), 0L)
    // simulate batch 1 crashing AFTER its vector-state append, BEFORE
    // its output commit: rolling here would re-encode (and catch-up-
    // pair) vectors the replay will process again — the guard must
    // refuse and leave the epoch unchanged
    BucketedState.appendOnce(
      b1.toDF("vec_id", "embedding").select(
        col("vec_id").cast("long").as("id"), col("embedding").as("v")),
      s"$statePath/vectors", 1L, "id", 8)
    assert(SemGate.rollEpoch(spark, statePath, outPath, T,
      fromEpoch = 0, ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4,
      nBuckets = 8) == 0, "roll must refuse a mid-flight batch")
    assert(SemGate.currentEpoch(spark, statePath) == 0)
    // the replay completes the batch; the roll then applies cleanly and
    // the cross-epoch invariant holds over the full prefix
    snk(b1.toDF("vec_id", "embedding"), 1L)
    assert(SemGate.rollEpoch(spark, statePath, outPath, T,
      fromEpoch = 0, ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4,
      nBuckets = 8) == 1)
    val centOld = Similarity.kmeansCodebook(
      b0.toDF("vec_id", "embedding")
        .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
      "vec_id", "nv", ncells = 2, iters = 2)
    val centNew = Similarity.kmeansCodebook(
      (b0 ++ b1).toDF("vec_id", "embedding")
        .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
      "vec_id", "nv", ncells = 2, iters = 2)
    def truth(cent: Array[Array[Double]]): Set[String] =
      canon(Similarity.cellPairsFrozen(
        (b0 ++ b1).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cent, T))
    assert(canon(VersionedTable.read(spark, outPath)) ==
      (truth(centOld) ++ truth(centNew)))
  }

  test("epoch roll mid-stream: retrain + re-encode + catch-up keep recall complete under the current codebook; a crash at the flip is retryable; read-side epoch tags are exact") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semroll").toString
    val (statePath, outPath) = (s"$dir/state", s"$dir/out")
    val snk = SemGate.sink(statePath, outPath, "vec_id", "embedding", T,
      ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4, pqIters = 1,
      nBuckets = 8)
    val b0 = Seq((1L, vec(0, 0)), (2L, vec(0, 1)), (3L, vec(1, 0)),
      (4L, vec(1, 2)), (5L, vec(2, 0)), (6L, vec(5, 0)))
    val b1 = Seq((10L, vec(0, 2)), (0L, vec(1, 1)), (11L, vec(2, 1)),
      (12L, vec(2, 3)))
    snk(b0.toDF("vec_id", "embedding"), 0L)
    snk(b1.toDF("vec_id", "embedding"), 1L)
    val atRoll = b0 ++ b1
    val centOld = Similarity.kmeansCodebook(
      b0.toDF("vec_id", "embedding")
        .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
      "vec_id", "nv", ncells = 2, iters = 2)
    def truth(rows: Seq[(Long, Array[Float])],
        cent: Array[Array[Double]]): Set[String] =
      canon(Similarity.cellPairsFrozen(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cent, T))
    val truthOld = truth(atRoll, centOld)
    assert(canon(VersionedTable.read(spark, outPath)) == truthOld)

    // crash at the worst window: catch-up landed, the epoch flip did
    // not — the gate must still be on epoch 0, output must already be
    // exactly old-truth ∪ new-truth (the catch-up is sound), and a
    // retry with the same fromEpoch completes the roll
    def roll(onBefore: () => Unit = () => ()): Int =
      SemGate.rollEpoch(spark, statePath, outPath, T, fromEpoch = 0,
        ncells = 3, kmIters = 2, m = 2, ks = 4, sd = 4, pqIters = 1,
        nBuckets = 8, onBeforeCommit = onBefore)
    val boom = intercept[RuntimeException] {
      roll(() => throw new RuntimeException("crash"))
    }
    assert(boom.getMessage == "crash")
    assert(SemGate.currentEpoch(spark, statePath) == 0)
    // the roll retrains on ALL accumulated vectors with the NEW ncells
    val centNew = Similarity.kmeansCodebook(
      atRoll.toDF("vec_id", "embedding")
        .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
      "vec_id", "nv", ncells = 3, iters = 2)
    val truthNewAtRoll = truth(atRoll, centNew)
    assert(canon(VersionedTable.read(spark, outPath)) ==
      (truthOld ++ truthNewAtRoll),
      "crashed roll left output != oldTruth ∪ newTruth")
    assert(roll() == 1, "retry did not complete the roll")
    assert(SemGate.currentEpoch(spark, statePath) == 1)
    assert(canon(VersionedTable.read(spark, outPath)) ==
      (truthOld ++ truthNewAtRoll))

    // the stream continues on the new epoch: recall complete under the
    // NEW codebook over the FULL prefix, plus the old epoch's pairs
    val b2 = Seq((20L, vec(0, 3)), (21L, vec(2, 2)))
    snk(b2.toDF("vec_id", "embedding"), 2L)
    val seen = atRoll ++ b2
    assert(canon(VersionedTable.read(spark, outPath)) ==
      (truthOld ++ truth(seen, centNew)),
      "post-roll batch diverged from oldTruth ∪ newTruth(prefix)")
    // replay on the new epoch: no new versions, identical bytes
    val before = canon(VersionedTable.read(spark, outPath))
    snk(b2.toDF("vec_id", "embedding"), 2L)
    assert(canon(VersionedTable.read(spark, outPath)) == before)

    // read-side epoch attribution: epoch 0 pairs are exactly the
    // old-codebook truth at the roll; epoch 1 owns the rest
    val tagged = SemGate.pairsWithEpoch(spark, statePath, outPath)
    val e0 = canon(tagged.filter(col("epoch") === 0L)
      .select(col("id_a"), col("id_b"), col("cosine")))
    val e1 = canon(tagged.filter(col("epoch") === 1L)
      .select(col("id_a"), col("id_b"), col("cosine")))
    assert(e0 == truthOld, "epoch-0 tag != pairs emitted before the roll")
    assert(e0 ++ e1 == before, "epoch tags do not partition the output")
    assert((e1 & e0).isEmpty)

    // a second roll (same params, fresh epoch) keeps the invariant
    assert(SemGate.rollEpoch(spark, statePath, outPath, T,
      fromEpoch = 1, ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4,
      pqIters = 1, nBuckets = 8) == 2)
    val centNew2 = Similarity.kmeansCodebook(
      seen.toDF("vec_id", "embedding")
        .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
      "vec_id", "nv", ncells = 2, iters = 2)
    assert(canon(VersionedTable.read(spark, outPath)) ==
      (truthOld ++ truth(seen, centNew) ++ truth(seen, centNew2)))
  }

  test("a roll that crashed pre-flip and is retried only AFTER the stream resumed retracts the stale re-encode snapshot — no duplicated encodings, no duplicated output, recall complete under the retry's codebook") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semresume").toString
    val (statePath, outPath) = (s"$dir/state", s"$dir/out")
    val snk = SemGate.sink(statePath, outPath, "vec_id", "embedding", T,
      ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4, pqIters = 1,
      nBuckets = 8)
    val b0 = Seq((1L, vec(0, 0)), (2L, vec(0, 1)), (3L, vec(1, 0)),
      (4L, vec(1, 2)), (5L, vec(2, 0)), (6L, vec(5, 0)))
    val b1 = Seq((10L, vec(0, 2)), (0L, vec(1, 1)))
    snk(b0.toDF("vec_id", "embedding"), 0L)
    snk(b1.toDF("vec_id", "embedding"), 1L)
    def roll(onBefore: () => Unit = () => ()): Int =
      SemGate.rollEpoch(spark, statePath, outPath, T, fromEpoch = 0,
        ncells = 3, kmIters = 2, m = 2, ks = 4, sd = 4, pqIters = 1,
        nBuckets = 8, onBeforeCommit = onBefore)
    // crash at the flip: the re-encode snapshot (pinned to batch 1, the
    // prefix's last id) and the catch-up both committed
    intercept[RuntimeException] {
      roll(() => throw new RuntimeException("crash"))
    }
    assert(SemGate.currentEpoch(spark, statePath) == 0)
    assert(BucketedState.committedBatches(spark, s"$statePath/enc-e1")
      == Set(1L))
    // THE STREAM RESUMES over the crash: two more batches commit on the
    // old epoch before anyone retries the roll
    val b2 = Seq((20L, vec(0, 3)), (21L, vec(2, 2)))
    val b3 = Seq((30L, vec(1, 3)))
    snk(b2.toDF("vec_id", "embedding"), 2L)
    snk(b3.toDF("vec_id", "embedding"), 3L)
    // the retry must retract the stale batch-1 snapshot and re-encode
    // the FULL prefix under batch 3's id — exactly one snapshot lives
    assert(roll() == 1, "retry did not complete the roll")
    assert(BucketedState.committedBatches(spark, s"$statePath/enc-e1")
      == Set(3L),
      "stale pre-resume re-encode snapshot survived the retry")
    val all = b0 ++ b1 ++ b2 ++ b3
    val encRows = spark
      .table(BucketedState.tableName(s"$statePath/enc-e1")).count()
    assert(encRows == all.size.toLong,
      s"enc-e1 holds $encRows rows for ${all.size} vectors — duplicated encodings")
    // recall: old-codebook truth over the full prefix, plus the crashed
    // attempt's catch-up (new-params codebook over the prefix AT THE
    // CRASH — sound pairs that stay), plus the retry's codebook over
    // the full prefix
    def km(rows: Seq[(Long, Array[Float])], k: Int) =
      Similarity.kmeansCodebook(
        rows.toDF("vec_id", "embedding")
          .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
        "vec_id", "nv", ncells = k, iters = 2)
    def truth(rows: Seq[(Long, Array[Float])],
        cent: Array[Array[Double]]): Set[String] =
      canon(Similarity.cellPairsFrozen(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cent, T))
    val want = truth(all, km(b0, 2)) ++
      truth(b0 ++ b1, km(b0 ++ b1, 3)) ++ truth(all, km(all, 3))
    assert(canon(VersionedTable.read(spark, outPath)) == want,
      "post-resume retry output != oldTruth ∪ crashTruth ∪ retryTruth")
    // and the output has NO duplicate pairs — the round-9 layout kept
    // both snapshots live and double-reported every stored encoding
    val out = VersionedTable.read(spark, outPath)
    assert(out.count() == out.distinct().count(),
      "duplicate output rows after the resumed-retry roll")
    // the stream continues on the new epoch without re-duplication
    val b4 = Seq((40L, vec(0, 4)))
    snk(b4.toDF("vec_id", "embedding"), 4L)
    val out2 = VersionedTable.read(spark, outPath)
    assert(out2.count() == out2.distinct().count(),
      "duplicate output rows on the first post-retry batch")
    // old-codebook truth stays frozen at the roll point; the new epoch
    // owns everything after
    assert(canon(out2) ==
      (want ++ truth(all ++ b4, km(all, 3))))
  }
}

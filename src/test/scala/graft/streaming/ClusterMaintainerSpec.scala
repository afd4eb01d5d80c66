package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.athenaeum.SparkSpec
import graft.operators.Dedup
import graft.sources.VersionedTable

case class CmDoc(doc_id: Long, text: String)

/** The streaming cluster maintainer must converge to EXACTLY the
  * labels a one-shot batch re-cluster of everything streamed would
  * produce — including a later batch that transitively merges clusters
  * formed by earlier batches — and must be idempotent under foreachBatch
  * replay. */
class ClusterMaintainerSpec extends SparkSpec {

  // near-dup families: docs inside a family share almost all 3-shingles;
  // families are mutually disjoint in vocabulary
  private val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val t1b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
  private val t2 = "one two three four five six seven eight nine ten"
  private val t2b = "one two three four five six seven eight nine eleven"
  // a bridge doc overlapping BOTH families (merges them when it arrives)
  // (state below: sigPath holds the BANDED index as a BucketedState)
  private val bridge = "gamma delta epsilon zeta eta three four five six seven"

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.releaseAll(spark)
    m
  }

  test("streamed batches == one-shot recompute; a bridge batch merges old clusters; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cm").toString
    val labelsPath = s"$dir/labels"
    val sigPath = s"$dir/sigs"
    val mem = MemoryStream[CmDoc]
    val q = mem.toDS().toDF().writeStream
      .foreachBatch(ClusterMaintainer.sink(labelsPath, sigPath,
        "doc_id", "text"))
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(CmDoc(1, t1), CmDoc(2, t1b), CmDoc(10, t2))
      q.processAllAvailable()
      mem.addData(CmDoc(11, t2b), CmDoc(20, bridge))
      q.processAllAvailable()
    } finally q.stop()

    val got = labelMap(VersionedTable.read(spark, labelsPath))
    // one-shot specification: true CC over the full corpus's candidates
    val all = Seq(CmDoc(1, t1), CmDoc(2, t1b), CmDoc(10, t2),
      CmDoc(11, t2b), CmDoc(20, bridge)).toDF()
    val sigs = Dedup.persistTracked(
      Dedup.minhashSignatures(all, "doc_id", "text"))
    val want = labelMap(Dedup.clustersStar(
      Dedup.candidatesFromSignatures(sigs, "doc_id")
        .select("doc_a", "doc_b"), "doc_a", "doc_b"))
    assert(got == want, s"got=$got want=$want")
    // the two committed label versions: v1 = batch-0 clustering, v2 =
    // after the bridge — and the signature index grew by append
    assert(VersionedTable.versions(spark, labelsPath).size == 2)
    // banded index state: 5 docs x 4 bands
    assert(BucketedState.readBefore(spark, sigPath, Long.MaxValue)
      .get.count() == 20)

    // foreachBatch replay of the last epoch must change nothing
    val replay = Seq(CmDoc(11, t2b), CmDoc(20, bridge)).toDF()
    ClusterMaintainer.sink(labelsPath, sigPath, "doc_id", "text")(replay, 1L)
    assert(VersionedTable.versions(spark, labelsPath).size == 2)
    assert(labelMap(VersionedTable.read(spark, labelsPath)) == got)
    assert(BucketedState.readBefore(spark, sigPath, Long.MaxValue)
      .get.count() == 20)
  }

  test("partial-failure replay (signatures landed, labels did not) converges to the same labels") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cm2").toString
    val labelsPath = s"$dir/labels"
    val sigPath = s"$dir/sigs"
    val sink = ClusterMaintainer.sink(labelsPath, sigPath, "doc_id", "text")
    sink(Seq(CmDoc(1, t1), CmDoc(2, t1b)).toDF(), 0L)
    val before = labelMap(VersionedTable.read(spark, labelsPath))
    // simulate the crash window: batch 1's SIGNATURES commit but its
    // labels do not (sig-first ordering), then the whole batch replays
    val batch1 = Seq(CmDoc(10, t2), CmDoc(11, t2b)).toDF()
    BucketedState.appendOnce(
      Dedup.lshIndex(Dedup.minhashSignatures(batch1, "doc_id", "text"),
        "doc_id").select("doc_id", "band", "bucket"),
      sigPath, 1L, "bucket", 32)
    sink(batch1, 1L)
    val got = labelMap(VersionedTable.read(spark, labelsPath))
    // labels must equal the clean two-batch outcome despite the batch's
    // signatures already sitting in the stored index during the replay
    val all = Seq(CmDoc(1, t1), CmDoc(2, t1b), CmDoc(10, t2),
      CmDoc(11, t2b)).toDF()
    val sigs = Dedup.persistTracked(
      Dedup.minhashSignatures(all, "doc_id", "text"))
    val want = labelMap(Dedup.clustersStar(
      Dedup.candidatesFromSignatures(sigs, "doc_id")
        .select("doc_a", "doc_b"), "doc_a", "doc_b"))
    assert(got == want, s"got=$got want=$want")
    assert(before.keySet.subsetOf(got.keySet))
  }

  test("replay under a finite maxBucket pins the pre-batch signature snapshot (cap interaction)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cm3").toString
    val labelsPath = s"$dir/labels"
    val sigPath = s"$dir/sigs"
    // IDENTICAL texts: every doc lands in the same (band, bucket) in
    // every band. Base = 3 docs, batch = 2 more; cap = 4 sits BETWEEN
    // the pre-batch bucket size (3, under the cap) and the
    // replay-inflated size (5, over it) — an unpinned replay would see
    // its own signatures in the stored index, push every bucket over
    // the cap, drop ALL genuine cross pairs, and leave the batch split
    // off as its own cluster
    val sink = ClusterMaintainer.sink(labelsPath, sigPath, "doc_id",
      "text", maxBucket = 4)
    sink(Seq(CmDoc(1, t1), CmDoc(2, t1), CmDoc(3, t1)).toDF(), 0L)
    val batch1 = Seq(CmDoc(10, t1), CmDoc(11, t1)).toDF()
    // crash window: batch 1's index rows land, its labels do not
    BucketedState.appendOnce(
      Dedup.lshIndex(Dedup.minhashSignatures(batch1, "doc_id", "text"),
        "doc_id").select("doc_id", "band", "bucket"),
      sigPath, 1L, "bucket", 32)
    sink(batch1, 1L)
    val got = labelMap(VersionedTable.read(spark, labelsPath))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L),
      s"replayed labels diverged from the no-crash clustering: $got")
  }

  test("a sink batch frees the blocks it tracked and keeps its caller's") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cm4").toString
    val sc = spark.sparkContext
    val callers = Dedup.persistTracked((1L to 9L).toDF("x"))
    assert(callers.count() == 9)
    val before = sc.getPersistentRDDs.keySet
    val sink = ClusterMaintainer.sink(s"$dir/labels", s"$dir/sigs",
      "doc_id", "text")
    sink(Seq(CmDoc(1, t1), CmDoc(2, t1b), CmDoc(10, t2)).toDF(), 0L)
    sink(Seq(CmDoc(11, t2b), CmDoc(20, bridge)).toDF(), 1L)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(callers.storageLevel.useMemory,
      s"a batch freed its caller's cache (batch blocks left: $left)")
    assert(left.isEmpty, s"batch blocks left persisted: $left")
  }
}

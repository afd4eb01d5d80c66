package graft.sources

import graft.athenaeum.SparkSpec
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** The versioned IVF-PQ index's pin contract, made executable: a query
  * batch served from a pinned version must be byte-identical before and
  * after a decoy append lands as the next version — and the SAME batch
  * served from the leaked (latest) version must differ, proving the
  * q_ann_ivfpq_versioned oracle actually has the power to catch a
  * leaked pin. */
class VersionedAnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("pinned serve ignores a mid-flight decoy append; a leaked pin would not") {
    val emb = Tables(spark, dir, "embeddings")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-vann").toString
    val path = s"$tmp/idx"
    val cbPath = s"$tmp/cb"
    val (cent, cb, enc) = Similarity.buildIvfPqIndex(
      emb, "vec_id", "embedding")
    val encC = Dedup.persistTracked(enc)
    val vBase = VersionedTable.commit(
      encC.repartition(col("cell")), path, "overwrite",
      statCols = Seq("cell"))
    val vCb = VersionedTable.commit(cb, cbPath, "overwrite")
    val pinnedIdx = VersionedTable.read(spark, path, Some(vBase))
    val pinnedCb = VersionedTable.read(spark, cbPath, Some(vCb))
    val q = emb.filter(col("vec_id") < 10)
    def serve(idx: org.apache.spark.sql.DataFrame): Seq[String] =
      Similarity.ivfPqStoredTopK(idx, pinnedCb, cent, q,
        "vec_id", "embedding", k = 5)
        .collect().map(_.toString).sorted.toSeq
    val before = serve(pinnedIdx)

    // the decoy append: every query's own encoding under a huge id —
    // ADC ~ 0, rank 1 for its query wherever it is visible
    VersionedTable.commit(
      encC.filter(col("cid") < 10)
        .withColumn("cid", col("cid") + 1000000L),
      path, "append", statCols = Seq("cell"))

    val afterPinned = serve(VersionedTable.read(spark, path, Some(vBase)))
    assert(afterPinned == before,
      "the pinned snapshot must be byte-stable across the append")
    // leak simulation: reading LATEST instead of the pin surfaces the
    // decoys — every query gains its own 1000000+qid twin at rank 1
    val leaked = serve(VersionedTable.read(spark, path))
    assert(leaked != before,
      "a leaked pin must change the result — else the oracle is powerless")
    val leakedIds = VersionedTable.read(spark, path)
      .filter(col("cid") >= 1000000L).count()
    assert(leakedIds == 10, "decoys must be present in the latest version")
    // and the zone maps rode both commits: every file of the latest
    // version carries cell stats (the cell-clustered layout's pruning
    // metadata survives the append)
    val stats = VersionedTable.fileStats(spark, path)
    assert(stats.nonEmpty && stats.forall(_.cols.contains("cell")))
  }
}

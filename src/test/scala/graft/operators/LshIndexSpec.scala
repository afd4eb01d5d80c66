package graft.operators

import graft.athenaeum.SparkSpec
import graft.sources.{GraftSink, Tables}
import org.apache.spark.sql.functions._

/** The stored-LSH-index ingest contract: the base corpus is signed once
  * and persisted; every increment joins against the STORED buckets.
  * Pins (a) value equality with the direct two-sided run and (b) the
  * scale property that makes the index worth storing — the ingest plan
  * never re-scans the base text.
  */
class LshIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables(spark, dir, "documents")
  private val path = "/tmp/graft_lsh_index_spec"

  test("stored-index ingest equals the direct two-sided run") {
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    GraftSink.writePartitioned(
      Dedup.lshIndex(
        Dedup.minhashSignatures(base, "doc_id", "text"), "doc_id"),
      path, Seq("band"))
    val stored = Dedup.ingestAgainstIndex(inc,
      spark.read.parquet(path), "doc_id", "text")
    val direct = Dedup.crossCorpusCandidates(inc, base, "doc_id", "text")
    assert(stored.count() == direct.count())
    assert(stored.except(direct).count() == 0 &&
      direct.except(stored).count() == 0)
  }

  test("ingest plan reads the base from the index, not the text corpus") {
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val plan = Dedup.ingestAgainstIndex(inc,
      spark.read.parquet(path), "doc_id", "text")
    val scans = graft.plans.PlanAudit.scanCounts(plan)
    // documents.parquet appears ONLY for the increment side
    assert(scans.getOrElse("documents.parquet", 0) <= 1,
      s"base text re-scanned: $scans")
    assert(scans.keys.exists(_.contains("graft_lsh_index_spec")),
      s"stored index not read: $scans")
  }

  test("index partition pruning: a single-band read scans one directory") {
    val one = spark.read.parquet(path).filter(col("band") === 0)
    val pruned = one.queryExecution.executedPlan.toString
    // hive-layout partitioning makes band=0 a directory filter, not a
    // row filter over the whole index
    assert(one.count() > 0)
    assert(pruned.contains("PartitionFilters: [isnotnull(band"),
      s"no partition filter in:\n$pruned")
  }

  // ---- stored IVF index (the ANN twin of the stored LSH index) ----

  private val ivfPath = "/tmp/graft_ivf_index_spec"

  test("stored IVF index serves exactly the in-memory ivfKmeansTopK results") {
    val emb = Tables(spark, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 10)
    val (cent, assigned) = Similarity.buildIvfIndex(
      emb, "vec_id", "embedding", ncells = 8, iters = 2)
    GraftSink.writePartitioned(assigned, ivfPath, Seq("cell"))
    val stored = Similarity.ivfStoredTopK(spark.read.parquet(ivfPath),
      cent, qs, "vec_id", "embedding", k = 3, nprobe = 2)
    val direct = Similarity.ivfKmeansTopK(emb, qs, "vec_id", "embedding",
      k = 3, ncells = 8, iters = 2, nprobe = 2)
    val a = stored.select("qid", "cid", "rank").collect().map(_.toSeq).toSet
    val b = direct.select("qid", "cid", "rank").collect().map(_.toSeq).toSet
    assert(a == b, s"stored diverges: ${(a diff b).take(3)} / ${(b diff a).take(3)}")
  }

  test("stored IVF query does not re-read the embeddings corpus") {
    val emb = Tables(spark, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 10)
    val (cent, _) = Similarity.buildIvfIndex(
      emb, "vec_id", "embedding", ncells = 8, iters = 2)
    val plan = Similarity.ivfStoredTopK(spark.read.parquet(ivfPath),
      cent, qs, "vec_id", "embedding", k = 3, nprobe = 2)
    val scans = graft.plans.PlanAudit.scanCounts(plan)
    // embeddings appears only for the (tiny, broadcast) query side
    assert(scans.getOrElse("embeddings.parquet", 0) <= 1,
      s"corpus re-scanned by the stored-index query: $scans")
    assert(scans.keys.exists(_.contains("graft_ivf_index_spec")),
      s"stored index not read: $scans")
  }

  test("IVF index partition pruning: a single-cell read is directory-filtered") {
    val one = spark.read.parquet(ivfPath).filter(col("cell") === 0)
    assert(one.count() > 0)
    val pruned = one.queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters: [isnotnull(cell"),
      s"no partition filter in:\n$pruned")
  }
}

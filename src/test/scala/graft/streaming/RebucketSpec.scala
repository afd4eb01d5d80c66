package graft.streaming

import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec
import graft.operators.Dedup
import graft.sources.VersionedTable

/** [[BucketedState.rebucket]] — the 100 TB re-shard story: a gate that
  * outgrows its bucket count migrates its state exactly-once and keeps
  * streaming, with the SAME cumulative output as a never-rebucketed
  * run. Covered here on a live SubstrGate stream: batches before, a
  * rebucket (including an injected crash at the worst window — after
  * the full rewrite, before the sidecar commit), batches after, parity
  * against the one-shot batch operator on every prefix. */
class RebucketSpec extends SparkSpec {

  // half the docs share a planted 40-char span so cross-batch runs
  // exist; the rest is unique hex
  private val planted = "THE-COMMON-RUN-" + "x" * 25
  private def batch(b: Int) = (0 until 40).map { i =>
    val id = b * 100L + i
    val uniq = (0 until 4).map(k => f"${mix64(id * 31L + k)}%016x").mkString
    (id, if (i % 2 == 0) uniq + planted else uniq + f"${mix64(id)}%016x")
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val s = df.collect().map(_.toString).toSet
    Dedup.releaseAll(spark)
    s
  }

  test("mid-stream rebucket under crash injection preserves prefix parity; the new layout serves and appends") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rebucket").toString
    val (docsPath, gramsPath, outPath) =
      (s"$dir/docs", s"$dir/grams", s"$dir/out")
    val snk = SubstrGate.sink(docsPath, gramsPath, outPath,
      "doc_id", "text", minLen = 30, nBuckets = 8)
    var seen = Seq.empty[(Long, String)]
    def truth(): Set[String] = canon(Dedup.duplicatedSubstrings(
      seen.toDF("doc_id", "text"), "doc_id", "text", 30))
    def check(tag: String): Unit =
      assert(canon(VersionedTable.read(spark, outPath)) == truth(),
        s"gate != one-shot operator $tag")

    for (b <- 0 until 2) {
      snk(batch(b).toDF("doc_id", "text"), b.toLong)
      seen = seen ++ batch(b)
    }
    check("before rebucket")

    // crash-injected rebucket: full rewrite landed, sidecar commit did
    // not — the state must still serve (and re-shard) from the OLD
    // generation, and a retry must complete cleanly
    val boom = intercept[RuntimeException] {
      BucketedState.rebucket(spark, gramsPath, 16,
        onBeforeCommit = () => throw new RuntimeException("crash"))
    }
    assert(boom.getMessage == "crash")
    check("after crashed rebucket (old generation must still serve)")
    BucketedState.rebucket(spark, gramsPath, 16)
    BucketedState.rebucket(spark, docsPath, 16)
    check("after completed rebucket")

    // the migrated tables really are the new layout: a 16-bucket
    // catalog spec at generation 1, no stale generation-0 directory.
    // (A BARE state read shows UnknownPartitioning — Spark's
    // autoBucketedScan rightly skips bucketed reads no operator needs;
    // GatePlanAuditSpec pins that the real state JOINS keep it.)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        BucketedState.tableName(gramsPath) + "_g1"))
    assert(meta.bucketSpec.map(_.numBuckets).contains(16),
      s"expected a 16-bucket layout, got ${meta.bucketSpec}")
    assert(!new java.io.File(s"$gramsPath/data").exists(),
      "stale generation-0 state directory survived the rebucket")

    // the stream continues transparently: the sink still passes its
    // original nBuckets=8 sizing, the live 16-bucket layout wins
    for (b <- 2 until 4) {
      snk(batch(b).toDF("doc_id", "text"), b.toLong)
      seen = seen ++ batch(b)
      check(s"after post-rebucket batch $b")
    }

    // replay of the last batch against the migrated state: no-op
    val before = canon(VersionedTable.read(spark, outPath))
    snk(batch(3).toDF("doc_id", "text"), 3L)
    assert(canon(VersionedTable.read(spark, outPath)) == before)

    // a same-count rebucket is a clean no-op
    BucketedState.rebucket(spark, gramsPath, 16)
    check("after no-op rebucket")
  }

  test("rebucket THEN epoch roll compose: the re-encode serves the migrated vector layout with cross-epoch parity; a stale-sized pre-partitioned append takes the re-align path") {
    import spark.implicits._
    import graft.operators.Similarity
    val T = 0.8
    def vec(d: Int, j: Int): Array[Float] = {
      val v = Array.fill(8)(0.05f * ((d * 31 + j * 17) % 5))
      v(d % 8) = 1.0f; v((d + 3) % 8) = 0.3f * (d % 3)
      v((j + 5) % 8) += 0.02f * j; v
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rbroll").toString
    val (statePath, outPath) = (s"$dir/state", s"$dir/out")
    val snk = SemGate.sink(statePath, outPath, "vec_id", "embedding", T,
      ncells = 2, kmIters = 2, m = 2, ks = 4, sd = 4, pqIters = 1,
      nBuckets = 8)
    val b0 = Seq((1L, vec(0, 0)), (2L, vec(0, 1)), (3L, vec(1, 0)),
      (4L, vec(1, 2)), (5L, vec(2, 0)), (6L, vec(5, 0)))
    val b1 = Seq((10L, vec(0, 2)), (0L, vec(1, 1)))
    snk(b0.toDF("vec_id", "embedding"), 0L)
    snk(b1.toDF("vec_id", "embedding"), 1L)
    // the state OUTGROWS its layout: vectors and encodings re-shard
    // 8 -> 16 mid-stream
    BucketedState.rebucket(spark, s"$statePath/vectors", 16)
    BucketedState.rebucket(spark, s"$statePath/enc", 16)
    // then the gate re-clusters: the roll reads the MIGRATED vector
    // state (generation resolution via the sidecar, not the sink's
    // stale 8-bucket param) and must compose with exact parity
    assert(SemGate.rollEpoch(spark, statePath, outPath, T,
      fromEpoch = 0, ncells = 3, kmIters = 2, m = 2, ks = 4, sd = 4,
      pqIters = 1, nBuckets = 8) == 1)
    def km(rows: Seq[(Long, Array[Float])], k: Int) =
      Similarity.kmeansCodebook(
        rows.toDF("vec_id", "embedding")
          .select(col("vec_id"), Similarity.unitVec("embedding").as("nv")),
        "vec_id", "nv", ncells = k, iters = 2)
    def truth(rows: Seq[(Long, Array[Float])],
        cent: Array[Array[Double]]): Set[String] =
      canon(Similarity.cellPairsFrozen(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cent, T))
    val atRoll = b0 ++ b1
    assert(canon(VersionedTable.read(spark, outPath)) ==
      (truth(atRoll, km(b0, 2)) ++ truth(atRoll, km(atRoll, 3))),
      "rebucket+roll output != oldTruth ∪ newTruth")
    // the stream continues on the new epoch over the migrated layout
    val b2 = Seq((20L, vec(0, 3)), (21L, vec(2, 2)))
    snk(b2.toDF("vec_id", "embedding"), 2L)
    val seen = atRoll ++ b2
    assert(canon(VersionedTable.read(spark, outPath)) ==
      (truth(atRoll, km(b0, 2)) ++ truth(seen, km(atRoll, 3))),
      "post-roll batch over the migrated layout lost parity")
    // the vector state is still the 16-bucket generation-1 layout
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        BucketedState.tableName(s"$statePath/vectors") + "_g1"))
    assert(meta.bucketSpec.map(_.numBuckets).contains(16),
      s"vector state lost its migrated layout: ${meta.bucketSpec}")

    // deliberate layout-mismatch injection: an append claiming
    // prePartitioned under the STALE 8-bucket sizing must take the
    // re-align path — the plan shows a 16-way hash exchange (honoring
    // the claim would skip it and break the one-file-per-bucket
    // layout accounting)
    val plans = withConf("spark.sql.adaptive.enabled" -> "false") {
      graft.Work.measure(spark) {
        val stale = Seq((90L, vec(0, 7))).toDF("vec_id", "embedding")
          .select(col("vec_id").cast("long").as("id"),
            col("embedding").as("v"))
          .repartition(8, col("id"))
        BucketedState.appendOnce(stale, s"$statePath/vectors", 9L,
          "id", 8, prePartitioned = true)
      }._2.plans
    }
    val realigned = plans.exists(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical
              .HashPartitioning => h.numPartitions == 16
          case _ => false
        }
    }.exists(identity))
    assert(realigned,
      "stale-sized prePartitioned append skipped the re-align exchange")
    assert(BucketedState.readBefore(spark, s"$statePath/vectors", 10L)
      .get.filter(col("id") === 90L).count() == 1L)
  }

  test("a crashed first append's stale sidecar cannot survive a re-sized retry") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-bsfresh").toString + "/state"
    val rows = (0 until 20).map(i => (i.toLong, f"${mix64(i)}%016x"))
      .toDF("id", "t")
    // first append at 4 buckets CRASHES after the sidecar + data write
    // but before the batch marker: delete marker + partition to
    // simulate (the sidecar survives, recording nBuckets=4)
    BucketedState.appendOnce(rows, path, 0L, "id", 4)
    assert(new java.io.File(s"$path/_markers/bt-0").delete())
    val dataDir = new java.io.File(s"$path/data/__bt=0")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(dataDir)
    // the operator retries the gate RE-SIZED to 8 buckets: the fresh
    // path must overwrite the stale 4-bucket sidecar, else a catalog
    // re-register would declare the wrong modulus over 8-bucket files
    BucketedState.appendOnce(rows, path, 0L, "id", 8)
    spark.sql(s"DROP TABLE ${BucketedState.tableName(path)}")
    // catalog loss: re-register from the sidecar, verify layout + data
    val got = BucketedState.readBefore(spark, path, 1L).get
    assert(got.count() == 20)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        BucketedState.tableName(path)))
    assert(meta.bucketSpec.map(_.numBuckets).contains(8),
      s"stale sidecar survived the re-sized retry: ${meta.bucketSpec}")
  }
}

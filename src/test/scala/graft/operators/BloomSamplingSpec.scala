package graft.operators

import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec
import graft.sources.Tables

/** Bloom-filter join pruning + deterministic sampling invariants. */
class BloomSamplingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def fact = Tables(spark, dir, "lineitem")
  private def dim =
    Tables(spark, dir, "supplier").filter(col("s_nationkey") < 5)
  private def docs = Tables(spark, dir, "documents")

  test("bloom prune: pass set sandwiched between true matches and all rows") {
    val m = 1 << 16; val k = 5
    val total = fact.count()
    val pruned = Bloom.prune(fact, "l_suppkey", dim, "s_suppkey", m, k).count()
    val exact = fact.join(dim.select(col("s_suppkey")).distinct(),
      col("l_suppkey") === col("s_suppkey"), "left_semi").count()
    assert(exact <= pruned && pruned <= total,
      s"exact=$exact pruned=$pruned total=$total")
    // with ~100 keys in a 65536-bit filter the FPP is ~0: the filter must
    // actually prune, not just pass everything through
    assert(pruned < total, "bloom filter pruned nothing")
    assert(pruned <= exact + (total - exact) / 10,
      s"false-positive rate way above sizing: pruned=$pruned exact=$exact")
  }

  test("bloom pruned join == plain join exactly (false positives die in the join)") {
    val plain = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val viaBloom = Bloom.prunedJoin(fact, "l_suppkey", dim, "s_suppkey")
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    assert(viaBloom == plain)
  }

  test("bloom prune is a map-side narrow filter: no exchange below the filter") {
    val pruned = Bloom.prune(fact, "l_suppkey", dim, "s_suppkey")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bloom prune introduced a shuffle:\n$plan")
  }

  test("bloom stats: accounting identities hold") {
    val r = Bloom.stats(fact, "l_suppkey", dim, "s_suppkey").head
    val Seq(m, kh, bitsSet, factRows, bloomPass, trueMatch, falsePos) =
      (0 until 7).map(r.getLong)
    assert(m == (1L << 16) && kh == 5)
    assert(bitsSet > 0 && bitsSet <= kh * dim.count())
    assert(falsePos == bloomPass - trueMatch && falsePos >= 0)
    assert(trueMatch <= bloomPass && bloomPass <= factRows)
  }

  test("domain quota: at most n per source, deterministic across reruns") {
    val q1 = Sampling.domainQuota(docs, "doc_id", "source", n = 3, margin = 2)
    val perSrc = q1.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSrc.values.forall(_ <= 3), s"quota exceeded: $perSrc")
    assert(perSrc.nonEmpty)
    val ids1 = q1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.domainQuota(docs, "doc_id", "source", n = 3, margin = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "quota sample not deterministic")
  }

  test("domain quota: small sources are never pre-filtered away entirely") {
    // margin*n >= src_n means the hash threshold exceeds the hash range:
    // every doc of a small source survives to the window, so a source
    // with at least n docs yields exactly n
    val n = 2
    val srcSizes = docs.groupBy("source").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.domainQuota(docs, "doc_id", "source", n, margin = 1000)
      .groupBy("source").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    srcSizes.foreach { case (s, c) =>
      assert(kept.getOrElse(s, 0L) == math.min(c, n.toLong),
        s"source $s: size $c kept ${kept.get(s)}")
    }
  }

  test("mixture sampling: rates track weights, max-weight source keeps all") {
    val w = Map("src0" -> 4L, "src1" -> 1L)
    val r = Sampling.mixtureCounts(docs, "doc_id", "source", w)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val bySrc = r.map(x => x._1 -> ((x._2, x._3))).toMap
    // weight == max keeps everything (threshold == P > any hash)
    assert(bySrc("src0")._1 == bySrc("src0")._2)
    // unlisted sources keep nothing but still report totals
    bySrc.filterNot(x => w.contains(x._1)).foreach { case (_, (kept, total)) =>
      assert(kept == 0 && total > 0)
    }
    // weight-1-of-4 source keeps a strict subset
    val (k1, t1) = bySrc("src1")
    assert(k1 < t1)
  }

  test("leakage split: candidate near-dup pairs never straddle splits") {
    import graft.functions.XFormulas
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .select("doc_a", "doc_b")
    val cl = Dedup.clusters(pairs, "doc_a", "doc_b")
      .withColumnRenamed("doc_a", "doc_id")
    val splitOf = docs.select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
      .withColumn("bucket", expr(
        s"(${XFormulas.sparkStrHash("concat('split#', CAST(rep AS STRING))")}) % 10"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END"))
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val straddle = pairs.collect().filter(r =>
      splitOf(r.getLong(0)) != splitOf(r.getLong(1)))
    assert(straddle.isEmpty,
      s"near-dup pairs across splits: ${straddle.take(5).mkString(", ")}")
    // and the buckets actually partition: every doc got exactly one split
    assert(splitOf.size == docs.count())
  }

  test("novelty filter == plain anti join; bloom short-circuit prunes the join input") {
    import graft.functions.GraftFunctions
    val fp = docs.withColumn("fp", GraftFunctions.polyHash(col("text")))
    val base = fp.filter(col("doc_id") % 3 =!= 0)
      .select(col("fp").as("base_fp"))
    val ingest = fp.filter(col("doc_id") % 3 === 0)
    val got = Bloom.noveltyFilter(ingest, "fp", base, "base_fp")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ingest.join(base, col("fp") === col("base_fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // the maybe-side (rows that must pay the exact anti join) is the
    // duplicate sliver + FPP, far below the full ingest batch
    val mask = Bloom.buildMask(base, "base_fp", 1 << 16, 5)
    val maybe = ingest.filter(Bloom.mightContain(col("fp"), mask, 5)).count()
    val nIngest = ingest.count()
    val nDup = nIngest - want.size
    assert(maybe < nIngest, "bloom short-circuited nothing")
    assert(maybe <= nDup + (nIngest - nDup) / 10,
      s"false-positive rate way above sizing: maybe=$maybe dup=$nDup n=$nIngest")
  }

  test("native bloomContains agrees with the SQL forall formulation") {
    val m = 1 << 12; val k = 5
    val mask = Bloom.buildMask(dim, "s_suppkey", m, k)
    val viaNative = fact
      .filter(Bloom.mightContain(col("l_suppkey"), mask, k)).count()
    val viaSql = fact
      .filter(expr(Bloom.mightContainSql("l_suppkey", mask, m, k))).count()
    assert(viaNative == viaSql)
  }

  test("cluster weights: each near-dup cluster contributes ~1 doc of mass") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .select("doc_a", "doc_b")
    val cl = Dedup.clusters(pairs, "doc_a", "doc_b")
      .withColumnRenamed("doc_a", "doc_id")
    val perRep = docs.select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
      .withColumn("csize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("rep"))))
      .withColumn("wq", expr("CAST(ROUND(1000000000.0 / csize) AS BIGINT)"))
      .groupBy("rep")
      .agg(sum("wq").as("s"), max("csize").as("n"))
      .collect()
    assert(perRep.nonEmpty)
    perRep.foreach { r =>
      val (s, n) = (r.getLong(1), r.getLong(2))
      // rounding error per member is <= 0.5, so the cluster total is 1e9 +- n
      assert(math.abs(s - 1000000000L) <= n, s"rep=${r.get(0)} s=$s n=$n")
    }
    // multi-doc clusters exist in the fixture, so soft dedup is non-trivial
    assert(perRep.exists(_.getLong(2) > 1))
  }

  test("quality sample: head tercile keeps 100%, overall a strict subset") {
    val r = graft.SparkEntry.queries("q_quality_sample")(spark, dir)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.nonEmpty)
    // head bin rate is 10/10: the threshold exceeds the hash range
    r.filter(_._2 == 3L).foreach { case (lang, _, kept, total) =>
      assert(kept == total, s"head bin of $lang dropped docs: $kept/$total")
    }
    val (k, t) = (r.map(_._3).sum, r.map(_._4).sum)
    assert(k < t, s"sampling kept everything: $k/$t")
  }

  test("lm doc scores: probabilities in (0,1], short docs absent") {
    val sc = TextAnalysis.bigramDocScores(docs, "doc_id", "text")
    assert(sc.filter(col("avg_p") <= 0 || col("avg_p") > 1).count() == 0)
    // every scored doc has at least one bigram
    assert(sc.filter(col("nb") < 1).count() == 0)
    // scoring is stable across reruns (persist barrier + exact math)
    val a = sc.orderBy("doc_id").collect().map(_.toSeq)
    val b = TextAnalysis.bigramDocScores(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }
}

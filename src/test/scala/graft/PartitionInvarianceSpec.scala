package graft

import graft.athenaeum.SparkSpec

/** The repo's determinism discipline (fixed-point integer sums, decimal
  * aggregates, quantize-before-aggregate, unique-key tie-breaks) claims
  * results are independent of physical partitioning. This spec makes
  * the claim EXECUTABLE for a representative slice of the surface: each
  * query runs under 5 and 32 shuffle partitions and must produce
  * IDENTICAL rows — including every double bit. Queries whose outputs
  * are deliberately order-dependent lower bounds (Misra-Gries counts)
  * are out of scope by design. */
class PartitionInvarianceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // windows, sketches, iterative graph rounds, quantized similarity,
  // prefix-sum sampling, hash-keyed augmentation, sqrt-based intervals
  private val names = Seq(
    "q_kmv_distinct", "q_pagerank", "q_pps_sample", "q_layout_compare",
    "q_colbert_maxsim", "q_hilbert_key", "q_mix_temperature",
    "q_word_dropout", "q_quantile_norm", "q_bigram_lm", "q_ab_wilson",
    "q_interarrival", "q_seasonal_dow", "q_ivm_kmv", "q_golden_record",
    // the round-5 two-phase global ranks: the rank must not depend on
    // where the sampled range boundaries land or how many shuffle
    // partitions feed them
    "q_ntile", "q_rfm", "q_pareto", "q_ingest_clusters",
    // the transparent window rewrite: bucket COUNT follows
    // shuffle.partitions (5 vs 32 → different cutpoint sets), yet every
    // rank/running-aggregate VALUE must be bit-identical; plus the new
    // chunking/excision operators (pure hash arithmetic)
    "q_sql_global_rank", "q_sql_running", "q_sql_share",
    "q_cdc_segments", "q_boilerplate",
    // manifest zone maps: the per-year clustered build runs under both
    // settings — stored stats and the pruned read must not notice
    "q_skip_stats", "q_skip_read",
    // session-2 operators: grid DBSCAN (CC labels + min-label borders;
    // at sf0.001 the lattice is all-noise but every point still
    // labels), exact scaled-BIGINT CUSUM, thresholded-levenshtein
    // verify after the explicit pair rebalance (q_link_predict,
    // q_phrase_*, and the pair-emitting spatial joins are EMPTY at
    // sf0.001 — the spec requires rows; their determinism is pinned by
    // total-order cuts and the sf0.01 oracle instead)
    "q_spatial_dbscan", "q_cusum", "q_dedup_edit", "q_zipf",
    // the training-order file: a ParallelRank total order whose
    // positions must not depend on range-boundary sampling or shuffle
    // partition count
    "q_train_order",
    // round-8 additions: the manifest-diff readout (file-level
    // symmetric difference + one id-keyed outer join) and the
    // sampled-anchor substring dedup (winnowing + regime guard + dense
    // recompute of the matched minority) — exact span boundaries and
    // token-drift sums must not depend on partition count
    "q_corpus_diff", "q_substr_dup_sampled",
    // round-9: the streaming semantic gate — frozen centroids + exact
    // cosines make its pair set deterministic; the whole exactly-once
    // fixture (training, bucketed appends, screened serve) re-runs
    // under both partition counts and must emit bit-identical pairs
    "q_sem_gate")

  private def canon(name: String, parts: Int): Seq[String] =
    try withConf("spark.sql.shuffle.partitions" -> parts.toString) {
      SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    } finally graft.operators.Dedup.releaseAll(spark)

  names.foreach { name =>
    test(s"$name: identical rows under 5 vs 32 shuffle partitions") {
      val a = canon(name, 5)
      val b = canon(name, 32)
      assert(a.nonEmpty, s"$name returned no rows")
      assert(a == b,
        s"$name diverged across partitionings: " +
          a.zip(b).find { case (x, y) => x != y }.map {
            case (x, y) => s"first diff:\n  p5 : $x\n  p32: $y" }
          .getOrElse(s"sizes ${a.size} vs ${b.size}"))
    }
  }
}

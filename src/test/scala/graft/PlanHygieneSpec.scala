package graft

import graft.athenaeum.SparkSpec

/** Meta-guard over EVERY SparkEntry query's physical plan: no query may
  * silently regress to a nested-loop/cartesian shape (the classic
  * 100 TB killer — a changed filter or join key turns a hash join into
  * BroadcastNestedLoopJoin and nothing fails until production).
  * Queries that use a cross join BY DESIGN are whitelisted with the
  * reason pinned here. The plans come from the shared [[QuerySurface]]
  * pass, which also executes each query for SmokeAllQueriesSpec.
  */
class PlanHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Each query's audit, or `name (plan failed: …)`, through `check`. */
  private def planOffenders(check: (String, QuerySurface.Audit) => Option[String])
      : Seq[String] =
    QuerySurface.at(spark, dir).flatMap { case (name, r) =>
      r.audit.fold(e => Some(s"$name (plan failed: $e)"), check(name, _))
    }

  // deliberate cross/nested-loop joins: tiny or broadcast-scored by design
  private val intentionalCross = Set(
    "q_cross_join",     // J9 surface: 5x25 rows
    "q_ann_topk",       // brute-force baseline: broadcast query set x candidates
    "q_ann_pq",         // ADC scan: broadcast query set x compressed candidates
    "q_ann_pq2",        // same ADC shape with the trained codebook
    "q_ann_ivfpq",      // 1-row trained residual codebook crossed into encode
    "q_ann_ivfpq_stored", // same shape served from the stored layout
    "q_ann_ivfpq_versioned", // same serve shape, pinned VersionedTable reads
    "q_ann_ivfpq_refined", // same shape + broadcast rerank join
    "q_proximity_rank", // 1-row corpus-stats + per-term df scalars crossed in
    "q_ann_recall_report", // brute-force truth x IVF-PQ + 1-row count crosses
    "q_label_probe",    // 1-row per-label centroid pack crossed into classify
    "q_bpe_merges",     // 1-row top-pair scalar crossed into each rewrite
    "q_bpe_compression", // same chain + two 1-row before/after aggregates
    "q22_quiet_rich",   // 1-row scalar aggregate crossed into the filter
    "q_scalar_subquery", // 1-row subquery result joined in
    "q_tfidf_like",     // 1-row corpus-size scalar crossed into the scoring
    "q_word_cooccur",   // 1-row corpus-size scalar crossed into the lift
    "q_hll_sketch",     // two 1-row scalars (merged estimate + exact) crossed in
    "q_kmv_join_est",   // three 1-row sketch/exact aggregates crossed in
    "q_chi2_tokens",    // 50-token vocab x source-count grid (both broadcast-tiny)
    "q_skew_report",    // two 1-row summaries (stats x heavy-hitter list) crossed
    "q_heavy_hitters",  // exact top-5 crossed with the 1-row MG sketch
    "q_vocab_coverage", // 1-row total-token scalar crossed into the coverage
    "q_source_mix",     // 1-row max-token scalar crossed into the weights
    "q_basket_lift",    // 1-row order-count scalar crossed into the lift
    "q_assoc_rules",    // 1-row order-count scalar crossed into the support
    "q_t_closeness",    // band-count grid + 1-row total crossed into the TV grid
    "q_mix_temperature", // 1-row quantized-sqrt totals crossed into the shares
    "q_layout_compare", // 1-row exact-match count crossed into the readout
    "q_hard_negatives", // brute-force shape: broadcast query set x candidates
    "q_bm25",           // 1-row corpus-stats scalar crossed into the scoring
    "q_hybrid_rrf",     // 1-row corpus/df/query-vector scalars crossed in
    "q_bitext_margin",  // brute-force shape: broadcast src batch x tgt
    "q_ann_matryoshka", // two brute-force arms: broadcast query set x candidates
    "q_retrieval_ndcg", // brute-force ranking arm: broadcast query set x candidates
    "q_retrieval_mrr",  // same brute-force ranking arm as q_retrieval_ndcg
    "q_colbert_maxsim", // broadcast 8-token query set x doc-token scan
    "q_contrastive_pairs", // 1-row max-doc-id scalar crossed into the neg pick
    "q_quantile_norm",  // 1-row pooled-count scalar crossed into the index map
    "q_last_digit",     // 1-row total-count scalar crossed into the chi2 grid
    "q_shard_plan",     // 1-row total-bytes scalar crossed into the balance
    "q_contam_embedding", // broadcast benchmark set x corpus scan
    "q_contam_matrix",  // same broadcast benchmark-vector arm as q_contam_embedding
    "q15_top_revenue",  // 1-row max-revenue scalar crossed into the filter
    "q_ks_test",        // 1-row cohort-totals scalar crossed into the max
    "q_len_drift_ks",   // same 1-row totals cross as q_ks_test
    "q_benford",        // 1-row digit-total scalar crossed into the ppm
    "q_mix_plan",       // 1-row weight-sum scalar crossed into the shares
    "q_mix_waterfill",  // per-round 1-row redistribution scalars crossed
    "q_neyman_sample",  // 1-row weight-sum + leftover scalars crossed
    "q_sql_share",      // GlobalWindowRule's agg-OVER-() rewrite: 1-row scalar crossed
    "q_dsir_weights",   // 1-row corpus-totals scalar in dsirModel
    "q_dq_checks",      // three 1-row constraint aggregates crossed + stacked
    // reference theta-join surface (J2/J3): inequality-only predicates
    // have no equi key, so a nested loop is the ONLY plan; both queries
    // run on dimension-sized inputs. The scale path for range predicates
    // is the factorized/bucketed form (q_range_join, operators.RangeJoin).
    "q_join_theta_neq", // nation <> region: 25x5
    "q_join_range")     // supplier self range: dim x dim

  test("no unintended BroadcastNestedLoopJoin / CartesianProduct in any query") {
    val offenders = planOffenders { (name, a) =>
      if (a.nestedLoop && !intentionalCross(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"nested-loop plans in: ${offenders.mkString(", ")}")
  }

  // deliberate repeated scans: the repetition is the query's semantics
  // (multi-branch TPC-H reference shapes) or an explicit design tradeoff
  private val intentionalMultiScan = Map(
    // TPC-H Q21: lineitem as l1 + EXISTS l2 + NOT EXISTS l3 — three
    // references are the query's definition
    "q21_lonely_return" -> 3,
    // per-column aggregate union BY DESIGN: each branch scans exactly one
    // pruned column (6.5x warm win vs the all-column pass; the per-job
    // scheduling tradeoff is documented in Profiling.scala's scaladoc)
    "q_profile" -> 6,
    // GlobalWindowRule's STATELESS rewrite: the query stacks two windows
    // with different ORDER BYs, and each rewrite adds one single-column
    // map-side-combined offsets scan beside the full-row pass — the
    // deliberate price of a cache-free recompute-safe plan (the offsets
    // scans read ONE column each; see ParallelRank.rankFamily scaladoc)
    "q_sql_global_rank" -> 3,
    // same shape: running aggregates over one order + cume_dist over
    // another = two rewritten windows, each with its narrow offsets scan
    "q_sql_running" -> 3)

  // Queries allowed to keep a GLOBAL (unpartitioned) window, with the
  // bounded-domain reason pinned. Empty today: every global rank /
  // running sum / ntile in the repo rides plans.ParallelRank's two-phase
  // range-partitioned shape, and frame-wide totals ride broadcast 1-row
  // scalars. Add a name here ONLY with a proof the window's input is
  // bounded (not data-sized) at any scale factor.
  private val allowedGlobalWindow = Set.empty[String]

  test("no query moves data to a single partition via an unpartitioned window") {
    val offenders = planOffenders { (name, a) =>
      val hits = a.globalWindows
      if (hits.nonEmpty && !allowedGlobalWindow(name))
        Some(s"$name: ${hits.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      "single-partition windows (use plans.ParallelRank's two-phase " +
        s"rank/running-agg instead): ${offenders.mkString("; ")}")
  }

  test("no query re-scans a base relation 3+ times (multi-consumer recompute guard)") {
    val offenders = planOffenders { (name, a) =>
      val bound = intentionalMultiScan.getOrElse(name, 2)
      val hot = a.scanCounts.filter(_._2 > bound)
      if (hot.nonEmpty)
        Some(s"$name: ${hot.map { case (p, n) => s"$p x$n" }.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      s"multi-scan plans (persist-barrier the shared subtree): ${offenders.mkString("; ")}")
  }
}

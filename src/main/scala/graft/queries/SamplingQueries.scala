package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Bloom, Dedup, Sampling, TextAnalysis}
import graft.functions.{GraftFunctions, XFormulas}
import graft.functions.XFormulas._
import graft.queries.Shared._

/** Sampling and statistics queries: stratified, PPS, mixture and quota
  * samplers, sketches (HLL, KMV, count-min, Bloom), distribution tests and
  * privacy audits (`operators.Sampling`, `operators.Bloom`,
  * `functions.SigAgg`). */
object SamplingQueries {

  /** Training-mix weights for q_mixture_sample (sources absent from the
    * map get weight 0 and are dropped — counted in `total` only). */
  private val mixtureWeights: Map[String, Long] =
    Map("src0" -> 4L, "src1" -> 2L, "src2" -> 1L, "src3" -> 3L, "src4" -> 1L)

  val all: Seq[QuerySpec] = Seq(
    // ----- exact percentiles (interpolating; quantity domain is exact) --
    QuerySpec("q_percentile", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty")),
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty,
                quantile_cont(l_quantity, 0.9) AS p90_qty
         FROM lineitem GROUP BY l_returnflag"""),

    // ----- approximate aggregates: HLL++ / quantile sketch, verified
    // against the exact values (sketches differ across engines, so the
    // oracle-comparable output is the exact value + an accuracy flag) -----
    QuerySpec("q_approx_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")).cast("double") /
            countDistinct(col("l_partkey")).cast("double") - 1) < 0.1).as("cd_ok"),
          (abs(expr("approx_percentile(l_quantity, 0.5, 1000)") /
            expr("percentile(l_quantity, 0.5)") - 1) <= 0.05).as("med_ok")),
      """SELECT l_returnflag,
                  COUNT(DISTINCT l_partkey) AS exact_parts,
                  abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE) /
                      COUNT(DISTINCT l_partkey) - 1) < 0.1 AS cd_ok,
                  abs(approx_quantile(l_quantity, 0.5) /
                      quantile_cont(l_quantity, 0.5) - 1) <= 0.05 AS med_ok
           FROM lineitem GROUP BY l_returnflag"""),

    // ----- exact percentiles per group (sorted interpolation — both
    // engines compute (a+b)/2 on exact doubles, so results hash-match,
    // unlike approx sketches) -----
    QuerySpec("q_exact_median", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5D)").as("median_value"),
          expr("percentile(value, 0.9D)").as("p90_value"),
          count(lit(1)).as("n")),
      """SELECT event_type,
                  percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS median_value,
                  percentile_cont(0.9) WITHIN GROUP (ORDER BY value) AS p90_value,
                  COUNT(*) AS n
           FROM events GROUP BY event_type"""),

    // ----- skew-safe distinct count: pre-aggregate on (group, member)
    // so the distinct set never concentrates on one reducer — the
    // two-stage rewrite that keeps COUNT(DISTINCT) scaling under
    // heavy-hitter groups (results identical to the direct form) -----
    QuerySpec("q_salted_agg", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("c")).as("n_events")),
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                  COUNT(*) AS n_events
           FROM events GROUP BY event_type"""),

    // ----- mergeable HLL sketches: per-group sketch + union-merge to a
    // corpus-wide estimate WITHOUT re-scanning (the 100 TB pattern:
    // partial sketches combine associatively, so distinct counts
    // parallelize like sums). Oracle checks the accuracy-flag contract
    // (approx within 5% of exact on both engines' own sketches). -----
    QuerySpec("q_hll_sketch", (s, dir) => {
      val ev = t(s, dir, "events")
      // persist barrier: the per-type sketch aggregate feeds the global
      // merge AND the final readout — one events scan for both
      val per = graft.operators.Dedup.persistTracked(
        ev.groupBy(col("event_type"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"),
            countDistinct(col("user_id")).as("exact_users")))
      val global = per.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_all"))
      val exactAll = ev.agg(countDistinct(col("user_id")).as("exact_all"))
      per.select(col("event_type"), col("exact_users"),
          (abs(expr("hll_sketch_estimate(sk)").cast("double") /
            col("exact_users") - 1) < 0.05).as("hll_ok"))
        .crossJoin(broadcast(global))
        .crossJoin(broadcast(exactAll))
        .select(col("event_type"), col("exact_users"), col("hll_ok"),
          col("exact_all"),
          (abs(col("est_all").cast("double") / col("exact_all") - 1) < 0.05)
            .as("merge_ok"))
    },
      """WITH per AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
                               abs(CAST(approx_count_distinct(user_id) AS DOUBLE) /
                                   COUNT(DISTINCT user_id) - 1) < 0.05 AS hll_ok
                        FROM events GROUP BY 1),
           g AS (SELECT COUNT(DISTINCT user_id) AS exact_all,
                        abs(CAST(approx_count_distinct(user_id) AS DOUBLE) /
                            COUNT(DISTINCT user_id) - 1) < 0.05 AS merge_ok
                 FROM events)
           SELECT event_type, exact_users, hll_ok, exact_all, merge_ok
           FROM per CROSS JOIN g"""),

    // ----- mergeable HISTOGRAM quantiles: the single-pass sketch path
    // for quantiles at scale — bucket counts are partial-aggregable,
    // the quantile bucket is read off the cumulative histogram. Bucket
    // bounds are exact integers; no interpolation, so the oracle is
    // exact (the precise-value twin is q_percentile) -----
    QuerySpec("q_hist_quantile", (s, dir) => {
      val h = t(s, dir, "lineitem")
        .withColumn("bucket",
          expr("CAST(floor(l_extendedprice / 1000.0D) AS BIGINT)"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val cum = h
        .withColumn("cum", sum(col("n")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy(col("l_returnflag"))))
      cum
        .withColumn("pct", explode(array(lit(50L), lit(90L))))
        .withColumn("target", expr("(pct * total + 99) div 100"))
        .filter(col("cum") >= col("target") &&
          col("cum") - col("n") < col("target"))
        .select(col("l_returnflag"), col("pct"),
          (col("bucket") * 1000).as("lo"),
          ((col("bucket") + 1) * 1000).as("hi"),
          col("cum"), col("total"))
    },
      """WITH h AS (SELECT l_returnflag, CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bucket,
                             COUNT(*) AS n
                      FROM lineitem GROUP BY 1, 2),
           c AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                           CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
                 FROM h),
           q AS (SELECT c.*, pct, (pct * total + 99) // 100 AS target
                 FROM c CROSS JOIN (SELECT unnest([50, 90]) AS pct) p)
           SELECT l_returnflag, CAST(pct AS BIGINT) AS pct,
                  bucket * 1000 AS lo, (bucket + 1) * 1000 AS hi, cum, total
           FROM q WHERE cum >= target AND cum - n < target"""),

    // ----- exact quantized COVARIANCE matrix of the embedding column
    // (the distributed-PCA / feature-correlation input). ONE custom
    // typed Aggregator pass accumulates [n, d sums, d(d+1)/2 pair dot
    // products] as exact longs with map-side partial aggregation — the
    // shuffle is a single fixed-size array, vs n·d(d+1)/2 shuffled rows
    // for the explode-self-join shape the oracle runs (fine at 500
    // vectors, disqualifying at 1e9). Covariance itself is derived from
    // the exact components in one fixed-shape double expression, so it
    // is bit-identical across engines. -----
    QuerySpec("q_embedding_cov", (s, dir) => {
      val d = 64
      val flat = t(s, dir, "embeddings")
        .agg(graft.functions.SigAgg.covComponents(d)(col("embedding"))
          .as("st"))
      flat
        .select(col("st"), explode(sequence(lit(0L), lit(d - 1L))).as("i"))
        .select(col("st"), col("i"),
          explode(expr(s"sequence(i, ${d - 1}L)")).as("j"))
        .selectExpr("i", "j",
          "element_at(st, 1) AS n",
          "element_at(st, CAST(i + 2 AS INT)) AS sum_i",
          "element_at(st, CAST(j + 2 AS INT)) AS sum_j",
          s"element_at(st, CAST($d + i * $d - (i * (i - 1)) div 2 " +
            "+ (j - i) + 2 AS INT)) AS dot")
        .withColumn("cov", expr(
          "(CAST(n AS DOUBLE) * dot - CAST(sum_i AS DOUBLE) * sum_j)" +
            " / (CAST(n AS DOUBLE) * n)"))
    },
      """WITH v AS (SELECT vec_id, CAST(j - 1 AS BIGINT) AS i,
                             CAST(floor(CAST(embedding[j] AS DOUBLE) * 10000.0)
                               AS BIGINT) AS q
                      FROM embeddings CROSS JOIN
                           (SELECT unnest(range(1, 65)) AS j) js),
           p AS (SELECT a.i AS i, b.i AS j,
                        CAST(SUM(a.q * b.q) AS BIGINT) AS dot
                 FROM v a JOIN v b
                   ON a.vec_id = b.vec_id AND a.i <= b.i
                 GROUP BY 1, 2),
           s AS (SELECT i, CAST(SUM(q) AS BIGINT) AS si,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM v GROUP BY i)
           SELECT p.i, p.j, sa.n AS n, sa.si AS sum_i, sb.si AS sum_j, p.dot,
                  (CAST(sa.n AS DOUBLE) * p.dot
                     - CAST(sa.si AS DOUBLE) * sb.si)
                    / (CAST(sa.n AS DOUBLE) * sa.n) AS cov
           FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i"""),

    // ----- top-|correlation| dimension pairs from the SAME one-pass
    // covariance components (no second aggregation): unpack the flat
    // buffer into off-diagonal pairs AND diagonal second moments, join
    // diagonals back by position (all within one 1-row broadcast-sized
    // frame), and rank by |corr|. The redundancy readout that says
    // which embedding coordinates carry duplicate signal — the "do I
    // even need 64 dims" precursor to pcaProject. -----
    QuerySpec("q_cov_corr_pairs", (s, dir) => {
      val d = 64
      // persist: the 1-row component buffer fans out to the diagonal
      // frame AND both sides of the pair join — without the barrier the
      // corpus-scale aggregation re-executes 3x
      val flat = Dedup.persistTracked(t(s, dir, "embeddings")
        .agg(graft.functions.SigAgg.covComponents(d)(col("embedding"))
          .as("st")))
      val cells = flat
        .select(col("st"), explode(sequence(lit(0L), lit(d - 1L))).as("i"))
        .select(col("st"), col("i"),
          explode(expr(s"sequence(i, ${d - 1}L)")).as("j"))
        .selectExpr("i", "j",
          "element_at(st, 1) AS n",
          "element_at(st, CAST(i + 2 AS INT)) AS sum_i",
          "element_at(st, CAST(j + 2 AS INT)) AS sum_j",
          s"element_at(st, CAST($d + i * $d - (i * (i - 1)) div 2 " +
            "+ (j - i) + 2 AS INT)) AS dot")
      val diag = cells.filter(col("i") === col("j"))
        .select(col("i").as("p"),
          expr("CAST(n AS DOUBLE) * dot - CAST(sum_i AS DOUBLE) * sum_i")
            .as("var_num"))
      cells.filter(col("i") < col("j"))
        .join(broadcast(diag.select(col("p").as("i"), col("var_num").as("vi"))), "i")
        .join(broadcast(diag.select(col("p").as("j"), col("var_num").as("vj"))), "j")
        .select(col("i"), col("j"), expr(
          "(CAST(n AS DOUBLE) * dot - CAST(sum_i AS DOUBLE) * sum_j)" +
            " / sqrt(vi * vj)").as("corr"))
        .orderBy(abs(col("corr")).desc, col("i"), col("j"))
        .limit(10)
    },
      """WITH v AS (SELECT vec_id, CAST(j - 1 AS BIGINT) AS i,
                             CAST(floor(CAST(embedding[j] AS DOUBLE) * 10000.0)
                               AS BIGINT) AS q
                      FROM embeddings CROSS JOIN
                           (SELECT unnest(range(1, 65)) AS j) js),
           p AS (SELECT a.i AS i, b.i AS j,
                        CAST(SUM(a.q * b.q) AS BIGINT) AS dot
                 FROM v a JOIN v b
                   ON a.vec_id = b.vec_id AND a.i <= b.i
                 GROUP BY 1, 2),
           s AS (SELECT i, CAST(SUM(q) AS BIGINT) AS si,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM v GROUP BY i),
           dg AS (SELECT p.i AS p,
                         CAST(s.n AS DOUBLE) * p.dot
                           - CAST(s.si AS DOUBLE) * s.si AS var_num
                  FROM p JOIN s ON p.i = s.i AND p.i = p.j)
           SELECT p.i, p.j,
                  (CAST(sa.n AS DOUBLE) * p.dot
                     - CAST(sa.si AS DOUBLE) * sb.si)
                    / sqrt(di.var_num * dj.var_num) AS corr
           FROM p
           JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i
           JOIN dg di ON di.p = p.i JOIN dg dj ON dj.p = p.j
           WHERE p.i < p.j
           ORDER BY abs(corr) DESC, p.i, p.j LIMIT 10"""),

    // ----- deterministic stratified sample: fixed rows per stratum via
    // hash-ordered row_number (reproducible across runs AND engines).
    // Two-phase top-k: a stratum is a SINGLE window partition (3 distinct
    // flags → 3 tasks → the whole table sorts on 3 cores at scale), so
    // phase 1 takes the exact per-(stratum, hash-bucket) top-50 across 32
    // buckets in parallel — any global top-50 row is in its bucket's
    // top-50 — and phase 2 re-ranks only the ≤32×50 survivors per
    // stratum. Identical output to the single-window form (the oracle
    // runs that form). -----
    QuerySpec("q_stratified_sample", (s, dir) => {
      val hk = "(l_orderkey * 2654435761 + l_linenumber * 40503) % 1000000007"
      // phase 1 runs on the custom TopKPerGroup operator: k-heaps with
      // map-side pruning instead of a full sort of every stratum bucket;
      // emits exactly the rows the row_number()<=50 window form would
      graft.plans.TopK.topKPerGroup(
        t(s, dir, "lineitem")
          .withColumn("hk", expr(hk))
          .withColumn("hb", expr("hk % 32")),
        Seq("l_returnflag", "hb"),
        Seq(col("hk"), col("l_orderkey"), col("l_linenumber")),
        k = 50, rankName = "rn1")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("hk"), col("l_orderkey"), col("l_linenumber")))
          .cast("long"))
        .filter(col("rn") <= 50)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("rn"))
    },
      """SELECT l_returnflag, l_orderkey, l_linenumber, rn FROM (
             SELECT l_returnflag, l_orderkey, l_linenumber,
                    ROW_NUMBER() OVER (PARTITION BY l_returnflag
                      ORDER BY (l_orderkey * 2654435761 + l_linenumber * 40503) % 1000000007,
                               l_orderkey, l_linenumber) AS rn
             FROM lineitem) WHERE rn <= 50"""),

    // ----- several COUNT(DISTINCT …) in one aggregate (Expand plan) -----
    QuerySpec("q_multi_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag,
                  COUNT(DISTINCT l_partkey) AS n_parts,
                  COUNT(DISTINCT l_suppkey) AS n_supps,
                  COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag"""),

    // ----- LAST-DIGIT UNIFORMITY audit — the synthetic/fabricated-data
    // complement to q_benford (first digits follow Benford; LAST digits
    // of organic amounts are near-uniform, and humans inventing numbers
    // break both): chi² of the price-cents last digit vs uniform,
    // scaled to exact integers — Σ(10·obs − n)² is BIGINT-exact, ONE
    // division by 10n at the end. One narrow scan + a 10-group
    // aggregate + a 1-row rollup. -----
    QuerySpec("q_last_digit", (s, dir) => {
      val d = t(s, dir, "orders")
        .select(expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 10")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
      val tot = d.agg(sum(col("obs")).as("n"))
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("obs"),
          expr("(10 * obs - n) * (10 * obs - n)").as("dev_sq"),
          col("n"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_digits"),
          sum(col("dev_sq")).as("dev_sum"))
        .select(col("n"), col("n_digits"),
          expr("CAST(dev_sum AS DOUBLE) / CAST(10 * n AS DOUBLE)")
            .as("chi2"),
          // 16.92 = chi²(9 dof, 0.05): flag if the digits are NOT uniform
          expr("CAST(dev_sum AS DOUBLE) / CAST(10 * n AS DOUBLE) " +
            "> CAST(16.92 AS DOUBLE)").as("suspicious"))
    },
      """WITH d AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 10 AS digit
                 FROM orders),
           c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs FROM d GROUP BY digit),
           t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM c),
           x AS (SELECT digit, obs, (10 * obs - n) * (10 * obs - n) AS dev_sq, n
                 FROM c CROSS JOIN t)
           SELECT n, CAST(COUNT(*) AS BIGINT) AS n_digits,
                  CAST(CAST(SUM(dev_sq) AS BIGINT) AS DOUBLE) /
                    CAST(10 * n AS DOUBLE) AS chi2,
                  (CAST(CAST(SUM(dev_sq) AS BIGINT) AS DOUBLE) /
                    CAST(10 * n AS DOUBLE)) > CAST(16.92 AS DOUBLE) AS suspicious
           FROM x GROUP BY n"""),

    // ----- quality-weighted UPSAMPLING (repeat-factor data mixing):
    // high-quality docs are emitted twice, mid once, low dropped — the
    // standard mixture-reweighting op; a narrow explode of a tiny
    // sequence, no shuffle -----
    QuerySpec("q_upsample", (s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("rep", expr(
          "CASE WHEN quality >= 0.64 THEN 2L WHEN quality >= 0.5 THEN 1L ELSE 0L END"))
        .filter(col("rep") > 0)
        .selectExpr("doc_id", "quality",
          "explode(sequence(1L, rep)) AS copy_id"),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           q AS (SELECT doc_id,
                  0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
                  0.3 * (CAST($stop AS DOUBLE) / len(toks)) +
                  0.3 * (CAST(len(list_filter(toks, w -> length(w) <= 5)) AS DOUBLE) / len(toks)) AS quality
                 FROM tk),
           r AS (SELECT doc_id, quality,
                   CASE WHEN quality >= 0.64 THEN 2 WHEN quality >= 0.5 THEN 1 ELSE 0 END AS rep
                 FROM q)
           SELECT doc_id, quality, unnest(range(1, rep + 1)) AS copy_id
           FROM r WHERE rep > 0"""),

    // ----- deterministic TRAINING SHARDS: the write-side of a training
    // pipeline — shard by a salted content-key hash, order within the
    // shard by an independent hash (a reproducible global shuffle with
    // no global sort). At 100 TB this is repartition-by-shard +
    // sortWithinPartitions: one stateless hash exchange; the window here
    // ranks within already-shuffled shards, never globally -----
    QuerySpec("q_train_shard", (s, dir) => {
      val shard = GraftFunctions.polyHash(
        concat(lit("s:"), col("doc_id").cast("string"))) % 8
      val ord = GraftFunctions.polyHash(
        concat(lit("o:"), col("doc_id").cast("string")))
      t(s, dir, "documents")
        .select(col("doc_id"), shard.as("shard"), ord.as("ord"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard"))
            .orderBy(col("ord"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    },
      s"""WITH h AS (SELECT doc_id,
                  ${duckStrHash("('s:' || CAST(doc_id AS VARCHAR))")} % 8 AS shard,
                  ${duckStrHash("('o:' || CAST(doc_id AS VARCHAR))")} AS ord
                FROM documents)
           SELECT doc_id, shard,
                  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
           FROM h"""),

    // ----- DETERMINISTIC GLOBAL TRAINING ORDER: hash-striped within
    // source, mixture-weighted stride scheduling across sources (any
    // prefix holds each source ~ w/sum(w)), global position via
    // ParallelRank (one range exchange, never a global window), shard =
    // round-robin stripe of the order — the reproducible data-loader
    // order file that pairs with q_train_shard / q_mix_plan -----
    QuerySpec("q_train_order", (s, dir) =>
      Sampling.trainOrder(t(s, dir, "documents"), "doc_id", "source",
        mixtureWeights, nShards = 8),
      {
        val wCase = mixtureWeights.toSeq.sortBy(_._1)
          .foldRight("CAST(0 AS BIGINT)") { case ((s, w), els) =>
            s"CASE WHEN source = '$s' THEN CAST($w AS BIGINT) ELSE $els END"
          }
        s"""WITH h AS (SELECT doc_id, source,
                  ${duckStrHash("('t:' || CAST(doc_id AS VARCHAR))")} AS hh,
                  $wCase AS w
                FROM documents),
           k AS (SELECT doc_id, source, w,
                        ROW_NUMBER() OVER (PARTITION BY source
                                           ORDER BY hh, doc_id) AS k
                 FROM h WHERE w > 0),
           v AS (SELECT doc_id, source,
                        ((k - 1) * 100000000) // w AS vt
                 FROM k),
           r AS (SELECT doc_id,
                        CAST(ROW_NUMBER() OVER (ORDER BY vt, source,
                          doc_id) AS BIGINT) AS "position"
                 FROM v)
           SELECT doc_id, ("position" - 1) % 8 AS shard, "position"
           FROM r"""
      }),

    // ----- TEMPERATURE source mixing (alpha = 0.5): per-source sampling
    // weight proportional to sqrt(token mass), reported relative to the
    // largest source — sqrt and one division are both correctly-rounded
    // IEEE ops, so the doubles are engine-identical (no order-dependent
    // float sum anywhere) -----
    QuerySpec("q_source_mix", (s, dir) => {
      val per = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("n_tokens"))
      per.crossJoin(broadcast(per.agg(max(col("n_tokens")).as("max_tokens"))))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (sqrt(col("n_tokens")) / sqrt(col("max_tokens"))).as("rel_weight"))
    },
      s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(${duckTokens("text")})) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source)
           SELECT source, n_docs, n_tokens,
                  sqrt(n_tokens) / sqrt((SELECT MAX(n_tokens) FROM per)) AS rel_weight
           FROM per"""),

    // ----- heavy hitters via a Misra-Gries SKETCH (bounded memory,
    // mergeable partials): counts are stream-order lower bounds, but
    // CONTAINMENT of any item with freq > n/(k+1) is guaranteed — so the
    // oracle checks exact top-5 membership in the sketch, the same
    // deterministic-flag pattern as the approx aggregates -----
    QuerySpec("q_heavy_hitters", (s, dir) => {
      val toks = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("w"))
      val sketch = toks.agg(
        graft.functions.SigAgg.misraGries(64)(col("w")).as("mg"))
      val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(5)
      exact.crossJoin(broadcast(sketch))
        .select(col("w"), col("cnt"),
          expr("map_contains_key(mg, w)").as("in_sketch"))
    },
      s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           tok AS (SELECT unnest(toks) AS w FROM tk),
           top5 AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
                    ORDER BY cnt DESC, w LIMIT 5)
           SELECT w, cnt, true AS in_sketch FROM top5"""),

    // ----- COUNT-MIN sketch build (Cormode & Muthukrishnan): the
    // point-estimate complement to Misra-Gries containment. The sketch
    // IS a (depth × width) count matrix under a fixed pairwise hash
    // family — i.e. a plain groupBy over (row, hashed-col), so the
    // distributed build is one aggregation with map-side partials, rows
    // merge by addition (mergeable across shards/streams by
    // construction), and — the fixed hash family being pure BIGINT
    // arithmetic — the whole matrix hash-matches the DuckDB oracle
    // EXACTLY. depth 4 × width 64 = 256 cells regardless of corpus
    // size. -----
    QuerySpec("q_cmsketch", (s, dir) => {
      val p = XFormulas.P
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("w"))
        .select(expr(XFormulas.sparkStrHash("w")).as("h"))
        .select(col("h"), explode(sequence(lit(0L), lit(3L))).as("r"))
        .select(col("r"), expr(
          s"((((1103515245 * r + 12345) % $p) * h + " +
            s"((1299709 * r + 7919) % $p)) % $p) % 64").as("c"))
        .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
    },
      s"""WITH tk AS (SELECT unnest(${duckTokens("text")}) AS w
                        FROM documents),
           h AS (SELECT ${duckStrHash("w")} AS h FROM tk),
           e AS (SELECT h, unnest(range(0, 4)) AS r FROM h)
           SELECT r, ((((1103515245 * r + 12345) % $P) * h +
                       ((1299709 * r + 7919) % $P)) % $P) % 64 AS c,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM e GROUP BY 1, 2"""),

    // ----- count-min POINT ESTIMATES for the exact top-5 tokens:
    // est(w) = min over rows of matrix[r][h_r(w)] — always >= the true
    // count (collisions only add), the one-sided error the sketch
    // guarantees. Token stream persisted: it feeds the matrix AND the
    // exact counts. -----
    QuerySpec("q_cm_estimate", (s, dir) => {
      val p = XFormulas.P
      val toks = Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .select(explode(col("toks")).as("w"))
          .select(col("w"), expr(XFormulas.sparkStrHash("w")).as("h")))
      val cm = toks
        .select(col("h"), explode(sequence(lit(0L), lit(3L))).as("r"))
        .select(col("r"), expr(
          s"((((1103515245 * r + 12345) % $p) * h + " +
            s"((1299709 * r + 7919) % $p)) % $p) % 64").as("c"))
        .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
      val top = toks.groupBy(col("w"), col("h"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(5)
      top
        .select(col("w"), col("n"), col("h"),
          explode(sequence(lit(0L), lit(3L))).as("r"))
        .select(col("w"), col("n"), col("r"), expr(
          s"((((1103515245 * r + 12345) % $p) * h + " +
            s"((1299709 * r + 7919) % $p)) % $p) % 64").as("c"))
        .join(cm, Seq("r", "c"))
        .groupBy(col("w"), col("n"))
        .agg(min(col("cnt")).as("cm_est"))
        .select(col("w"), col("n"), col("cm_est"),
          (col("cm_est") >= col("n")).as("upper_bound_holds"))
    },
      s"""WITH tk AS (SELECT unnest(${duckTokens("text")}) AS w
                        FROM documents),
           th AS (SELECT w, ${duckStrHash("w")} AS h FROM tk),
           cm AS (SELECT r, ((((1103515245 * r + 12345) % $P) * h +
                              ((1299709 * r + 7919) % $P)) % $P) % 64 AS c,
                         CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM (SELECT h, unnest(range(0, 4)) AS r FROM th)
                  GROUP BY 1, 2),
           top AS (SELECT w, h, CAST(COUNT(*) AS BIGINT) AS n FROM th
                   GROUP BY 1, 2 ORDER BY n DESC, w LIMIT 5),
           pr AS (SELECT w, n,
                         r, ((((1103515245 * r + 12345) % $P) * h +
                             ((1299709 * r + 7919) % $P)) % $P) % 64 AS c
                  FROM (SELECT w, n, h, unnest(range(0, 4)) AS r FROM top))
           SELECT pr.w, pr.n, MIN(cm.cnt) AS cm_est,
                  MIN(cm.cnt) >= pr.n AS upper_bound_holds
           FROM pr JOIN cm ON pr.r = cm.r AND pr.c = cm.c
           GROUP BY 1, 2"""),

    // ----- join-key skew report: the diagnostic you run BEFORE picking a
    // join strategy — per-key count distribution (exact percentiles +
    // max) and the heavy-hitter keys, from one aggregation over the
    // fact table -----
    QuerySpec("q_skew_report", (s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(
        count(lit(1)).as("n_keys"),
        expr("percentile(cnt, 0.5D)").as("p50"),
        expr("percentile(cnt, 0.99D)").as("p99"),
        max(col("cnt")).as("max_cnt"))
      // struct-sort instead of orderBy+limit+collect_list: deterministic
      // under ANY partitioning (collect_list order is not a contract)
      val heavy = counts.agg(expr(
        "array_join(transform(slice(array_sort(collect_list(" +
          "struct(-cnt AS nc, l_partkey AS k))), 1, 5), " +
          "s -> CAST(s.k AS STRING)), ',') AS heavy_keys"))
      stats.crossJoin(heavy)
    },
      """WITH counts AS (SELECT l_partkey, COUNT(*) AS cnt
                           FROM lineitem GROUP BY l_partkey),
           stats AS (SELECT COUNT(*) AS n_keys,
                  percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt) AS p50,
                  percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt) AS p99,
                  MAX(cnt) AS max_cnt
                FROM counts),
           heavy AS (SELECT string_agg(CAST(l_partkey AS VARCHAR), ','
                       ORDER BY cnt DESC, l_partkey) AS heavy_keys
                     FROM (SELECT * FROM counts
                           ORDER BY cnt DESC, l_partkey LIMIT 5))
           SELECT n_keys, p50, p99, max_cnt, heavy_keys
           FROM stats CROSS JOIN heavy"""),

    // ----- chi-square feature selection: token-presence vs source label
    // over a bounded top-50-df vocabulary. All contingency counts and
    // the denominator product stay in exact BIGINT space; the final
    // N*d^2/denom runs on identically-rounded doubles, so results
    // hash-match (margin products exceed 2^53 and would silently lose
    // bits if computed as doubles) -----
    QuerySpec("q_chi2_tokens", (s, dir) => {
      val pres = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("source"),
          explode(expr("array_distinct(toks)")).as("w"))
      // ONE tokenize+explode pass, aggregated to the (word, source) grid
      // (vocab-sized) and persisted; global word counts AND the o11 cells
      // both derive from it instead of re-running the text scan
      val wcounts = graft.operators.Dedup.persistTracked(
        pres.groupBy(col("w"), col("source")).agg(count(lit(1)).as("o11")))
      val vocab = wcounts.groupBy(col("w")).agg(sum(col("o11")).as("nw"))
        .orderBy(col("nw").desc, col("w")).limit(50)
      val base = t(s, dir, "documents")
      val nDocs = base.agg(count(lit(1)).as("n"))
      val bySrc = base.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val o11 = wcounts.join(broadcast(vocab.select("w")), "w")
      // complete vocab x source grid so zero cells survive (they carry
      // the strongest negative-association signal)
      vocab.crossJoin(bySrc).crossJoin(nDocs)
        .join(o11, Seq("w", "source"), "left")
        .withColumn("o11", coalesce(col("o11"), lit(0L)))
        .selectExpr("w", "source", "o11",
          "o11 * (n - nw - ns + o11) - (nw - o11) * (ns - o11) AS d",
          "nw * (n - nw) * ns * (n - ns) AS denom", "n")
        .selectExpr("w", "source", "o11",
          "CAST(n AS DOUBLE) * (CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) / nullif(CAST(denom AS DOUBLE), 0) AS chi2")
    },
      s"""WITH tk AS (SELECT doc_id, source, ${duckTokens("text")} AS toks FROM documents),
           pres AS (SELECT doc_id, source, unnest(list_distinct(toks)) AS w FROM tk),
           vocab AS (SELECT w, nw FROM (
                       SELECT w, CAST(COUNT(*) AS BIGINT) AS nw FROM pres GROUP BY w
                       ORDER BY nw DESC, w LIMIT 50)),
           nd AS (SELECT COUNT(*) AS n FROM tk),
           bysrc AS (SELECT source, COUNT(*) AS ns FROM tk GROUP BY source),
           o AS (SELECT p.w, p.source, CAST(COUNT(*) AS BIGINT) AS o11
                 FROM pres p JOIN vocab v ON p.w = v.w GROUP BY p.w, p.source),
           grid AS (SELECT v.w, v.nw, b.source, b.ns, nd.n
                    FROM vocab v CROSS JOIN bysrc b CROSS JOIN nd),
           j AS (SELECT g.w, g.source, coalesce(o.o11, 0) AS o11, g.nw, g.ns, g.n
                 FROM grid g LEFT JOIN o ON g.w = o.w AND g.source = o.source),
           k AS (SELECT w, source, o11,
                        o11 * (n - nw - ns + o11) - (nw - o11) * (ns - o11) AS d,
                        nw * (n - nw) * ns * (n - ns) AS denom, n
                 FROM j)
           SELECT w, source, o11,
                  CAST(n AS DOUBLE) * (CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) / nullif(CAST(denom AS DOUBLE), 0) AS chi2
           FROM k"""),

    // ----- dataset profile: per-column nulls/distincts/min/max in ONE
    // scan (single agg + stack unpivot; no per-column jobs) -----
    QuerySpec("q_profile", (s, dir) =>
      graft.operators.Profiling.profile(t(s, dir, "orders"), Seq(
        "o_orderkey" -> "num", "o_custkey" -> "num",
        "o_orderstatus" -> "str", "o_totalprice" -> "num",
        "o_orderdate" -> "ts", "o_orderpriority" -> "str")),
      {
        val cols = Seq("o_orderkey" -> "num", "o_custkey" -> "num",
          "o_orderstatus" -> "str", "o_totalprice" -> "num",
          "o_orderdate" -> "ts", "o_orderpriority" -> "str")
        def mm(c: String, kind: String, f: String) = kind match {
          case "num" => s"CAST(CAST($f($c) AS DECIMAL(18,2)) AS VARCHAR)"
          case _     => s"CAST($f($c) AS VARCHAR)"
        }
        val branches = cols.map { case (c, kind) =>
          s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
                ${mm(c, kind, "MIN")} AS min_val,
                ${mm(c, kind, "MAX")} AS max_val
              FROM orders"""
        }
        branches.mkString("\n UNION ALL \n")
      }),

    // ----- exact-moment statistics: stddev / correlation from EXACT
    // decimal sums (built-in stddev/corr use order-dependent streaming
    // co-moments that cannot hash-match across engines; decomposing into
    // exact sums makes the doubles bit-identical by construction) -----
    QuerySpec("q_stats_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).as("sx"),
          sum(dec(col("l_extendedprice"))).as("sy"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity"))).as("sxx"),
          sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).as("syy"),
          sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("sxy"))
        .selectExpr("l_returnflag", "n",
          "sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (n * (n - 1))) AS stddev_qty",
          "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "(sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
            " sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qp"),
      // NOTE (q_stats_agg, q_regression): the DECIMAL(38,4) product sums
      // exceed int64 in unscaled units at sf>=0.1, where DuckDB's direct
      // decimal->double cast is no longer correctly rounded (Spark's
      // BigDecimal path is). Routing through VARCHAR (exact digits ->
      // strtod) restores the correctly-rounded double on the oracle side.
      """WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
                  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
                  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
           FROM lineitem GROUP BY l_returnflag)
           SELECT l_returnflag, n,
                  sqrt((n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (n * (n - 1))) AS stddev_qty,
                  (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  (sqrt(n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                   sqrt(n * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qp
           FROM a"""),

    // ----- group-wise OLS regression (slope/intercept/r2) from EXACT
    // decimal moments — built-in regr_* aggregates use order-dependent
    // streaming updates that cannot hash-match across engines; exact
    // sums cast to double make every downstream IEEE op bit-identical -----
    QuerySpec("q_regression", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).as("sx"),
          sum(dec(col("l_extendedprice"))).as("sy"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity"))).as("sxx"),
          sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).as("syy"),
          sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("sxy"))
        .withColumn("slope",
          expr("(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "nullif(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)"))
        .withColumn("intercept",
          expr("(CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n"))
        .withColumn("r2",
          expr("slope * slope * (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
            "nullif(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0)"))
        .select("l_linestatus", "n", "slope", "intercept", "r2"),
      """WITH a AS (SELECT l_linestatus, COUNT(*) AS n,
                  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
                  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
           FROM lineitem GROUP BY l_linestatus),
           b AS (SELECT l_linestatus, n, sx, sy, sxx, syy,
                  (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  nullif(n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS slope
           FROM a)
           SELECT l_linestatus, n, slope,
                  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n AS intercept,
                  slope * slope * (n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                  nullif(n * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0) AS r2
           FROM b"""),

    // ----- value histogram (arithmetic bucketing; DuckDB 1.0 has no
    // width_bucket) with exact decimal stats per bucket -----
    QuerySpec("q_histogram", (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("bucket", expr("CAST(floor(l_quantity / 5) AS BIGINT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price")),
      """SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS bucket,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM lineitem GROUP BY 1"""),

    // ----- custom typed Aggregator UDAF: shard-level MinHash union -----
    QuerySpec("q_minhash_union", (s, dir) => {
      val sigs = Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")
      sigs.withColumn("shard", col("doc_id") % 10)
        .groupBy(col("shard"))
        .agg(graft.functions.SigAgg.minhashUnion(col("mh")).as("u"))
        .selectExpr("shard", "array_join(u, ',') AS union_sig")
    },
      s"""$minhashCtes,
           g AS (SELECT doc_id % 10 AS shard, mh FROM sigs)
           SELECT shard,
                  array_to_string(list_transform(range(1, 13),
                    i -> list_min(list_transform(list(mh), s -> s[i]))), ',') AS union_sig
           FROM g GROUP BY shard"""),

    // ----- KMV cardinality sketch vs exact distinct, per group: the
    // calibration readout for bounded-memory distinct counting. The
    // sketch path alone needs NO pre-distinct (reduce dedups, state <=
    // k longs per group); the exact twin column is what forces the
    // distinct here — it is the comparison, as in q_lsh_quality. The
    // polyHash is finalized with a multiplicative mix mod P (a
    // bijection): raw polyHash of short strings stays near 0, and the
    // (k-1)·P/kth estimator needs hashes ~uniform on [0, P) -----
    QuerySpec("q_kmv_distinct", (s, dir) => {
      val h = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          graft.functions.GraftFunctions
            .polyHash(col("l_orderkey").cast("string")).as("h0"))
        .select(col("l_returnflag"),
          expr("(h0 * 2654435761L) % 1000000007L").as("h"))
        .distinct()
      h.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_exact"),
          graft.functions.SigAgg.kmv(64)(col("h")).as("sk"))
        .select(col("l_returnflag"), col("n_exact"),
          expr("IF(size(sk) < 64, CAST(size(sk) AS DOUBLE), " +
            "63.0D * 1000000007.0D / sk[63])").as("est_distinct"))
    },
      // exact k-th-minimum construction: sort ALL distinct mixed
      // hashes and take the 64th — the sketch must agree exactly
      // (same hash family, integer state, one final division)
      s"""WITH h AS (SELECT DISTINCT l_returnflag,
                  (${duckStrHash("CAST(l_orderkey AS VARCHAR)")}
                    * 2654435761) % 1000000007 AS h
                 FROM lineitem),
           s AS (SELECT l_returnflag, COUNT(*) AS n_exact,
                        list_sort(list(h)) AS hs
                 FROM h GROUP BY l_returnflag)
           SELECT l_returnflag, n_exact,
                  CASE WHEN n_exact < 64 THEN CAST(n_exact AS DOUBLE)
                       ELSE 63.0 * 1000000007.0 / hs[64] END AS est_distinct
           FROM s"""),

    // ----- KMV set-operation estimates: join cardinality WITHOUT the
    // join. Sketch each side's key set (256 longs however large the
    // side), re-merge the two sketches (k-min of the union = kmv of the
    // concatenation — the mergeability theorem), and estimate
    // |A∪B| from the union's k-th minimum and |A∩B| from the fraction
    // of the union sketch present in both sides. The exact twins ride
    // along as calibration — the "should this join broadcast, shuffle,
    // or be pre-filtered" planning readout -----
    QuerySpec("q_kmv_join_est", (s, dir) => {
      def keyHashes(df: DataFrame, c: String) =
        df.select(graft.functions.GraftFunctions
          .polyHash(col(c).cast("string")).as("h0"))
          .select(expr("(h0 * 2654435761L) % 1000000007L").as("h"))
          .distinct()
      // A = customers with an open order (a strict subset of B = all
      // customers) so intersection < union and both estimators work
      // persist: each side feeds its sketch agg AND the exact-twin join
      val a = Dedup.persistTracked(keyHashes(
        t(s, dir, "orders").filter(col("o_orderstatus") === "O"), "o_custkey"))
      val b = Dedup.persistTracked(
        keyHashes(t(s, dir, "customer"), "c_custkey"))
      val ska = a.agg(graft.functions.SigAgg.kmv(256)(col("h")).as("ska"),
        count(lit(1)).as("n_a_exact"))
      val skb = b.agg(graft.functions.SigAgg.kmv(256)(col("h")).as("skb"),
        count(lit(1)).as("n_b_exact"))
      val inter = a.join(b, "h").agg(count(lit(1)).as("n_inter_exact"))
      ska.crossJoin(skb).crossJoin(inter)
        .withColumn("u",
          expr("slice(array_sort(array_distinct(concat(ska, skb))), 1, 256)"))
        .withColumn("k_common", expr("CAST(size(filter(u, x -> " +
          "array_contains(ska, x) AND array_contains(skb, x))) AS BIGINT)"))
        .withColumn("n_union_est", expr(
          "IF(size(u) < 256, CAST(size(u) AS DOUBLE), " +
            "255.0D * 1000000007.0D / u[255])"))
        .withColumn("n_inter_est", expr(
          "(CAST(k_common AS DOUBLE) / CAST(size(u) AS DOUBLE)) * n_union_est"))
        .select("n_a_exact", "n_b_exact", "n_inter_exact", "k_common",
          "n_union_est", "n_inter_est")
    },
      s"""WITH a AS (SELECT DISTINCT
                  (${duckStrHash("CAST(o_custkey AS VARCHAR)")}
                    * 2654435761) % 1000000007 AS h
                 FROM orders WHERE o_orderstatus = 'O'),
           b AS (SELECT DISTINCT
                  (${duckStrHash("CAST(c_custkey AS VARCHAR)")}
                    * 2654435761) % 1000000007 AS h
                 FROM customer),
           ska AS (SELECT list_sort(list(h))[:256] AS sk,
                          COUNT(*) AS n_a_exact FROM a),
           skb AS (SELECT list_sort(list(h))[:256] AS sk,
                          COUNT(*) AS n_b_exact FROM b),
           i AS (SELECT COUNT(*) AS n_inter_exact FROM a JOIN b USING (h)),
           c AS (SELECT ska.sk AS sa, skb.sk AS sb,
                        n_a_exact, n_b_exact, n_inter_exact,
                        list_sort(list_distinct(ska.sk || skb.sk))[:256] AS u
                 FROM ska, skb, i),
           d AS (SELECT n_a_exact, n_b_exact, n_inter_exact, u,
                        CAST(len(list_filter(u, x -> list_contains(sa, x)
                          AND list_contains(sb, x))) AS BIGINT) AS k_common,
                        CASE WHEN len(u) < 256 THEN CAST(len(u) AS DOUBLE)
                             ELSE 255.0 * 1000000007.0 / u[256]
                        END AS n_union_est
                 FROM c)
           SELECT n_a_exact, n_b_exact, n_inter_exact, k_common, n_union_est,
                  (CAST(k_common AS DOUBLE) / CAST(len(u) AS DOUBLE))
                    * n_union_est AS n_inter_est
           FROM d"""),

    // ----- IVM of a DISTINCT-COUNT sketch: the maintained path merges
    // the stored base-snapshot KMV sketch with the delta's sketch —
    // NEVER re-reading base keys — and is provably bit-equal to direct
    // recompute (k-min of k-mins = k-min of the union: KMV
    // mergeability; integral state + fixed hash family make it exact,
    // not approximate agreement). The q_ivm_counts sibling for the
    // metric GROUP BY can't maintain cheaply: COUNT(DISTINCT). At
    // 100 TB the base side is a per-group 64-long array however many
    // keys it summarizes. -----
    QuerySpec("q_ivm_kmv", (s, dir) => {
      val k = 64
      // CDC-style split: shipments up to the cutoff are the stored
      // snapshot, later ones the delta
      val h = Dedup.persistTracked(t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("l_shipdate <= DATE '1995-06-30'").as("is_base"),
          GraftFunctions.polyHash(col("l_orderkey").cast("string")).as("h0"))
        .select(col("l_returnflag"), col("is_base"),
          expr("(h0 * 2654435761L) % 1000000007L").as("h")))
      def est(c: String) = expr(s"IF(size($c) < $k, " +
        s"CAST(size($c) AS DOUBLE), ${k - 1}.0D * 1000000007.0D / $c[${k - 1}])")
      val maintained = h.groupBy(col("l_returnflag"), col("is_base"))
        .agg(graft.functions.SigAgg.kmv(k)(col("h")).as("sk"))
        .groupBy(col("l_returnflag"))
        .agg(collect_list(col("sk")).as("sks"))
        .select(col("l_returnflag"),
          expr(s"slice(array_sort(array_distinct(flatten(sks))), 1, $k)")
            .as("skm"))
      val direct = h.groupBy(col("l_returnflag"))
        .agg(graft.functions.SigAgg.kmv(k)(col("h")).as("skd"))
      maintained.join(direct, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          est("skm").as("est_maintained"), est("skd").as("est_direct"),
          (col("skm") === col("skd")).as("sketch_equal"))
    },
      // maintained == direct is the THEOREM (KMV mergeability over
      // integral state); the oracle computes the direct sketch once
      // and projects it into both columns — the q_ivm_counts pattern
      s"""WITH h AS (SELECT DISTINCT l_returnflag,
                  (${duckStrHash("CAST(l_orderkey AS VARCHAR)")}
                    * 2654435761) % 1000000007 AS h
                 FROM lineitem),
           s AS (SELECT l_returnflag, COUNT(*) AS n,
                        list_sort(list(h)) AS hs
                 FROM h GROUP BY l_returnflag),
           e AS (SELECT l_returnflag,
                        CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                             ELSE 63.0 * 1000000007.0 / hs[64] END AS est
                 FROM s)
           SELECT l_returnflag, est AS est_maintained, est AS est_direct,
                  TRUE AS sketch_equal
           FROM e"""),

    // ----- K-ANONYMITY audit over quasi-identifiers: group size per
    // (nation, segment) combination and an at-risk flag for groups
    // below k=10 — the governance check a training-data release runs
    // before shipping user-derived rows. One hash aggregation -----
    QuerySpec("q_k_anonymity", (s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          (col("n") < 10).as("at_risk"))
    },
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                  COUNT(*) < 10 AS at_risk
           FROM customer GROUP BY c_nationkey, c_mktsegment"""),

    // ----- l-diversity audit, the k-anonymity complement: a quasi-
    // identifier group is re-identifiable even at k>=10 members if a
    // SENSITIVE attribute (here the balance tercile) is near-constant
    // within it. One partial/final agg; distinct counted per group -----
    QuerySpec("q_l_diversity", (s, dir) => {
      t(s, dir, "customer")
        .withColumn("acct_band",
          expr("CAST(floor(c_acctbal / 4000.0) AS BIGINT)"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("acct_band")).as("l_distinct"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("l_distinct"), (col("l_distinct") < 2).as("at_risk"))
    },
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                  COUNT(DISTINCT CAST(floor(c_acctbal / 4000.0) AS BIGINT)) AS l_distinct,
                  COUNT(DISTINCT CAST(floor(c_acctbal / 4000.0) AS BIGINT)) < 2 AS at_risk
           FROM customer GROUP BY c_nationkey, c_mktsegment"""),

    // ----- GINI concentration of token mass per source: how unevenly
    // the corpus' tokens distribute over documents (a data-mixing
    // diagnostic). Entirely integer arithmetic via the rank identity
    // G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending x —
    // exact BIGINT sums, one final division, no order-dependent float
    // accumulation (tied x values contribute the same sum under any
    // tie order, so the rank tiebreak cannot leak in) -----
    QuerySpec("q_gini", (s, dir) => {
      val tk = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("source"), size(col("toks")).cast("long").as("x"))
      val w = Window.partitionBy(col("source")).orderBy(col("x"))
      tk.withColumn("rn", row_number().over(w).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("x")).as("sx"), sum(col("rn") * col("x")).as("wx"))
        .select(col("source"), col("n_docs"),
          ((lit(2) * col("wx") - (col("n_docs") + 1) * col("sx"))
            .cast("double") /
            (col("n_docs") * col("sx")).cast("double")).as("gini"))
    },
      s"""WITH tk AS (SELECT source,
                  CAST(len(${duckTokens("text")}) AS BIGINT) AS x FROM documents),
           r AS (SELECT source, x,
                        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY x)
                          AS BIGINT) AS rn FROM tk),
           g AS (SELECT source, COUNT(*) AS n_docs,
                        CAST(SUM(x) AS BIGINT) AS sx,
                        CAST(SUM(rn * x) AS BIGINT) AS wx
                 FROM r GROUP BY source)
           SELECT source, n_docs,
                  CAST(2 * wx - (n_docs + 1) * sx AS DOUBLE)
                    / CAST(n_docs * sx AS DOUBLE) AS gini
           FROM g"""),

    // ----- BM25 retrieval scoring (rational-idf variant): per query
    // term, the top-5 documents by the BM25 term score. Same log-free
    // discipline as q_tfidf_like — the classic log-idf is replaced by
    // the rational (N - df + 0.5)/(df + 0.5), so every score is a fixed
    // chain of IEEE ops on exact integers (tf, dl, df, N) with NO
    // order-dependent float accumulation (scores stay per-term; they
    // are never summed across terms). The df/avgdl corpus state is two
    // token aggregations; the per-term candidate row set is pruned by
    // the term filter before any join -----
    // ----- bottom-k uniform-sample QUANTILE SKETCH (KMV family): per
    // event type, p50/p90 estimated from the 256 rows with the smallest
    // event-id hashes — a deterministic, MERGEABLE, bounded-state
    // sample (≤ 2k longs per (group, partition) ride the shuffle) where
    // exact `percentile` would per-group sort all 100 TB. Hash ties
    // keep the smaller value, so the sample — and the estimates — are a
    // pure function of the input SET (no RNG, no order dependence): the
    // oracle replays them bit-for-bit. The exact percentiles ride along
    // as the calibration readout (this query IS the "is k=256 enough"
    // sizing check; production runs at scale drop the exact columns) -----
    QuerySpec("q_sample_quantiles", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value"),
          graft.functions.GraftFunctions
            .polyHash(col("event_id").cast("string")).as("h0"),
          expr("CAST(floor(value * 10000D) AS BIGINT)").as("q"))
        .select(col("event_type"), col("value"), col("q"),
          expr("(h0 * 2654435761L) % 1000000007L").as("h"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.SigAgg.bottomKSample(256)(col("h"), col("q"))
            .as("samp"),
          expr("percentile(value, 0.5D)").as("exact_p50"),
          expr("percentile(value, 0.9D)").as("exact_p90"))
        .select(col("event_type"), col("n_rows"),
          size(col("samp")).cast("long").as("n_sample"),
          expr("CAST(element_at(samp, CAST(floor((size(samp) - 1) * 0.5D)" +
            " AS INT) + 1) AS DOUBLE) / 10000.0D").as("est_p50"),
          expr("CAST(element_at(samp, CAST(floor((size(samp) - 1) * 0.9D)" +
            " AS INT) + 1) AS DOUBLE) / 10000.0D").as("est_p90"),
          col("exact_p50"), col("exact_p90"))
    },
      // same fixed hash family; duplicate hashes collapse to the MIN
      // value (the aggregator's tie rule), then the 256 smallest
      // hashes' values sorted ascending are the sample
      s"""WITH h AS (SELECT event_type, value,
                  (${duckStrHash("CAST(event_id AS VARCHAR)")}
                    * 2654435761) % 1000000007 AS h,
                  CAST(floor(value * 10000) AS BIGINT) AS q
                 FROM events),
           d AS (SELECT event_type, h, MIN(q) AS q
                 FROM h GROUP BY event_type, h),
           r AS (SELECT event_type, q,
                        ROW_NUMBER() OVER (PARTITION BY event_type
                          ORDER BY h) AS rn FROM d),
           samp AS (SELECT event_type, list_sort(list(q)) AS vs
                    FROM r WHERE rn <= 256 GROUP BY event_type),
           ex AS (SELECT event_type, COUNT(*) AS n_rows,
                    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS exact_p50,
                    percentile_cont(0.9) WITHIN GROUP (ORDER BY value) AS exact_p90
                  FROM events GROUP BY event_type)
           SELECT event_type, n_rows, CAST(len(vs) AS BIGINT) AS n_sample,
                  CAST(vs[CAST(floor((len(vs) - 1) * 0.5) AS BIGINT) + 1]
                    AS DOUBLE) / 10000.0 AS est_p50,
                  CAST(vs[CAST(floor((len(vs) - 1) * 0.9) AS BIGINT) + 1]
                    AS DOUBLE) / 10000.0 AS est_p90,
                  exact_p50, exact_p90
           FROM ex JOIN samp USING (event_type)"""),

    // ----- t-CLOSENESS audit — the distributional member of the
    // k-anonymity / l-diversity family: a quasi-identifier group leaks
    // even when large and diverse if its SENSITIVE-attribute
    // distribution differs sharply from the global one. t = total-
    // variation distance between the group's balance-band distribution
    // and the global distribution, as the exact integer
    // Σ|n_gv·n − n_v·n_g| over the (groups × bands) grid (absent cells
    // included — they contribute n_v·n_g), halved by the one final
    // division. Every frame past the first aggregate is grid-sized:
    // broadcast joins, no second corpus scan -----
    QuerySpec("q_t_closeness", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal / 4000.0D) AS BIGINT)").as("band"))
      // persist: the cell-count table feeds the group, band, AND total
      // rollups (multi-consumer recompute trap)
      val gv = graft.operators.Dedup.persistTracked(
        cust.groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
          .agg(count(lit(1)).as("n_gv")))
      val g = gv.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum(col("n_gv")).as("n_g"))
      val v = gv.groupBy(col("band")).agg(sum(col("n_gv")).as("n_v"))
      val n = v.agg(sum(col("n_v")).as("n_total"))
      g.crossJoin(broadcast(v)).crossJoin(broadcast(n))
        .join(gv, Seq("c_nationkey", "c_mktsegment", "band"), "left")
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_g"),
          col("n_total"),
          expr("abs(coalesce(n_gv, 0L) * n_total - n_v * n_g)").as("d"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(max(col("n_g")).as("n_g"), sum(col("d")).as("tv_num"),
          max(col("n_total")).as("nt"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_g"),
          col("tv_num"),
          expr("CAST(tv_num AS DOUBLE) / CAST(2 * n_g * nt AS DOUBLE)")
            .as("t_closeness"),
          expr("CAST(tv_num AS DOUBLE) / CAST(2 * n_g * nt AS DOUBLE)" +
            " > 0.3D").as("at_risk"))
    },
      s"""WITH c AS (SELECT c_nationkey, c_mktsegment,
                  CAST(floor(c_acctbal / 4000.0) AS BIGINT) AS band
                 FROM customer),
           gv AS (SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS n_gv
                  FROM c GROUP BY 1, 2, 3),
           g AS (SELECT c_nationkey, c_mktsegment,
                        CAST(SUM(n_gv) AS BIGINT) AS n_g
                 FROM gv GROUP BY 1, 2),
           v AS (SELECT band, CAST(SUM(n_gv) AS BIGINT) AS n_v
                 FROM gv GROUP BY 1),
           n AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n_total FROM v),
           j AS (SELECT g.c_nationkey, g.c_mktsegment, g.n_g, n.n_total,
                        ABS(COALESCE(gv.n_gv, 0) * n.n_total
                          - v.n_v * g.n_g) AS d
                 FROM g CROSS JOIN v CROSS JOIN n
                 LEFT JOIN gv ON gv.c_nationkey = g.c_nationkey
                   AND gv.c_mktsegment = g.c_mktsegment
                   AND gv.band = v.band)
           SELECT c_nationkey, c_mktsegment, MIN(n_g) AS n_g,
                  CAST(SUM(d) AS BIGINT) AS tv_num,
                  CAST(SUM(d) AS DOUBLE)
                    / CAST(2 * MIN(n_g) * MIN(n_total) AS DOUBLE)
                    AS t_closeness,
                  CAST(SUM(d) AS DOUBLE)
                    / CAST(2 * MIN(n_g) * MIN(n_total) AS DOUBLE) > 0.3
                    AS at_risk
           FROM j GROUP BY 1, 2"""),

    // ----- Gini-Simpson token DIVERSITY per source: 1 − Σnᵢ(nᵢ−1) /
    // (N(N−1)) — the probability two random tokens differ. The log-free
    // diversity metric (Shannon entropy needs an engine-specific log):
    // exact BIGINT collision counts, ONE final division. Two narrow
    // aggregations; the token text never leaves the first -----
    QuerySpec("q_simpson_diversity", (s, dir) => {
      val tk = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("source"), explode(col("toks")).as("word"))
      tk.groupBy(col("source"), col("word")).agg(count(lit(1)).as("ni"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"), sum(col("ni")).as("n_tokens"),
          sum(col("ni") * (col("ni") - 1)).as("coll"))
        .select(col("source"), col("n_types"), col("n_tokens"), col("coll"),
          expr("1.0D - CAST(coll AS DOUBLE) / " +
            "nullif(CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 0.0D)")
            .as("simpson"))
    },
      s"""WITH w AS (SELECT source, unnest(${duckTokens("text")}) AS word
                 FROM documents),
           c AS (SELECT source, word, COUNT(*) AS ni FROM w GROUP BY 1, 2),
           g AS (SELECT source, COUNT(*) AS n_types,
                        CAST(SUM(ni) AS BIGINT) AS n_tokens,
                        CAST(SUM(ni * (ni - 1)) AS BIGINT) AS coll
                 FROM c GROUP BY 1)
           SELECT source, n_types, n_tokens, coll,
                  1.0 - CAST(coll AS DOUBLE)
                    / nullif(CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 0.0)
                    AS simpson
           FROM g"""),

    // ----- PARETO FRONTIER (skyline) selection: parts not dominated in
    // (minimize price, maximize size) — the multi-objective data-
    // selection shape (e.g. quality-vs-length corpus picks). A per-price
    // aggregate + the two-phase exclusive running max replace the
    // quadratic "exists dominator" self-join: m2 = same-price max for
    // equal-price strict dominance, m1 = max over strictly cheaper
    // prices. The skyline's inherent total order rides the parallel
    // range shuffle, not a single-partition window; rows never
    // self-join -----
    QuerySpec("q_pareto", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"),
          expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("price_c"),
          col("p_size").cast("long").as("sz"))
      // the strictly-cheaper running max runs on the per-price AGGREGATE
      // (one row per distinct price), two-phase range-partitioned
      // (plans.ParallelRank) — never a single-partition window; rows on
      // the aggregate are price-distinct, so the ROWS-exclusive frame
      // equals the RANGE-exclusive frame of the naive plan
      val priceAgg = graft.plans.ParallelRank.runningMaxExclusive(
        p.groupBy(col("price_c")).agg(max(col("sz")).as("m2")),
        "m1", col("m2"), 32, col("price_c"))
      p.join(priceAgg, Seq("price_c"))
        .filter((col("m1").isNull || col("m1") < col("sz")) &&
          col("m2") === col("sz"))
        .select(col("p_partkey"), col("price_c"), col("sz"))
    },
      """WITH p AS (SELECT p_partkey,
                  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS price_c,
                  CAST(p_size AS BIGINT) AS sz FROM part),
           m AS (SELECT p_partkey, price_c, sz,
                        MAX(sz) OVER (ORDER BY price_c
                          RANGE BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS m1,
                        MAX(sz) OVER (PARTITION BY price_c) AS m2
                 FROM p)
           SELECT p_partkey, price_c, sz FROM m
           WHERE (m1 IS NULL OR m1 < sz) AND m2 = sz"""),

    // ----- CROSS-SOURCE QUANTILE NORMALIZATION: map each source's
    // length distribution onto the POOLED distribution by rank — the
    // score-calibration step that makes per-source quality scores
    // comparable before a global threshold (a "0.8" from a lenient
    // scorer and a strict one stop meaning different things). Entirely
    // integer: per-source rank r of n_s maps to pooled order statistic
    // at index max(1, (r·N) div n_s) — no percentiles, no floats, one
    // equi join on the index. Per-source windows parallelize; the
    // pooled ranking is the two-phase range-partitioned rank
    // (plans.ParallelRank) — parallel at any scale. -----
    QuerySpec("q_quantile_norm", (s, dir) => {
      val docs = Dedup.persistTracked(t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")))
      val pooled = graft.plans.ParallelRank.rowNumber(docs, "gi", 32,
          col("n_chars"), col("doc_id"))
        .select(col("gi"), col("n_chars").as("pooled_chars"))
      val n = docs.agg(count(lit(1)).as("nn"))
      docs
        .withColumn("r", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars"), col("doc_id"))).cast("long"))
        .withColumn("n_s", count(lit(1)).over(
          Window.partitionBy(col("source"))))
        .crossJoin(broadcast(n))
        .withColumn("gi", expr("greatest(1L, (r * nn) DIV n_s)"))
        .join(pooled, Seq("gi"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("r"), col("pooled_chars").as("norm_chars"))
    },
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
           pooled AS (SELECT ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gi,
                             n_chars AS pooled_chars
                      FROM d),
           nn AS (SELECT COUNT(*) AS nn FROM d),
           r AS (SELECT doc_id, source, n_chars,
                        ROW_NUMBER() OVER (PARTITION BY source
                          ORDER BY n_chars, doc_id) AS r,
                        COUNT(*) OVER (PARTITION BY source) AS n_s
                 FROM d)
           SELECT doc_id, r.source, r.n_chars, CAST(r.r AS BIGINT) AS r,
                  pooled_chars AS norm_chars
           FROM r CROSS JOIN nn
           JOIN pooled ON pooled.gi = greatest(1, (r.r * nn.nn) // r.n_s)"""),

    // ----- MODE per group with a deterministic tie-break (highest count,
    // then lowest value — an undefined-tie mode is engine-dependent and
    // can never hash-match): most common order priority per customer
    // segment, two hash aggregations + one max_by -----
    QuerySpec("q_mode", (s, dir) => {
      val counts = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("n").desc, col("o_orderpriority"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_mktsegment"),
          col("o_orderpriority").as("mode_priority"), col("n").as("mode_n"))
    },
      """WITH c AS (SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
                      FROM orders JOIN customer ON o_custkey = c_custkey
                      GROUP BY 1, 2)
           SELECT c_mktsegment, o_orderpriority AS mode_priority,
                  n AS mode_n
           FROM (SELECT c_mktsegment, o_orderpriority, n,
                        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                          ORDER BY n DESC, o_orderpriority) AS rn
                 FROM c)
           WHERE rn = 1"""),

    // ----- pairwise TOTAL-VARIATION distance between source unigram
    // DISTRIBUTIONS (the drift/mixture-shift readout that vocab Jaccard
    // misses: two sources can share every word yet weight them
    // completely differently). Log-free and exact via the identity
    //   TV(p,q) = 1 - sum_w min(p_w, q_w)
    // scaled to integers: tvd_num = Na*Nb - sum_shared least(ca*Nb, cb*Na)
    // over an INNER join only — words private to either side never join
    // (their mass is what the Na*Nb term carries), so the shuffle is the
    // shared vocabulary, not the union. Counts table is vocab-sized
    // (Zipf-bounded) and persisted: it feeds the totals AND both join
    // sides. At 100 TB scale counts to ppm first (ca*Nb overflows past
    // ~3e9 tokens/source); the identity is unchanged. -----
    QuerySpec("q_source_tvd", (s, dir) => {
      val wc = Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .select(col("source"), explode(col("toks")).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c")))
      val tot = wc.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val a = wc.select(col("source").as("s1"), col("w"), col("c").as("ca"))
        .join(tot.select(col("source").as("s1"), col("n").as("na")), "s1")
      val b = wc.select(col("source").as("s2"), col("w"), col("c").as("cb"))
        .join(tot.select(col("source").as("s2"), col("n").as("nb")), "s2")
      a.join(b, "w")
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"), col("na"), col("nb"))
        .agg(sum(least(col("ca") * col("nb"), col("cb") * col("na")))
          .as("shared_min"))
        .select(col("s1"), col("s2"),
          (col("na") * col("nb") - col("shared_min")).as("tvd_num"),
          (col("na") * col("nb")).as("tvd_den"),
          expr("CAST(na * nb - shared_min AS DOUBLE) / (na * nb)")
            .as("tvd"))
    },
      s"""WITH tk AS (SELECT source, unnest(${duckTokens("text")}) AS w
                        FROM documents),
           wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
                  FROM tk GROUP BY 1, 2),
           tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                   FROM wc GROUP BY 1),
           pr AS (SELECT a.source AS s1, b.source AS s2,
                         ta.n AS na, tb.n AS nb,
                         CAST(SUM(least(a.c * tb.n, b.c * ta.n)) AS BIGINT)
                           AS shared_min
                  FROM wc a JOIN wc b
                    ON a.w = b.w AND a.source < b.source
                  JOIN tot ta ON ta.source = a.source
                  JOIN tot tb ON tb.source = b.source
                  GROUP BY 1, 2, 3, 4)
           SELECT s1, s2, na * nb - shared_min AS tvd_num,
                  na * nb AS tvd_den,
                  CAST(na * nb - shared_min AS DOUBLE) / (na * nb) AS tvd
           FROM pr"""),

    // ----- pairwise HELLINGER distance between the same source unigram
    // distributions — the TVD companion that weights shared mass
    // geometrically (more sensitive to head-word reweighting, bounded
    // like TVD). sqrt() IS correctly rounded IEEE in both engines, so
    // each per-word term floor(sqrt(ca·cb·1e12/(na·nb))) is bit-
    // deterministic, and the fixed-point terms sum as BIGINTs —
    // order-free. Same inner-join-only shape as q_source_tvd (private
    // words contribute zero to the Bhattacharyya sum by definition). -----
    QuerySpec("q_source_hellinger", (s, dir) => {
      val wc = Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .select(col("source"), explode(col("toks")).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c")))
      val tot = wc.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val a = wc.select(col("source").as("s1"), col("w"), col("c").as("ca"))
        .join(tot.select(col("source").as("s1"), col("n").as("na")), "s1")
      val b = wc.select(col("source").as("s2"), col("w"), col("c").as("cb"))
        .join(tot.select(col("source").as("s2"), col("n").as("nb")), "s2")
      a.join(b, "w")
        .filter(col("s1") < col("s2"))
        .withColumn("h", expr(
          "CAST(floor(sqrt(CAST(ca * cb AS DOUBLE) * 1000000000000.0D" +
            " / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))) AS BIGINT)"))
        .groupBy(col("s1"), col("s2"))
        .agg(sum(col("h")).as("bc_fixed"))
        .withColumn("hellinger", expr(
          "sqrt(greatest(1.0D - CAST(bc_fixed AS DOUBLE) / 1000000.0D, 0D))"))
    },
      s"""WITH tk AS (SELECT source, unnest(${duckTokens("text")}) AS w
                        FROM documents),
           wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
                  FROM tk GROUP BY 1, 2),
           tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                   FROM wc GROUP BY 1),
           pr AS (SELECT a.source AS s1, b.source AS s2,
                         CAST(SUM(CAST(floor(sqrt(
                           CAST(a.c * b.c AS DOUBLE) * 1000000000000.0
                             / (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE))
                         )) AS BIGINT)) AS BIGINT) AS bc_fixed
                  FROM wc a JOIN wc b
                    ON a.w = b.w AND a.source < b.source
                  JOIN tot ta ON ta.source = a.source
                  JOIN tot tb ON tb.source = b.source
                  GROUP BY 1, 2)
           SELECT s1, s2, bc_fixed,
                  sqrt(greatest(1.0 - CAST(bc_fixed AS DOUBLE) / 1000000.0,
                                0.0)) AS hellinger
           FROM pr"""),

    // ----- two-sample KOLMOGOROV-SMIRNOV statistic between user-parity
    // cohorts' purchase values, in EXACT integer arithmetic: at every
    // observed value, |F1 - F2| = |c1*n2 - c2*n1| / (n1*n2), so the max
    // runs over integers and the single division happens once at the
    // end — no order-dependent float accumulation (the same discipline
    // as the A/B z-test). One sort-window over distinct values -----
    QuerySpec("q_ks_test", (s, dir) => {
      val v = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .selectExpr("user_id % 2 AS cohort",
          "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c")
      val counts = v.groupBy(col("v_c"))
        .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("d1"),
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("d2"))
      // both CDFs in one two-phase pass over the distinct-value order —
      // the value domain is bounded here, but the parallel shape costs
      // nothing and keeps the logs free of single-partition windows
      val cum = graft.plans.ParallelRank.withRunningAggs(counts, 8,
        Seq(graft.plans.ParallelRank.RunCol("c1", col("d1"), "sum",
            inclusive = true),
          graft.plans.ParallelRank.RunCol("c2", col("d2"), "sum",
            inclusive = true)),
        col("v_c"))
      val totals = cum.agg(max(col("c1")).as("n1"), max(col("c2")).as("n2"))
      cum.crossJoin(broadcast(totals))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("num"))
        .select(col("n1"), col("n2"),
          expr("CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * " +
            "CAST(n2 AS DOUBLE))").as("ks_d"))
    },
      """WITH v AS (SELECT user_id % 2 AS cohort,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
                 FROM events WHERE event_type = 'purchase'),
           c AS (SELECT v_c,
                  CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
                  CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d2
                 FROM v GROUP BY v_c),
           cum AS (SELECT v_c,
                  CAST(SUM(d1) OVER (ORDER BY v_c ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c1,
                  CAST(SUM(d2) OVER (ORDER BY v_c ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c2
                 FROM c),
           t AS (SELECT MAX(c1) AS n1, MAX(c2) AS n2 FROM cum)
           SELECT n1, n2,
                  CAST(MAX(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d
           FROM cum CROSS JOIN t GROUP BY n1, n2"""),

    // ----- LENGTH-DISTRIBUTION DRIFT between sources: the exact-integer
    // two-sample KS statistic over doc lengths, src0 vs src1 — catches a
    // feed whose extraction started truncating (vocab-overlap and TVD
    // look at WORDS; this is the shape-of-documents drift). Same
    // max|c1·n2 − c2·n1| construction as q_ks_test, one final
    // division. -----
    QuerySpec("q_len_drift_ks", (s, dir) => {
      val v = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), col("n_chars"))
      val counts = v.groupBy(col("n_chars"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("d1"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("d2"))
      val cum = graft.plans.ParallelRank.withRunningAggs(counts, 8,
        Seq(graft.plans.ParallelRank.RunCol("c1", col("d1"), "sum",
            inclusive = true),
          graft.plans.ParallelRank.RunCol("c2", col("d2"), "sum",
            inclusive = true)),
        col("n_chars"))
      val totals = cum.agg(max(col("c1")).as("n1"), max(col("c2")).as("n2"))
      cum.crossJoin(broadcast(totals))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("numr"))
        .select(col("n1"), col("n2"),
          expr("CAST(numr AS DOUBLE) / (CAST(n1 AS DOUBLE) * " +
            "CAST(n2 AS DOUBLE))").as("ks_d"))
    },
      """WITH c AS (SELECT n_chars,
                  CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
                  CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d2
                 FROM documents WHERE source IN ('src0', 'src1')
                 GROUP BY n_chars),
           cum AS (SELECT n_chars,
                  CAST(SUM(d1) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c1,
                  CAST(SUM(d2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c2
                 FROM c),
           t AS (SELECT MAX(c1) AS n1, MAX(c2) AS n2 FROM cum)
           SELECT n1, n2,
                  CAST(MAX(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d
           FROM cum CROSS JOIN t GROUP BY n1, n2"""),

    // ----- HHI supplier concentration per part-type prefix: the
    // Herfindahl-Hirschman index from exact integer quantity sums —
    // HHI = sum(q_i^2) / (sum(q_i))^2 needs no per-share division, so
    // there is no order-dependent float accumulation anywhere. BIGINT
    // headroom: q_i^2 sums stay under 2^63 through sf100; beyond that
    // lift the squares to DECIMAL(38,0) on both engines -----
    QuerySpec("q_hhi", (s, dir) => {
      val byType = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .selectExpr("split(p_type, ' ')[0] AS type_class", "l_suppkey",
          "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q_c")
        .groupBy(col("type_class"), col("l_suppkey"))
        .agg(sum(col("q_c")).as("qi"))
      byType.groupBy(col("type_class"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("qi") * col("qi")).as("sum_sq"),
          sum(col("qi")).as("total"))
        .select(col("type_class"), col("n_suppliers"),
          expr("CAST(sum_sq AS DOUBLE) / (CAST(total AS DOUBLE) * " +
            "CAST(total AS DOUBLE))").as("hhi"))
    },
      """WITH q AS (SELECT string_split(p_type, ' ')[1] AS type_class,
                  l_suppkey,
                  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS qi
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 GROUP BY 1, 2)
           SELECT type_class, COUNT(*) AS n_suppliers,
                  CAST(CAST(SUM(qi * qi) AS BIGINT) AS DOUBLE)
                    / (CAST(CAST(SUM(qi) AS BIGINT) AS DOUBLE)
                       * CAST(CAST(SUM(qi) AS BIGINT) AS DOUBLE)) AS hhi
           FROM q GROUP BY type_class"""),

    // ----- WEIGHTED MEDIAN per group: the price point at which half the
    // QUANTITY mass of each return-flag class has shipped — ordinary
    // medians ignore weights; inventory/royalty math needs the mass-
    // weighted one. One window cumsum over exact DECIMAL weights, the
    // answer is the first row whose cumulative weight crosses half the
    // total (integer/decimal compares only, no float accumulation) -----
    QuerySpec("q_weighted_median", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("price_c"),
          expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("qty_c"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("price_c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.withColumn("cum", sum(col("qty_c")).over(w))
        .withColumn("total", sum(col("qty_c")).over(
          Window.partitionBy(col("l_returnflag"))))
        .filter(col("cum") * 2 >= col("total"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("price_c")).as("weighted_median_price_c"),
          max(col("total")).as("total_qty_c"))
    },
      """WITH li AS (SELECT l_returnflag,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS price_c,
                  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS qty_c
                 FROM lineitem),
           c AS (SELECT l_returnflag, price_c,
                        CAST(SUM(qty_c) OVER (PARTITION BY l_returnflag
                          ORDER BY price_c
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                        CAST(SUM(qty_c) OVER (PARTITION BY l_returnflag)
                          AS BIGINT) AS total
                 FROM li)
           SELECT l_returnflag, MIN(price_c) AS weighted_median_price_c,
                  MAX(total) AS total_qty_c
           FROM c WHERE cum * 2 >= total GROUP BY l_returnflag"""),

    // ----- BLOOM-FILTER JOIN PRUNING: the fact side is pre-filtered
    // map-side (no shuffle, no extra scan) by a 64 KiB Bloom filter of
    // the dim keys; the exact join that follows removes false positives,
    // so the composed result — and therefore the oracle — is exactly the
    // unpruned join. The 100 TB case this models: dim too big to
    // broadcast exactly, Bloom of it broadcast-trivial. -----
    QuerySpec("q_bloom_prune", (s, dir) => {
      val dim = t(s, dir, "supplier").filter(col("s_nationkey") < 5)
      Bloom.prunedJoin(t(s, dir, "lineitem"), "l_suppkey", dim, "s_suppkey")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("revenue"))
    },
      // Bloom prune is transparent: false positives die in the exact
      // join, so the oracle is the plain unpruned join.
      """SELECT s_nationkey, COUNT(*) AS n_items,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           WHERE s_nationkey < 5
           GROUP BY 1"""),

    // Filter quality readout: bits set, pass/match/false-positive counts
    // — every count exact integer math with a DuckDB-replicated filter.
    QuerySpec("q_bloom_stats", (s, dir) =>
      Bloom.stats(t(s, dir, "lineitem"), "l_suppkey",
        t(s, dir, "supplier").filter(col("s_nationkey") < 5), "s_suppkey"),
      s"""WITH dim AS (SELECT DISTINCT s_suppkey AS key FROM supplier WHERE s_nationkey < 5),
           bits AS (SELECT DISTINCT ${graft.operators.Bloom.duckPositionSql("key", "i.range", 1 << 16, 5)} AS pos
                    FROM dim, range(0, 5) i),
           f AS (SELECT l_suppkey AS key, COUNT(*) AS nrows FROM lineitem GROUP BY 1),
           fpos AS (SELECT f.key, f.nrows,
                           ${graft.operators.Bloom.duckPositionSql("f.key", "i.range", 1 << 16, 5)} AS pos
                    FROM f, range(0, 5) i),
           pass AS (SELECT key, nrows,
                           MIN(CASE WHEN bits.pos IS NULL THEN 0 ELSE 1 END) AS ok
                    FROM fpos LEFT JOIN bits USING (pos) GROUP BY 1, 2),
           agg AS (SELECT CAST(SUM(nrows) AS BIGINT) AS fact_rows,
                          CAST(SUM(nrows * ok) AS BIGINT) AS bloom_pass FROM pass),
           tm AS (SELECT CAST(COALESCE(SUM(nrows), 0) AS BIGINT) AS true_match
                  FROM f WHERE key IN (SELECT key FROM dim)),
           bs AS (SELECT COUNT(*) AS bits_set FROM bits)
           SELECT CAST(${1 << 16} AS BIGINT) AS m, CAST(5 AS BIGINT) AS k_hashes,
                  bits_set, fact_rows, bloom_pass, true_match,
                  bloom_pass - true_match AS false_pos
           FROM agg, tm, bs"""),

    // ----- PER-DOMAIN QUOTA (Common-Crawl "max n pages per domain"):
    // two-phase — broadcast per-source counts drive a hash pre-filter,
    // then the exact per-source window ranks only the survivors. -----
    QuerySpec("q_domain_quota", (s, dir) =>
      Sampling.domainQuota(t(s, dir, "documents"), "doc_id", "source",
        n = 3, margin = 2),
      Sampling.domainQuotaOracle(n = 3, margin = 2)),

    // ----- SOURCE-MIXTURE RESAMPLING: deterministic hash-threshold
    // selection at per-source rates w_s/max(w) — the "books 3x, web 1x"
    // training-mix knob as a single narrow map + tiny aggregate. -----
    QuerySpec("q_mixture_sample", (s, dir) =>
      Sampling.mixtureCounts(t(s, dir, "documents"), "doc_id", "source",
        mixtureWeights),
      Sampling.mixtureCountsOracle(mixtureWeights)),

    // ----- TEMPERATURE-SCALED MIXTURE (α = 0.5): the multilingual-LM
    // sampling rule p_i^α / Σ p_j^α that upsamples small sources without
    // letting the head dominate. α = 0.5 makes the power a SQUARE ROOT —
    // the one power both engines round correctly (pow() is not correctly
    // rounded and engine-specific), and the sqrt is floor-quantized to
    // BIGINT before the cross-source sum so the total is order-exact.
    // One tiny aggregate + a 1-row scalar cross — nothing rescans. -----
    QuerySpec("q_mix_temperature", (s, dir) => {
      val st = t(s, dir, "documents").groupBy(col("source"))
        .agg(sum(col("n_chars")).as("chars"))
        .withColumn("q", expr(
          "CAST(floor(sqrt(CAST(chars AS DOUBLE)) * 1048576.0D) AS BIGINT)"))
      val tot = st.agg(sum(col("q")).as("qtot"), sum(col("chars")).as("ctot"))
      st.crossJoin(broadcast(tot))
        .select(col("source"), col("chars"), col("q"),
          expr("CAST(chars AS DOUBLE) / CAST(ctot AS DOUBLE)").as("share_prop"),
          expr("CAST(q AS DOUBLE) / CAST(qtot AS DOUBLE)").as("share_t05"),
          expr("(CAST(q AS DOUBLE) / CAST(qtot AS DOUBLE)) / " +
            "(CAST(chars AS DOUBLE) / CAST(ctot AS DOUBLE))").as("upsample"))
    },
      """WITH st AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars,
                  CAST(floor(sqrt(CAST(SUM(n_chars) AS DOUBLE)) * 1048576.0) AS BIGINT) AS q
                FROM documents GROUP BY source),
           t AS (SELECT CAST(SUM(q) AS BIGINT) AS qtot,
                        CAST(SUM(chars) AS BIGINT) AS ctot FROM st)
           SELECT source, chars, q,
                  CAST(chars AS DOUBLE) / CAST(ctot AS DOUBLE) AS share_prop,
                  CAST(q AS DOUBLE) / CAST(qtot AS DOUBLE) AS share_t05,
                  (CAST(q AS DOUBLE) / CAST(qtot AS DOUBLE)) /
                    (CAST(chars AS DOUBLE) / CAST(ctot AS DOUBLE)) AS upsample
           FROM st CROSS JOIN t"""),

    // ----- SYSTEMATIC PPS SAMPLE (probability ∝ size, k = 25 per
    // source): one pass, NO RNG — item selected iff its cumulative-weight
    // interval crosses a multiple of total/k, all in exact BIGINT floor
    // division, so the sample is deterministic and engine-identical.
    // Items heavier than the step are certainty items (selected once).
    // The prefix sum is the PER-SOURCE window — parallel across sources,
    // never a global single-partition sort; at 100 TB swap in the
    // two-phase exclusive prefix sum (q_scan_plan's shape) if one source
    // outgrows a partition. -----
    QuerySpec("q_pps_sample", (s, dir) => {
      val k = 25
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val c = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("cum", sum(col("n_chars")).over(w))
      val tot = c.groupBy(col("source")).agg(max(col("cum")).as("total"))
      c.join(broadcast(tot), Seq("source"))
        .filter(expr(
          s"(cum * $k) DIV total > ((cum - n_chars) * $k) DIV total"))
        .select(col("source"), col("doc_id"), col("n_chars"), col("cum"),
          expr(s"(cum * $k) DIV total").as("bucket"))
    },
      """WITH c AS (SELECT source, doc_id, n_chars,
                  CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
                FROM documents),
           t AS (SELECT source, MAX(cum) AS total FROM c GROUP BY source)
           SELECT c.source, doc_id, n_chars, cum,
                  CAST((cum * 25) // total AS BIGINT) AS bucket
           FROM c JOIN t ON c.source = t.source
           WHERE (cum * 25) // total > ((cum - n_chars) * 25) // total"""),

    // ----- DATA-QUALITY CONSTRAINT AUDIT: the expectation-suite battery
    // every warehouse runs before trusting a load — referential
    // integrity, key uniqueness, range/nullability/ordering sanity —
    // each constraint a tiny aggregate, unioned into one report. All
    // checks are anti-joins or narrow filters: nothing corpus-sized
    // shuffles, dims broadcast. -----
    QuerySpec("q_dq_checks", (s, dir) => {
      // three conditional-aggregation passes over PERSISTED narrow
      // projections — each base table's parquet is read once, not once
      // per constraint (the naive one-subtree-per-check union scans
      // lineitem 4x; at 100 TB that is 4 full-corpus reads for one
      // report). Anti-join checks become left-join null counts so they
      // fold into the same pass as the other row-level predicates.
      val li = Dedup.persistTracked(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_shipdate")))
      val o = Dedup.persistTracked(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate")))
      val c = t(s, dir, "customer").select(col("c_custkey"))
      // pass 1: lineitem ⟕ orders — referential + cross-table ordering
      val lij = li.join(o.select(col("o_orderkey"), col("o_orderdate")),
          li("l_orderkey") === col("o_orderkey"), "left")
        .agg(
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
            .as("orphan_lineitem"),
          sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
            .as("ship_before_order"))
      // pass 2: per-(orderkey, linenumber) groups — uniqueness + ranges
      val dup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("bq"))
        .agg(coalesce(sum(expr("n - 1")), lit(0L)).as("dup_linenumber"),
          coalesce(sum(col("bq")), lit(0L)).as("quantity_range"))
      // pass 3: orders ⟕ customer — referential + value sanity
      val oj = o.join(c, col("o_custkey") === col("c_custkey"), "left")
        .agg(
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("orphan_order"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("nonpositive_price"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("null_custkey"))
      lij.crossJoin(dup).crossJoin(oj)
        .selectExpr("""stack(7,
          'orphan_lineitem', orphan_lineitem,
          'orphan_order', orphan_order,
          'dup_linenumber', dup_linenumber,
          'quantity_range', quantity_range,
          'nonpositive_price', nonpositive_price,
          'null_custkey', null_custkey,
          'ship_before_order', ship_before_order) AS (check, n_bad)""")
    },
      """SELECT 'orphan_lineitem' AS "check", CAST(COUNT(*) AS BIGINT) AS n_bad
           FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
           UNION ALL
           SELECT 'orphan_order', CAST(COUNT(*) AS BIGINT)
           FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
           UNION ALL
           SELECT 'dup_linenumber', CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
           FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
           UNION ALL
           SELECT 'quantity_range', CAST(COUNT(*) AS BIGINT)
           FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
           UNION ALL
           SELECT 'nonpositive_price', CAST(COUNT(*) AS BIGINT)
           FROM orders WHERE o_totalprice <= 0
           UNION ALL
           SELECT 'null_custkey', CAST(COUNT(*) AS BIGINT)
           FROM orders WHERE o_custkey IS NULL
           UNION ALL
           SELECT 'ship_before_order', CAST(COUNT(*) AS BIGINT)
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate < o_orderdate"""),

    // ----- FUNCTIONAL-DEPENDENCY audit (schema profiling): does the
    // determinant column fix the dependent? Per FD one groupBy on the
    // determinant counting distinct dependents — never a global
    // multi-distinct (the q_profile Expand-cascade lesson); the three
    // tiny reports union. holds = no group with >1 distinct dependent.
    // -----
    QuerySpec("q_fd_audit", (s, dir) => {
      def fd(df: DataFrame, name: String, det: String, dep: String) =
        df.groupBy(col(det))
          .agg(countDistinct(col(dep)).as("nd"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"))
          .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
            (col("n_violating") === 0).as("holds"))
      fd(t(s, dir, "orders"), "o_orderkey->o_custkey",
        "o_orderkey", "o_custkey")
        .unionAll(fd(t(s, dir, "orders"), "o_custkey->o_orderpriority",
          "o_custkey", "o_orderpriority"))
        .unionAll(fd(t(s, dir, "customer"), "c_nationkey->c_mktsegment",
          "c_nationkey", "c_mktsegment"))
    },
      """WITH f1 AS (SELECT 'o_orderkey->o_custkey' AS fd,
                  CAST(COUNT(*) AS BIGINT) AS n_groups,
                  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_violating
                FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS nd
                      FROM orders GROUP BY 1)),
           f2 AS (SELECT 'o_custkey->o_orderpriority' AS fd,
                  CAST(COUNT(*) AS BIGINT) AS n_groups,
                  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_violating
                FROM (SELECT o_custkey,
                             COUNT(DISTINCT o_orderpriority) AS nd
                      FROM orders GROUP BY 1)),
           f3 AS (SELECT 'c_nationkey->c_mktsegment' AS fd,
                  CAST(COUNT(*) AS BIGINT) AS n_groups,
                  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_violating
                FROM (SELECT c_nationkey,
                             COUNT(DISTINCT c_mktsegment) AS nd
                      FROM customer GROUP BY 1))
           SELECT fd, n_groups, n_violating, n_violating = 0 AS holds
           FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
                 UNION ALL SELECT * FROM f3)"""),

    // ----- BENFORD first-significant-digit audit (the classic fraud /
    // synthetic-data smell test on a monetary column). Entirely in
    // exact integer space: digit counts are exact, the Benford expected
    // shares log10(1+1/d) enter as fixed ppm LITERALS (they sum to
    // exactly 1e6), and observed-vs-expected deltas are BIGINT ppm —
    // no engine-specific log() anywhere. floor() before the digit
    // extraction, never CAST-to-int: decimal casts round half-up in
    // DuckDB but truncate in Spark. One narrow scan + a 9-group
    // aggregate; scales like a count(*). -----
    QuerySpec("q_benford", (s, dir) => {
      val exp = "CASE digit WHEN '1' THEN 301030L WHEN '2' THEN 176091L " +
        "WHEN '3' THEN 124939L WHEN '4' THEN 96910L WHEN '5' THEN 79181L " +
        "WHEN '6' THEN 66947L WHEN '7' THEN 57992L WHEN '8' THEN 51153L " +
        "ELSE 45757L END"
      val digits = Dedup.persistTracked(t(s, dir, "lineitem")
        .filter(col("l_extendedprice") >= 1)
        .selectExpr("substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)" +
          " AS STRING), 1, 1) AS digit")
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n")))
      // grand total as a broadcast 1-row scalar, not an unpartitioned
      // window (WindowExec with no partition spec single-tasks the frame)
      digits
        .crossJoin(broadcast(digits.agg(sum(col("n")).as("total"))))
        .selectExpr("digit", "n",
          "(n * 1000000L) div total AS obs_ppm",
          s"$exp AS exp_ppm",
          s"(n * 1000000L) div total - ($exp) AS delta_ppm")
    },
      {
        val exp = "CASE digit WHEN '1' THEN 301030 WHEN '2' THEN 176091 " +
          "WHEN '3' THEN 124939 WHEN '4' THEN 96910 WHEN '5' THEN 79181 " +
          "WHEN '6' THEN 66947 WHEN '7' THEN 57992 WHEN '8' THEN 51153 " +
          "ELSE 45757 END"
        s"""WITH d AS (SELECT substr(CAST(CAST(floor(l_extendedprice)
                          AS BIGINT) AS VARCHAR), 1, 1) AS digit
                       FROM lineitem WHERE l_extendedprice >= 1),
           g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
                 FROM d GROUP BY 1),
           t AS (SELECT g.*, CAST(SUM(n) OVER () AS BIGINT) AS total FROM g)
           SELECT digit, n, (n * 1000000) // total AS obs_ppm,
                  CAST($exp AS BIGINT) AS exp_ppm,
                  (n * 1000000) // total - CAST($exp AS BIGINT) AS delta_ppm
           FROM t"""
      }),

    // ----- TOKEN-BUDGET MIXTURE PLAN: given a total training-token
    // budget and per-source weights, allocate tokens ∝ weight and
    // estimate document draws — the planning readout behind
    // q_mixture_sample's execution knob. Pure integer division on exact
    // BIGINT token sums: the plan is engine-exact. -----
    QuerySpec("q_mix_plan", (s, dir) => {
      val budget = 100000L
      val agg = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .selectExpr("source", "CAST(size(toks) AS BIGINT) AS n_toks")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
      val weighted = Dedup.persistTracked(agg.withColumn("w",
        expr(Sampling.weightExpr("source", mixtureWeights))))
      weighted
        .crossJoin(broadcast(weighted.agg(sum(col("w")).as("sumw"))))
        .withColumn("alloc_tokens", expr(s"(${budget}L * w) div sumw"))
        .withColumn("est_docs",
          expr("(alloc_tokens * n_docs) div total_tokens"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("w"), col("alloc_tokens"), col("est_docs"))
    },
      {
        val wCase = mixtureWeights.toSeq.sortBy(_._1)
          .foldRight("CAST(0 AS BIGINT)") { case ((s, w), els) =>
            s"CASE WHEN source = '$s' THEN CAST($w AS BIGINT) ELSE $els END"
          }
        s"""WITH tk AS (SELECT source, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_toks FROM documents),
           a AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS total_tokens
                 FROM tk GROUP BY source),
           ww AS (SELECT *, $wCase AS w FROM a),
           s AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM ww)
           SELECT source, n_docs, total_tokens, w,
                  (100000 * w) // sumw AS alloc_tokens,
                  (((100000 * w) // sumw) * n_docs) // total_tokens AS est_docs
           FROM ww, s"""
      }),

    // ----- WATERFILL MIXTURE PLAN: q_mix_plan with per-source
    // availability caps — proportional shares saturate small sources,
    // and the leftover budget redistributes among the unsaturated ones
    // ∝ weight (two redistribution rounds, the fixed-point of a 5-source
    // mix). Pure BIGINT window sums + integer division: engine-exact.
    // The readout every over-weighted low-resource source needs before
    // a training run commits to a mixture. -----
    QuerySpec("q_mix_waterfill", (s, dir) => {
      val budget = 5000L
      // each redistribution round's frame-wide sums ride broadcast 1-row
      // scalars (persist-barriered so every round sees one computation),
      // not unpartitioned windows
      val base = Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .selectExpr("source", "CAST(size(toks) AS BIGINT) AS n_toks")
          .groupBy(col("source"))
          .agg(sum(col("n_toks")).as("avail"))
          .withColumn("w",
            expr(Sampling.weightExpr("source", mixtureWeights))))
      val f1 = Dedup.persistTracked(base
        .crossJoin(broadcast(base.agg(sum(col("w")).as("sumw"))))
        .withColumn("a1",
          least(col("avail"), expr(s"(${budget}L * w) div sumw"))))
      val s2 = f1.agg((lit(budget) - sum(col("a1"))).as("l1"),
        sum(when(col("a1") < col("avail"), col("w")).otherwise(0L)).as("w1"))
      val f2 = Dedup.persistTracked(f1.crossJoin(broadcast(s2))
        .withColumn("a2", when(col("a1") < col("avail") && col("w1") > 0,
          least(col("avail"), col("a1") + expr("(l1 * w) div w1")))
          .otherwise(col("a1"))))
      val s3 = f2.agg((lit(budget) - sum(col("a2"))).as("l2"),
        sum(when(col("a2") < col("avail"), col("w")).otherwise(0L)).as("w2"))
      f2.crossJoin(broadcast(s3))
        .withColumn("alloc", when(col("a2") < col("avail") && col("w2") > 0,
          least(col("avail"), col("a2") + expr("(l2 * w) div w2")))
          .otherwise(col("a2")))
        .select(col("source"), col("avail"), col("w"), col("alloc"),
          (col("alloc") === col("avail")).as("saturated"))
    },
      {
        val wCase = mixtureWeights.toSeq.sortBy(_._1)
          .foldRight("CAST(0 AS BIGINT)") { case ((s, w), els) =>
            s"CASE WHEN source = '$s' THEN CAST($w AS BIGINT) ELSE $els END"
          }
        s"""WITH tk AS (SELECT source,
                  CAST(len(${duckTokens("text")}) AS BIGINT) AS n_toks
                FROM documents),
           a AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS avail
                 FROM tk GROUP BY source),
           ww AS (SELECT *, $wCase AS w FROM a),
           r1 AS (SELECT *,
                    least(avail, (5000 * w)
                      // CAST(SUM(w) OVER () AS BIGINT)) AS a1
                  FROM ww),
           r2 AS (SELECT *,
                    5000 - CAST(SUM(a1) OVER () AS BIGINT) AS l1,
                    CAST(SUM(CASE WHEN a1 < avail THEN w ELSE 0 END)
                      OVER () AS BIGINT) AS w1
                  FROM r1),
           r3 AS (SELECT *,
                    CASE WHEN a1 < avail AND w1 > 0
                         THEN least(avail, a1 + (l1 * w) // w1)
                         ELSE a1 END AS a2
                  FROM r2),
           r4 AS (SELECT *,
                    5000 - CAST(SUM(a2) OVER () AS BIGINT) AS l2,
                    CAST(SUM(CASE WHEN a2 < avail THEN w ELSE 0 END)
                      OVER () AS BIGINT) AS w2
                  FROM r3)
           SELECT source, avail, w,
                  CASE WHEN a2 < avail AND w2 > 0
                       THEN least(avail, a2 + (l2 * w) // w2)
                       ELSE a2 END AS alloc,
                  CASE WHEN a2 < avail AND w2 > 0
                       THEN least(avail, a2 + (l2 * w) // w2)
                       ELSE a2 END = avail AS saturated
           FROM r4"""
      }),

    // ----- NEYMAN-ALLOCATION EVAL SAMPLE PLAN: split a human-eval /
    // annotation budget across sources ∝ N_h·S_h (stratum size times
    // stratum stddev — the allocation minimizing the estimator's
    // variance; uniform and proportional allocation both waste budget
    // on low-variance strata). Variance from exact BIGINT moments, the
    // one quantization is round(1e6·N·S), then pure integer floor-share
    // + LARGEST-REMAINDER rounding so the allocation sums to the budget
    // exactly — engine-exact end to end. -----
    QuerySpec("q_neyman_sample", (s, dir) => {
      val budget = 100L
      // frame-wide sums as broadcast 1-row scalars + the two-phase rank
      // for the largest-remainder order — no unpartitioned windows even
      // on this stratum-sized frame
      val stats = Dedup.persistTracked(t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sx2"))
        .withColumn("sd", expr(
          "sqrt(CAST(n_docs * sx2 - sx * sx AS DOUBLE) / (n_docs * n_docs))"))
        .withColumn("w", expr(
          "CAST(ROUND(1000000.0 * n_docs * sd) AS BIGINT)")))
      val shares = Dedup.persistTracked(stats
        .crossJoin(broadcast(stats.agg(sum(col("w")).as("sumw"))))
        .withColumn("base", expr(s"(${budget}L * w) div sumw"))
        .withColumn("rem", expr(s"${budget}L * w - base * sumw")))
      val leftover = shares.agg(
        (lit(budget) - sum(col("base"))).as("leftover"))
      graft.plans.ParallelRank.rowNumber(shares, "rk", 4,
          col("rem").desc, col("source"))
        .crossJoin(broadcast(leftover))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
        .select(col("source"), col("n_docs"), col("sd"), col("w"),
          col("alloc"))
    },
      // Same quantize-once-then-integer discipline as the waterfill
      // oracle; COUNT/SUM cast to BIGINT (DuckDB SUM(int) is HUGEINT).
      s"""WITH st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sx,
                   CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
            FROM documents GROUP BY source),
           sd AS (SELECT source, n_docs,
                         sqrt(CAST(n_docs * sx2 - sx * sx AS DOUBLE) / (n_docs * n_docs)) AS sd
                  FROM st),
           w AS (SELECT source, n_docs, sd,
                        CAST(ROUND(1000000.0 * n_docs * sd) AS BIGINT) AS w
                 FROM sd),
           sh AS (SELECT source, n_docs, sd, w,
                         CAST(SUM(w) OVER () AS BIGINT) AS sumw FROM w),
           base AS (SELECT source, n_docs, sd, w, sumw,
                           (100 * w) // sumw AS base,
                           100 * w - ((100 * w) // sumw) * sumw AS rem
                    FROM sh),
           fin AS (SELECT source, n_docs, sd, w, base, rem,
                          100 - CAST(SUM(base) OVER () AS BIGINT) AS leftover,
                          ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
                   FROM base)
           SELECT source, n_docs, sd, w,
                  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
           FROM fin"""),

    // ----- QUALITY-STRATIFIED SAMPLING (the CCNet knob composed end to
    // end): score every doc under the corpus LM, tercile it per language
    // (tail/middle/head), then keep head 100%, middle 50%, tail 10% by
    // deterministic hash threshold — the full "filter a crawl by fluency"
    // pipeline as one declarative plan with an exact oracle. -----
    QuerySpec("q_quality_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sc = TextAnalysis.bigramDocScores(docs, "doc_id", "text")
      sc.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("bin", ntile(3).over(
          Window.partitionBy(col("lang"))
            .orderBy(col("avg_p"), col("doc_id"))).cast("long"))
        .withColumn("r10", expr(
          "CASE WHEN bin = 3 THEN 10L WHEN bin = 2 THEN 5L ELSE 1L END"))
        .withColumn("kept", (expr(XFormulas.sparkStrHash(
          "concat('qs#', CAST(doc_id AS STRING))")) * 10 <
          col("r10") * XFormulas.P).cast("int").cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(sum(col("kept")).as("kept"), count(lit(1)).as("total"))
    },
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           bg AS (SELECT doc_id, unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           bw AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM bg),
           c2 AS (SELECT w1, bigram, COUNT(*) AS n FROM bw GROUP BY 1, 2),
           c1 AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
           sc AS (SELECT doc_id,
                         CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE) * 1000000000 / n1) AS BIGINT)) AS BIGINT) AS s,
                         COUNT(*) AS nb
                  FROM bw JOIN c2 USING (w1, bigram) JOIN c1 USING (w1)
                  GROUP BY doc_id),
           b AS (SELECT d.lang, sc.doc_id,
                        CAST(s AS DOUBLE) / nb / 1000000000 AS avg_p
                 FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
           nt AS (SELECT lang, doc_id, avg_p,
                         NTILE(3) OVER (PARTITION BY lang ORDER BY avg_p, doc_id) AS bin
                  FROM b),
           kk AS (SELECT lang, CAST(bin AS BIGINT) AS bin,
                         CASE WHEN (${duckStrHash("'qs#' || CAST(doc_id AS VARCHAR)")}) * 10 <
                              CAST(CASE WHEN bin = 3 THEN 10 WHEN bin = 2 THEN 5 ELSE 1 END AS BIGINT) * ${XFormulas.P}
                              THEN 1 ELSE 0 END AS kept
                  FROM nt)
           SELECT lang, bin, CAST(SUM(kept) AS BIGINT) AS kept, COUNT(*) AS total
           FROM kk GROUP BY 1, 2"""),

    // ----- BLOOM NOVELTY INGEST: exact-fingerprint dedup of an ingest
    // batch against the standing corpus. Rows failing the base-corpus
    // Bloom mask are DEFINITELY novel (no false negatives) and bypass
    // the anti join entirely; only the duplicate+FPP sliver pays the
    // exchange. Result == plain anti join == the oracle. -----
    QuerySpec("q_bloom_ingest", (s, dir) => {
      // persist barrier: the narrow (id, source, fp) projection feeds the
      // mask build, the definite-new branch, and the anti-join branch —
      // without it each consumer re-scans (and re-hashes) the corpus
      val docs = Dedup.persistTracked(t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          GraftFunctions.polyHash(col("text")).as("fp")))
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val ingest = docs.filter(col("doc_id") % 3 === 0)
      Bloom.noveltyFilter(ingest, "fp", base.select(col("fp").as("base_fp")), "base_fp")
        .select(col("doc_id"), col("source"))
    },
      // The Bloom short-circuit is invisible to the result (no false
      // negatives; false positives die in the anti join), so the oracle
      // is the plain fingerprint anti join.
      s"""WITH d AS (SELECT doc_id, source, ${duckStrHash("text")} AS fp FROM documents),
           base AS (SELECT fp FROM d WHERE doc_id % 3 <> 0),
           ing AS (SELECT doc_id, source, fp FROM d WHERE doc_id % 3 = 0)
           SELECT doc_id, source FROM ing
           WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.fp = ing.fp)"""),

    // ----- DEDUP-AWARE TRAINING WEIGHTS (soft dedup): instead of
    // dropping near-duplicates, weight every doc by 1/|its near-dup
    // cluster| so each cluster contributes ~one document of mass.
    // Per-source effective size = sum of weights — the honest "how much
    // unique data does this source bring" number that raw row counts
    // overstate. Weights are fixed-pointed (round(1e9/size) as BIGINT)
    // before summing so the aggregate is associative and engine-exact. -----
    QuerySpec("q_cluster_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val cl = Dedup.clusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
      docs.select(col("doc_id"), col("source"))
        .join(cl, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
        .withColumn("csize", count(lit(1)).over(Window.partitionBy(col("rep"))))
        .withColumn("wq", expr("CAST(ROUND(1000000000.0 / csize) AS BIGINT)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("wq")).as("sw"))
        .withColumn("eff_docs", expr("CAST(sw AS DOUBLE) / 1000000000"))
        .select(col("source"), col("n_docs"), col("sw"), col("eff_docs"))
    },
      {
        val rounds = (1 to 3).map { i =>
          s"""l$i AS (SELECT n.id, least(n.label, coalesce(m.nm, n.label)) AS label
                FROM l${i - 1} n LEFT JOIN (
                  SELECT e.src, MIN(l.label) AS nm FROM edges e
                  JOIN l${i - 1} l ON e.dst = l.id GROUP BY e.src) m
                ON n.id = m.src)"""
        }.mkString(",\n")
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           l0 AS (SELECT id, id AS label FROM nodes),
           $rounds,
           rep AS (SELECT d.doc_id, d.source, coalesce(l3.label, d.doc_id) AS rep
                   FROM documents d LEFT JOIN l3 ON d.doc_id = l3.id),
           cs AS (SELECT doc_id, source,
                         COUNT(*) OVER (PARTITION BY rep) AS csize
                  FROM rep)
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(CAST(ROUND(1000000000.0 / csize) AS BIGINT)) AS BIGINT) AS sw,
                  CAST(SUM(CAST(ROUND(1000000000.0 / csize) AS BIGINT)) AS DOUBLE) / 1000000000 AS eff_docs
           FROM cs GROUP BY source"""
      })
  )
}

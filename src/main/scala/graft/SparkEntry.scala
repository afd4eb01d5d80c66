package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.operators.{Bloom, Dedup, Events, Graph, Sampling, Similarity, Spatial, TextAnalysis}
import graft.functions.{GraftFunctions, XFormulas}

/** Driver contract — one `queries` entry per operator from SURVEY.md §2
  * (IDs S, P, F, J cited per query), plus the extension surface (§7 phase
  * D/E). Each query is Spark-first DataFrame composition; `oracleSql` holds
  * the DuckDB-equivalent ANSI SQL over the same parquet tables.
  *
  * Numeric discipline: double-typed aggregates are computed by summing
  * exact DECIMAL(18,2) casts and casting the exact result back to DOUBLE,
  * on BOTH sides, so Spark and DuckDB produce bit-identical doubles
  * regardless of summation order (float sums are order-dependent; decimal
  * sums are exact and associative).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact decimal cast of a double column (inputs have <=2 decimals). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Order-insensitive exact sum of a double column, returned as double. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Orders clustered one file per order-year into a VersionedTable
    * with manifest zone-map stats AND per-file o_orderkey Bloom filters
    * (q_skip_stats / q_skip_read / q_skip_bloom's shared build). The
    * year list is a bounded-domain collect — ≤10 values, the same
    * driver-side contract as a k-means codebook — and the rebuild is
    * deterministic: an OVERWRITE first commit resets the latest
    * version's content regardless of prior runs. Built ONCE per harness
    * run (memoized per dir): the three consumers read the same table.
    *
    * FIXTURE ONLY: the repartition(1)-per-year loop exists to pin
    * exactly one file per year so the specs can count skips — a
    * single-task write per partition value must NOT be copied into a
    * production path; the scale-safe form of this table is ONE
    * `df.write.partitionBy("year")` (parallel within every year) with
    * the same statCols/bloomCols manifest commit. */
  private val skipTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def buildSkipTable(s: SparkSession, dir: String,
      tag: String): String =
    skipTables.computeIfAbsent(s"${tag}_$dir", _ => {
      val path = s"/tmp/graft_skip_${tag}_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val orders = t(s, dir, "orders")
      val years = orders.selectExpr("year(o_orderdate) AS y").distinct()
        .orderBy("y").collect().map(_.getInt(0)).toSeq
      years.zipWithIndex.foreach { case (y, i) =>
        graft.sources.VersionedTable.commit(
          orders.filter(expr(s"year(o_orderdate) = $y")).repartition(1),
          path, if (i == 0) "overwrite" else "append",
          statCols = Seq("o_orderdate", "o_totalprice"),
          bloomCols = Seq("o_orderkey"))
      }
      path
    })

  /** Trained IVF-PQ artifacts over the embeddings table — coarse
    * centroids (driver), the (cid, cell, codes) encoding partitioned by
    * cell on disk, the 1-row PQ codebook as parquet — built ONCE per
    * harness run per dir (the q_skip_bloom fixture discipline). Five
    * queries consume the SAME stored index (stored / versioned /
    * refined / recall-report serving paths); training is deterministic
    * (the codebooks' decimal-mean contracts), so every consumer reads
    * byte-identical artifacts and the oracle contracts are unchanged —
    * what the memo removes is each query re-paying two k-means
    * trainings inside its own bench slot. The path is wiped before the
    * build: dynamic partition overwrite alone would let stale cells
    * from a prior run's layout survive into the serving reads. */
  private val ivfPqFixtures = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], String)]
  private def ivfPqFixture(s: SparkSession, dir: String)
      : (Array[Array[Double]], String) =
    ivfPqFixtures.computeIfAbsent(dir, _ => {
      val path = "/tmp/graft_ivfpq_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      freshFixtureDir(path)
      freshFixtureDir(path + "_cb")
      val (cent, cb, enc) = Similarity.buildIvfPqIndex(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      graft.sources.GraftSink.writePartitioned(enc, path, Seq("cell"))
      cb.coalesce(1).write.mode("overwrite").parquet(path + "_cb")
      (cent, path)
    })

  /** The word-range-partitioned positional index of the documents
    * table, built once per harness run per dir — q_proximity_rank's
    * serving substrate (same memo discipline as [[ivfPqFixture]]). */
  private val proxIndexFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def proxIndexFixture(s: SparkSession, dir: String): String =
    proxIndexFixtures.computeIfAbsent(dir, _ => {
      val path = "/tmp/graft_prox_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      TextAnalysis.positionalIndex(t(s, dir, "documents"), "doc_id", "text")
        .repartitionByRange(4, col("word"))
        .sortWithinPartitions(col("word"))
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Build every memoized per-dir fixture OUTSIDE any timed slot: the
    * bench calls this before its cold pass (reporting the time as its
    * own `fixture_sec` field) so the build cost stops landing on
    * whichever consumer query happens to run first — per-query cold
    * timings stay comparable run-to-run and round-to-round. */
  def prewarmFixtures(s: SparkSession, dir: String): Unit = {
    buildSkipTable(s, dir, "shared")
    ivfPqFixture(s, dir)
    proxIndexFixture(s, dir)
    ()
  }

  /** Recursively delete a /tmp fixture directory so batch-id-keyed
    * exactly-once state from a PRIOR harness run cannot short-circuit a
    * gate query into returning stale bytes (fixtures only — never point
    * this at data). */
  private def freshFixtureDir(path: String): Unit = {
    require(path.startsWith("/tmp/graft_"), s"not a fixture dir: $path")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** q_blocklist_scan's phrase list — shared by query and oracle. Includes
    * a self-overlapping pattern and a suffix-contained pair on purpose. */
  private val blocklistPats = Seq("a", "a a", "scan", "slow scan",
    "hash join", "table table", "fast merge", "batch window")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-table join chain + aggregation (SURVEY §2.4 J6 writ large). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_multi")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ----- S1 scan + P1/P2 projection with alias (database.py:231-263) -----
    "q_scan_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty"))),

    // ----- F1 equality filter on str column (database.py:443-458) -----
    "q_filter_eq" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))),

    // ----- F1 != filter (database.py:452-453) -----
    "q_filter_neq" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .select(col("o_orderkey"), col("o_orderstatus"))),

    // ----- F1 range ops + F3 AND conjunction (database.py:313-335) -----
    "q_filter_range" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_discount") < 0.05 &&
          col("l_tax") <= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"))),

    // ----- timestamp-predicate filter (pushes to parquet scan) -----
    "q_filter_date" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select(col("l_orderkey"), col("l_linenumber"))),

    // ----- J1 equi join; dim side broadcast (database.py:526-537) -----
    "q_join_equi" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))),

    // ----- J2 != theta join (database.py:539-553) -----
    "q_join_theta_neq" -> ((s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") =!= col("r_regionkey"))
        .select(col("n_name"), col("r_name"))),

    // ----- J3 range theta join + J7 self join (database.py:555-617) -----
    "q_join_range" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      sup.as("a").join(broadcast(sup.as("b")),
          col("a.s_acctbal") > col("b.s_acctbal"))
        .select(col("a.s_suppkey").as("richer"),
          col("b.s_suppkey").as("poorer"))
    }),

    // ----- J7 self equi join via aliases (database.py:213-219) -----
    "q_join_self" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      n.as("n1").join(n.as("n2"),
          col("n1.n_regionkey") === col("n2.n_regionkey") &&
          col("n1.n_nationkey") < col("n2.n_nationkey"))
        .select(col("n1.n_name").as("nation_a"),
          col("n2.n_name").as("nation_b"))
    }),

    // ----- J5 compound join predicates, same pair (database.py:294-311) ---
    "q_join_compound" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey") &&
          col("l_quantity") > col("p_size"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))),

    // ----- tolerance range join via bucketing + factorized counting -----
    // The quantity/size domains are tiny (~50 values), so materializing
    // the matching PAIRS is inherently quadratic (~1.2B at sf0.1). For a
    // count-style aggregate the scalable form is factorized: range-join
    // the two value HISTOGRAMS (50 x ~1.2k rows) and multiply counts —
    // identical result, pair materialization never happens.
    "q_range_join" -> ((s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val partHist = t(s, dir, "part")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt_p"))
      graft.operators.RangeJoin.bucketed(liHist, "l_quantity",
          partHist, "p_size", 2.0)
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    }),
    // same query through the OPTIMIZER RULE: a naive abs-tolerance theta
    // join that BucketedRangeJoinRule rewrites to the bucketed equi join
    // automatically (plan-asserted in RangeJoinSpec)
    "q_range_join_auto" -> ((s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val partHist = t(s, dir, "part")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt_p"))
      liHist.join(partHist,
          abs(col("l_quantity") - col("p_size")) <= 2)
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    }),
    // the rule's asymmetric BETWEEN band form: quantity within
    // [size - 1, size + 3] — auto-rewritten to the same bucketed equi
    // join (RangeJoinSpec pins the no-BNLJ plan)
    "q_range_join_band" -> ((s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val partHist = t(s, dir, "part")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt_p"))
      liHist.join(partHist,
          col("l_quantity") >= col("p_size") - 1 &&
            col("l_quantity") <= col("p_size") + 3)
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    }),
    // the rule's interval-containment form: point-in-interval join
    // bucketed by floor(v/w) with the interval side exploded to its
    // covered buckets
    "q_range_join_interval" -> ((s, dir) => {
      val liHist = t(s, dir, "lineitem")
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt_l"))
      val iv = t(s, dir, "part")
        .select(col("p_brand"), col("p_size").as("lo"),
          (col("p_size") + 5).as("hi"))
        .groupBy(col("p_brand"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("cnt_p"))
      liHist.join(iv,
          col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_l") * col("cnt_p")).as("n_pairs"))
    }),

    // ----- J6 multi-table join chain + agg (database.py:656-789) -----
    "q_join_multi" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),

    // ----- TPC-H Q3-style shipping priority: selective join + agg + topk
    "q3_shipping" -> ((s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") < "1998-01-01"),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem")
            .filter(col("l_shipdate") > "1996-06-30"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)),

    // ----- Phase D: GROUP BY + COUNT/SUM (sql-to-json:146-181, disabled
    // in the reference) as full TPC-H Q1 -----
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(dec(col("l_discount"))).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // ----- exact percentiles (interpolating; quantity domain is exact) --
    "q_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"))),

    // ----- Aggregate + HAVING-style post-filter -----
    "q_group_having" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("cnt") >= 12)),

    // ----- DISTINCT (dedup primitive, exact) -----
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()),

    // ----- Global aggregates, no grouping -----
    "q_agg_global" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("l_partkey")).as("n_parts"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))),

    // ----- ORDER BY + LIMIT (top-k; Spark plans TakeOrderedAndProject) ---
    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // ----- Window function: per-customer top-3 orders -----
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),

    // ================= extension surface (SURVEY §7 phase E) =============

    // ----- text analysis: per-doc token stats (narrow, no shuffle) -----
    "q_text_stats" -> ((s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text")),
    "q_text_lang" -> ((s, dir) =>
      TextAnalysis.langGuess(t(s, dir, "documents"), "doc_id", "text")),

    // ----- LANG-ID CONFUSION MATRIX: the heuristic classifier's guesses
    // cross-tabulated against the corpus's labeled lang — the eval that
    // says whether the cheap stopword gate is good enough to route docs
    // at ingest, and per (label, guess) cell counts + the label's recall
    // as one exact division. Classifier and matrix are two tiny
    // aggregations over one scan. -----
    "q_langid_confusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = TextAnalysis.langGuess(docs, "doc_id", "text")
      val cells = Dedup.persistTracked(
        docs.select(col("doc_id"), col("lang"))
          .join(g, Seq("doc_id"))
          .groupBy(col("lang"), col("lang_guess"))
          .agg(count(lit(1)).as("n_docs")))
      val tot = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_lang"))
      cells.join(broadcast(tot), Seq("lang"))
        .select(col("lang"), col("lang_guess"), col("n_docs"),
          expr("CAST(n_docs AS DOUBLE) / n_lang").as("cell_rate"))
    }),
    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text")),
    "q_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")),

    // ----- dedup family -----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select(col("text"), col("keeper"), col("n_copies"))),
    "q_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text")),
    // CHAR-n-gram MinHash twin: the near-dup path for scripts without
    // whitespace, where word tokenization collapses a doc to one token
    "q_dedup_char_ngram" -> ((s, dir) =>
      Dedup.charMinhashCandidates(t(s, dir, "documents"), "doc_id",
        "text", n = 6)),
    // same candidates under the viral-bucket skew bound: (band, bucket)
    // groups larger than 8 are dropped before the self-join
    "q_dedup_capped" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        maxBucket = 8)),
    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2)),
    // ----- edit-distance verify on LSH-blocked candidates: the
    // character-level "same doc, small patch" contract token-set
    // similarity cannot express; Spark's THRESHOLDED levenshtein runs
    // the banded O(k*n) DP, not the O(n^2) matrix -----
    "q_dedup_edit" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 20)),
    // ----- EXACT substring dedup: the exact-match pass after MinHash
    // in production train-data dedup — every maximal verbatim-shared
    // span of >= 30 chars, via fingerprinted 30-gram anchors + diagonal
    // run grouping (never suffix construction, never all-pairs) -----
    "q_substr_dup" -> ((s, dir) =>
      Dedup.duplicatedSubstrings(t(s, dir, "documents"), "doc_id",
        "text", minLen = 30)),
    // the cleanup twin: keep the lowest-id copy, cut the repeats out of
    // the higher-id doc (merged spans, one per-doc fold)
    "q_substr_excise" -> ((s, dir) =>
      Dedup.exciseDuplicatedSubstrings(t(s, dir, "documents"), "doc_id",
        "text", minLen = 30)),
    // ----- SEQUENCE PACKING: assign documents to fixed-capacity
    // training context windows (deterministic partition-local next-fit
    // in doc-id order; Packing.nextFit's scaladoc carries the 100 TB
    // splits-sizing argument). The oracle replays the same fold as a
    // recursive CTE -----
    "q_pack_nextfit" -> ((s, dir) => {
      val toks = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      graft.operators.Packing.nextFit(toks, "doc_id", "n_tokens",
        capacity = 512L, splits = 8)
    }),
    // the go/no-go readout for a capacity choice: bins, fill, and the
    // padding the packing leaves per split
    "q_pack_stats" -> ((s, dir) => {
      val toks = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      graft.operators.Packing.packStats(toks, "doc_id", "n_tokens",
        capacity = 512L, splits = 8)
    }),
    // ----- STREAMING exact-substring gate, driven as two micro-batches
    // (even doc ids arrive first, odd second) over a DETERMINISTIC
    // THIRD of the corpus (doc_id % 3 = 0 — the oracle filters the same
    // slice): identical streaming semantics and exactly-once discipline
    // at a fraction of the quadratic substring truth, which at full
    // corpus made this the bench's heaviest query. Full-corpus parity
    // stays where it belongs: SubstrGateSpec per-batch prefixes +
    // GatePropertySpec random splits + the 30x ScaleSmoke row. The
    // cumulative run table must equal the one-shot batch operator over
    // the slice -----
    "q_substr_gate" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      // RESET the exactly-once state: batch ids 0/1 from a prior
      // harness run would otherwise short-circuit the sink forever and
      // this query would keep returning the FIRST run's bytes — the
      // correctness gate must exercise the current code every sweep
      val paths = Seq("docs", "grams", "out")
        .map(p => s"/tmp/graft_subg_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      // nBuckets = 8: the state tables' bucket count is the join
      // parallelism FLOOR, sized for the data — at a third of sf0.1 the
      // 32-bucket layout pays more in write tasks/files than the join
      // recovers (the 30x probe keeps the default 32)
      val snk = graft.streaming.SubstrGate.sink(
        paths(0), paths(1), paths(2), "doc_id", "text", minLen = 30,
        nBuckets = 8)
      snk(docs.filter(col("doc_id") % 2 === 0), 0L)
      snk(docs.filter(col("doc_id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, paths(2))
    }),
    // ----- the same gate with a BUCKET-COUNT MIGRATION mid-stream:
    // batch 0 lands in a 4-bucket layout, BucketedState.rebucket
    // re-shards both state tables to 8 exactly-once, batch 1 streams
    // against the migrated state. The rebucket is result-invisible by
    // contract, so the oracle is the one-shot dense truth over the
    // slice — a migration that lost, doubled, or mis-bucketed a single
    // state row hash-mismatches here every sweep -----
    "q_substr_gate_rebucket" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 2)
      val paths = Seq("docs", "grams", "out")
        .map(p => s"/tmp/graft_subrb_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.SubstrGate.sink(
        paths(0), paths(1), paths(2), "doc_id", "text", minLen = 30,
        nBuckets = 4)
      snk(docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.BucketedState.rebucket(s, paths(0), 8)
      graft.streaming.BucketedState.rebucket(s, paths(1), 8)
      snk(docs.filter(col("doc_id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, paths(2))
    }),
    // ----- the same gate with a TAKEDOWN mid-stream: two batches
    // ingest, SubstrGate.forget tombstones the doc_id % 5 = 0 subset
    // (including ids that have not arrived yet — a prospective
    // takedown), a third batch streams against the SERVED state, and
    // the result is SubstrGate.served. The oracle is the dense truth
    // over the slice MINUS the forgotten docs, so a forget that leaks
    // one pair — from emitted history, a forgotten stored row pairing
    // with a new arrival, or a forgotten NEW arrival pairing at all —
    // hash-mismatches every sweep -----
    "q_substr_forget" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 1)
      val paths = Seq("docs", "grams", "out")
        .map(p => s"/tmp/graft_subfg_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.SubstrGate.sink(
        paths(0), paths(1), paths(2), "doc_id", "text", minLen = 30,
        nBuckets = 8)
      snk(docs.filter(col("doc_id") % 9 === 1), 0L)
      snk(docs.filter(col("doc_id") % 9 === 4), 1L)
      val fgt = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      graft.streaming.SubstrGate.forget(s, paths(0), paths(1), fgt, 0L)
      snk(docs.filter(col("doc_id") % 9 === 7), 2L)
      graft.streaming.SubstrGate.served(s, paths(0), paths(2))
    }),
    // ----- STREAMING semantic-dedup gate (the sixth gate): embeddings
    // arrive in two micro-batches (even vec_ids train the frozen
    // quantizer, odd arrive second); every arrival is checked against
    // the pinned bucketed state through the PQ-ADC screen + exact-
    // cosine refine, and the cumulative pair table must equal the
    // frozen-quantizer batch operator (cellPairsFrozen) over the whole
    // corpus — the oracle replays the unit-normalized k-means on the
    // even half and the within-cell pair truth in SQL. Same state
    // reset discipline as q_substr_gate -----
    "q_sem_gate" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      // deterministic THIRD of the corpus (vec_id % 3 = 0; the oracle
      // filters the same slice) — the q_substr_gate bench discipline:
      // identical streaming semantics and exactly-once machinery at a
      // fraction of the quadratic within-cell pair truth. Full-corpus
      // parity lives in SemGateSpec + the GatePropertySpec sweep.
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val paths = Seq("state", "out").map(p => s"/tmp/graft_semg_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, paths(1))
    }),
    // ----- the semantic gate with an EPOCH ROLL mid-stream (production
    // SemDeDup's periodic re-cluster): two batches under the epoch-0
    // quantizer (trained on batch 0), rollEpoch retrains on everything
    // accumulated, re-encodes the state, emits the catch-up delta, and
    // flips; a third batch then streams against the NEW epoch. The
    // oracle replays BOTH unrolled Lloyd chains in SQL — old codebook
    // over the pre-roll prefix, new codebook over the full corpus —
    // and unions the two within-cell pair truths, which is exactly the
    // gate's cross-epoch output contract (SemGateSpec proves it; this
    // makes the DuckDB hash gate exercise the roll every sweep) -----
    "q_sem_gate_roll" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val paths = Seq("state", "out")
        .map(p => s"/tmp/graft_semroll_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 4 === 1), 1L)
      graft.streaming.SemGate.rollEpoch(s, paths(0), paths(1),
        threshold = 0.3, fromEpoch = 0, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 4 === 3), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    }),
    // ----- read-side EPOCH ATTRIBUTION of the rolled gate's pairs
    // (SemGate.pairsWithEpoch — a view over the commit history; the
    // committed output schema never carries the tag): same stream as
    // q_sem_gate_roll, output tagged by the epoch that emitted each
    // pair. The oracle replays both Lloyd chains and tags engine-
    // independently: a pair the OLD codebook co-locates over the
    // pre-roll prefix was emitted before the roll (epoch 0); everything
    // else the NEW codebook finds is the catch-up or post-roll stream
    // (epoch 1) — so a wrong boundary version, a mis-walked commit
    // snapshot, or a double-tagged pair hash-mismatches every sweep -----
    "q_sem_gate_epochs" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val paths = Seq("state", "out")
        .map(p => s"/tmp/graft_semep_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 4 === 1), 1L)
      graft.streaming.SemGate.rollEpoch(s, paths(0), paths(1),
        threshold = 0.3, fromEpoch = 0, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 4 === 3), 2L)
      graft.streaming.SemGate.pairsWithEpoch(s, paths(0), paths(1))
    }),
    // ----- the semantic gate with a TAKEDOWN mid-stream: two batches
    // under the epoch-0 quantizer, SemGate.forget tombstones the
    // vec_id % 7 = 0 subset (prospectively — some of those ids arrive
    // only in batch 2), a third batch streams against the SERVED
    // state, and the result is SemGate.served. The oracle replays the
    // same Lloyd chain (trained on batch 0 INCLUDING the soon-
    // forgotten ids — a forget never retrains a frozen quantizer) and
    // excludes the forgotten ids from the pair truth only -----
    "q_sem_forget" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 2)
      val paths = Seq("state", "out")
        .map(p => s"/tmp/graft_semfg_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 4 === 1), 1L)
      val fgt = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      graft.streaming.SemGate.forget(s, paths(0), fgt, 0L)
      snk(emb.filter(col("vec_id") % 4 === 3), 2L)
      graft.streaming.SemGate.served(s, paths(0), paths(1))
    }),
    // ----- sampled-anchor exact substring dedup: the ~w x cheaper
    // corpus exchange (winnowed anchors -> verified pairs -> pair-
    // restricted dense recompute), reporting every span >= 30+8-1 = 37
    // with exact boundaries — the oracle is the dense truth filtered to
    // the documented bound, so a missed anchor or a wrong boundary
    // hash-mismatches -----
    "q_substr_dup_sampled" -> ((s, dir) =>
      Dedup.duplicatedSubstringsSampled(t(s, dir, "documents"),
        "doc_id", "text", minLen = 30, w = 8)),
    // ----- cross-snapshot corpus diff: per-source docs added / removed
    // / changed + token drift between two VersionedTable versions — the
    // release-notes readout before switching snapshots. Manifest diff +
    // changed-file reads only (VersionedTableSpec pins that untouched
    // files are never scanned); fixture = base minus the tail, then
    // append the tail (adds), delete ids < 30 (removes), and rewrite
    // ids 60-70 with ' v2' texts (changes) -----
    "q_corpus_diff" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"/tmp/graft_cdiff_$suffix"
      freshFixtureDir(path)
      val docs = t(s, dir, "documents")
      val v1 = VersionedTable.commit(
        docs.filter(col("doc_id") < 450)
          .repartitionByRange(4, col("doc_id")),
        path, "overwrite", statCols = Seq("doc_id"))
      VersionedTable.commit(docs.filter(col("doc_id") >= 450), path,
        "append")
      VersionedTable.deleteWhere(s, path, col("doc_id") < 30)
      VersionedTable.deleteWhere(s, path, col("doc_id").between(60, 70))
      val vN = VersionedTable.commit(
        docs.filter(col("doc_id").between(60, 70))
          .withColumn("text", concat(col("text"), lit(" v2"))),
        path, "append")
      graft.operators.CorpusPipeline.corpusDiff(s, path, v1, vN,
        "doc_id", "source", "text")
    }),
    // ----- bipartite exact-substring DECONTAMINATION: maximal verbatim
    // spans shared between the train slice and the benchmark slice —
    // the exact-match complement to the n-gram q_contam_* family -----
    "q_substr_contam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.duplicatedSubstringsWith(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        minLen = 30)
    }),
    // and the excise: cut every benchmark-shared span out of the TRAIN
    // text (affected train docs only)
    "q_substr_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exciseContaminated(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        minLen = 30)
    }),
    // ingest-path dedup: candidates between an incoming batch (top
    // fifth of doc ids) and the existing corpus — cost proportional to
    // the INCREMENT, never re-pairing the corpus with itself
    "q_ingest_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusCandidates(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .select(col("new_id"), col("base_id"), col("est_jaccard"))
    }),
    // the PERSISTED LSH base index itself: (doc, band, bucket) bucket
    // membership for the base corpus — the table an ingest pipeline
    // stores once and every increment joins against (mh signatures ride
    // along in storage but stay out of this oracle surface: array
    // columns don't sort/hash in the differential harness)
    "q_lsh_index" -> ((s, dir) =>
      Dedup.lshIndex(
        Dedup.minhashSignatures(
          t(s, dir, "documents").filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text"), "doc_id")
        .select(col("doc_id"), col("band"), col("bucket"))),
    // TWO-STEP ingest: build the base index, STORE it (parquet,
    // partitioned by band), then dedup the increment against the table
    // read back from disk — the 100 TB contract where the base corpus
    // is signed once, not per ingest (LshIndexSpec asserts the base
    // text is not re-scanned; the oracle proves the stored-index join
    // equals the direct two-sided run)
    "q_ingest_dedup2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_lsh_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.GraftSink.writePartitioned(
        Dedup.lshIndex(
          Dedup.minhashSignatures(
            docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
          "doc_id"),
        path, Seq("band"))
      Dedup.ingestAgainstIndex(
        docs.filter(col("doc_id") % 10 === 0),
        s.read.parquet(path), "doc_id", "text")
        .select(col("new_id"), col("base_id"), col("est_jaccard"))
    }),
    // VERSIONED LSH INDEX ingest: the base corpus's bucket table lives
    // in a versioned-snapshot table; each ingest joins a PINNED version,
    // so a concurrent index append (vN+1 landing mid-flight) cannot
    // change an in-flight dedup's candidate set. Step 1 commits the base
    // index as v_base; ingest A runs against the pinned v_base; then
    // A's own buckets land as an APPEND version (the index grows); and
    // ingest B STILL joins the pinned v_base — if the pin leaked, B
    // would also pair against A's buckets and the oracle hash would
    // catch it. At 100 TB: snapshot isolation for the dedup index with
    // O(manifest) commit cost, never a table rewrite.
    "q_ingest_dedup3" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_lsh_vtab_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = docs.filter(col("doc_id") % 10 >= 2)
      val incA = docs.filter(col("doc_id") % 10 === 0)
      val incB = docs.filter(col("doc_id") % 10 === 1)
      val vBase = VersionedTable.commit(
        Dedup.lshIndex(
          Dedup.minhashSignatures(base, "doc_id", "text"), "doc_id"),
        path, "overwrite")
      val pinned = VersionedTable.read(s, path, Some(vBase))
      val pairsA = Dedup.ingestAgainstIndex(incA, pinned, "doc_id", "text")
        .select(col("new_id"), col("base_id"), col("est_jaccard"))
      // vN+1 lands while the pin is open: the increment's buckets APPEND
      VersionedTable.commit(
        Dedup.lshIndex(
          Dedup.minhashSignatures(incA, "doc_id", "text"), "doc_id"),
        path, "append")
      val pairsB = Dedup.ingestAgainstIndex(incB, pinned, "doc_id", "text")
        .select(col("new_id"), col("base_id"), col("est_jaccard"))
      pairsA.union(pairsB)
    }),
    // INCREMENTAL CLUSTER MAINTENANCE: fold the increment's candidate
    // pairs into the base corpus's EXISTING true-CC labels without
    // re-clustering the base (Dedup.incrementalClusters: cross edges
    // contract onto base representatives, CC runs on the
    // increment-sized contracted graph, one rep-keyed remap join moves
    // merged components wholesale). The oracle is the FULL-corpus
    // recursive-CC recompute — the incremental path must reproduce it
    // hash-exactly, including increments that transitively merge two
    // existing base components.
    "q_ingest_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigsB = Dedup.persistTracked(Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 10 >= 2), "doc_id", "text"))
      val sigsI = Dedup.persistTracked(Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 10 < 2), "doc_id", "text"))
      val baseLabels = Dedup.clustersStar(
        Dedup.candidatesFromSignatures(sigsB, "doc_id")
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
      val cross = Dedup.crossCandidatesFromSignatures(sigsI, sigsB, "doc_id")
      val intra = Dedup.candidatesFromSignatures(sigsI, "doc_id")
        .select(col("doc_a"), col("doc_b"))
      Dedup.incrementalClusters(baseLabels, "doc_id", cross, intra)
    }),
    // the PRODUCTION LOOP, two nights of it: increment A folds into the
    // stored labels, the result COMMITS as a VersionedTable snapshot,
    // increment B folds into the snapshot READ BACK from storage —
    // iterated incremental maintenance with a durability hop between
    // steps. The oracle is still the one-shot full-corpus CC recompute:
    // iterating the exact incremental step composes to the batch answer
    // (each step's output is the true CC of everything seen so far).
    "q_ingest_clusters2" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_cluster_vtab_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val sigs = Dedup.persistTracked(
        Dedup.minhashSignatures(docs, "doc_id", "text")
          .withColumn("slice", col("doc_id") % 10))
      def sigsOf(pred: Column) = sigs.filter(pred).drop("slice")
      val sigsBase = sigsOf(col("slice") >= 4)
      val sigsA = sigsOf(col("slice") < 2)
      val sigsB = sigsOf(col("slice") >= 2 && col("slice") < 4)
      def cross(incSigs: DataFrame, priorSigs: DataFrame) =
        Dedup.crossCandidatesFromSignatures(incSigs, priorSigs, "doc_id")
      def intra(s0: DataFrame) =
        Dedup.candidatesFromSignatures(s0, "doc_id")
          .select(col("doc_a"), col("doc_b"))
      val labels0 = Dedup.clustersStar(intra(sigsBase), "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
      val labels1 = Dedup.incrementalClusters(labels0, "doc_id",
        cross(sigsA, sigsBase), intra(sigsA))
      val v1 = VersionedTable.commit(labels1, path, "overwrite")
      val stored = VersionedTable.read(s, path, Some(v1))
      Dedup.incrementalClusters(stored, "doc_id",
        cross(sigsB, sigsOf(col("slice") >= 4 || col("slice") < 2)),
        intra(sigsB))
    }),
    // containment (|A∩B|/|A|) on the LSH candidates: catches short docs
    // embedded in longer ones, which symmetric Jaccard dilutes away
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4)),
    // EXACT set-similarity join via prefix filtering — provably no false
    // negatives (unlike the LSH candidate paths above)
    "q_setsim_prefix" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.3)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")),
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 6)),
    // pigeonhole 4-block simhash index: EXACT recall at Hamming<=3 (the
    // oracle is the literal all-pairs definition — the operator must
    // find every qualifying pair, not a blocked subset)
    "q_dedup_simhash_exact" -> ((s, dir) =>
      Dedup.simhashPairsExact(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)),
    "q_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35)),
    // duplicated-SPAN fraction per doc (ExactSubstr approximation, Lee
    // et al. 2021): w-token windows occurring in >=2 docs, hash-only
    // corpus-wide aggregation
    "q_span_dup" -> ((s, dir) =>
      Dedup.spanDupStats(t(s, dir, "documents"), "doc_id", "text", w = 8)),
    // SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings, then
    // near-dup only WITHIN clusters — pair work confined to cells
    "q_sem_dedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, ncells = 8, iters = 2)),
    // CROSS-MODAL dedup agreement: does text LSH and embedding SemDeDup
    // flag the same items? The 2x2 contingency is the pipeline-QA
    // number that says whether the two dedup layers are redundant or
    // complementary (doc_id and vec_id are aligned in the corpus)
    "q_dedup_agreement" -> ((s, dir) => {
      val textDup = Dedup.minhashCandidates(
          t(s, dir, "documents"), "doc_id", "text")
        .filter(col("est_jaccard") >= 0.3)
        .select(col("doc_b").as("id")).distinct()
        .withColumn("text_dup", lit(true))
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.3, ncells = 8, iters = 2)
        .select(col("vec_id").as("id"), (!col("keep")).as("emb_dup"))
        .join(textDup, Seq("id"), "left")
        .groupBy(coalesce(col("text_dup"), lit(false)).as("text_dup"),
          col("emb_dup"))
        .agg(count(lit(1)).as("n"))
    }),

    // ----- DEDUP THRESHOLD SWEEP: candidate-pair counts at est-Jaccard
    // 0.3 / 0.5 / 0.7 in ONE pass over the capped LSH candidates — the
    // aggressiveness-tuning readout (how much more a looser threshold
    // would drop) read before committing a dedup policy. -----
    "q_dedup_thresholds" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("est_jaccard") >= 0.3, 1L).otherwise(0L)).as("n_03"),
          sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_05"),
          sum(when(col("est_jaccard") >= 0.7, 1L).otherwise(0L)).as("n_07"))),

    // ----- CROSS-SOURCE DUPLICATION MATRIX: high-confidence near-dup
    // pairs rolled up by unordered source pair — the "which feeds copy
    // from which" provenance readout that decides dedup ORDER (dedup the
    // copier against the origin, not vice versa) and flags same-crawl
    // sources before they double-count in a mixture. Candidates reuse
    // the capped LSH pass; the id→source map broadcasts onto both pair
    // ends. -----
    "q_dedup_source_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val src = Dedup.persistTracked(
        docs.select(col("doc_id"), col("source")))
      Dedup.minhashCandidates(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
        .join(broadcast(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a"))), "doc_a")
        .join(broadcast(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b"))), "doc_b")
        .groupBy(least(col("source_a"), col("source_b")).as("src1"),
          greatest(col("source_a"), col("source_b")).as("src2"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ----- CONTRASTIVE (anchor, positive, negative) TRIPLE MINING for
    // embedding/retrieval training: positives are high-confidence
    // near-dup candidates (MinHash est ≥ 0.5); each pair's negative is
    // HASH-PROPOSED from the dense id space (no RNG — every epoch and
    // the oracle regenerate identical triples) and kept only if it is
    // not the anchor, not the positive, and not ANY LSH candidate of
    // the anchor (anti-join against the candidate set — cheap
    // hard-negative hygiene; the collided few are dropped
    // deterministically). Candidate table persisted: it feeds the
    // positive filter AND the anti-join. -----
    "q_contrastive_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.persistTracked(
        Dedup.minhashCandidates(docs, "doc_id", "text"))
      val pos = cand.filter(col("est_jaccard") >= 0.5)
        .select(col("doc_a").as("anchor"), col("doc_b").as("positive"))
      val nd = docs.agg(max(col("doc_id")).as("mx"))
      pos.crossJoin(broadcast(nd))
        .withColumn("negative", expr(
          "((anchor * 2654435761L + positive * 97L) % 1000000007L) % (mx + 1)"))
        .filter(col("negative") =!= col("anchor") &&
          col("negative") =!= col("positive"))
        .join(cand.select(col("doc_a").as("ca"), col("doc_b").as("cb")),
          least(col("anchor"), col("negative")) === col("ca") &&
            greatest(col("anchor"), col("negative")) === col("cb"),
          "left_anti")
        .select(col("anchor"), col("positive"), col("negative"))
    }),

    // ----- ColBERT MaxSim late interaction: an 8-token multi-vector
    // query scores each "document" (= label group, queries excluded) by
    // Σ_qtok max_dtok cos, quantized to BIGINT before max/sum — exact
    // integer scores; see Similarity.maxSim for the serving funnel at
    // corpus scale. -----
    "q_colbert_maxsim" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.maxSim(emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") >= 8), "label", "embedding", "vec_id")
        .orderBy(col("maxsim_q").desc, col("doc"))
    }),

    // ----- similarity search over embeddings -----
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    }),
    "q_ann_lsh_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshMultiProbeTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    }),
    // learned k-means codebook (2 Lloyd iterations, deterministic init)
    // with nprobe=2 multi-cell probing
    "q_ann_ivf2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfKmeansTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, ncells = 8, iters = 2, nprobe = 2)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    }),

    // ----- STORED IVF index: build the learned-codebook index ONCE,
    // write it partitioned by cell, then serve the query batch against
    // the stored layout — probing nprobe cells touches only those
    // partitions (partition pruning), and later batches skip the
    // clustering pass entirely. Same results as q_ann_ivf2 (storage is
    // transparent), so it shares that oracle. -----
    "q_ann_ivf_stored" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = "/tmp/graft_ivf_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val (cent, assigned) = Similarity.buildIvfIndex(
        emb, "vec_id", "embedding", ncells = 8, iters = 2)
      graft.sources.GraftSink.writePartitioned(assigned, path, Seq("cell"))
      Similarity.ivfStoredTopK(s.read.parquet(path), cent,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nprobe = 2)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    }),

    // ----- product-quantization ANN: vectors compress to m=8 4-bit
    // codes; ADC scores the RAW query against candidate codes without
    // decompressing them — the memory-bound scale path (a 64-float
    // vector becomes 8 small ints; the candidate side never ships
    // floats). Deterministic pseudo-codebook; all distance math is
    // fixed-fold-order doubles, so the oracle is exact -----
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // codebook = deterministic data sample (every 31st vector, 16
      // total) — k-means++-style seeding without the iterations; packed
      // into one broadcast array row so encoding stays a narrow
      // expression (VERDICT-blessed codebook-to-driver shape, but here
      // it never even leaves the executors)
      val cbRow = emb
        .filter(expr("vec_id % 31 = 0 AND vec_id < 496"))
        .agg(expr("transform(array_sort(collect_list(struct(vec_id, embedding))), s -> s.embedding)")
          .as("cb"))
      // persist: codes are 8x16 subspace scans per row and feed both the
      // query and candidate sides
      val enc = Dedup.persistTracked(emb.crossJoin(broadcast(cbRow))
        .select(col("vec_id"), col("embedding"), col("cb"), GraftFunctions
          .pqCodes(col("embedding"), col("cb"), 8, 16, 8).as("codes")))
      val qs = enc.filter(col("vec_id") < 10)
        .selectExpr("vec_id AS qid", "embedding AS qv")
      enc.selectExpr("vec_id AS cid", "codes", "cb")
        .crossJoin(broadcast(qs))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), GraftFunctions
          .pqAdc(col("qv"), col("codes"), col("cb"), 8, 8).as("adc"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("cid")))
          .cast("long"))
        .filter(col("rnk") <= 5)
    }),

    // ----- PQ-ADC with a TRAINED codebook: same encode/ADC path as
    // q_ann_pq, but the book is per-subspace Lloyd's (2 rounds) seeded
    // from the same deterministic sample — the plan you'd actually run
    // (OperatorSpec proves the recall improvement over the raw sample)
    "q_ann_pq2" -> ((s, dir) => {
      // persist: the training iterations, the encode pass, and the query
      // side all re-read the widened vectors
      val v = Dedup.persistTracked(t(s, dir, "embeddings")
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS dv"))
      val cb = Similarity.pqTrainCodebook(v, "vec_id", "dv",
        "vec_id % 31 = 0 AND vec_id < 496")
      val enc = Dedup.persistTracked(v.crossJoin(broadcast(cb))
        .select(col("vec_id"), col("dv"), col("cb"), GraftFunctions
          .pqCodes(col("dv"), col("cb"), 8, 16, 8).as("codes")))
      val qs = enc.filter(col("vec_id") < 10)
        .selectExpr("vec_id AS qid", "dv AS qv")
      enc.selectExpr("vec_id AS cid", "codes", "cb")
        .crossJoin(broadcast(qs))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), GraftFunctions
          .pqAdc(col("qv"), col("codes"), col("cb"), 8, 8).as("adc"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("cid")))
          .cast("long"))
        .filter(col("rnk") <= 5)
    }),

    // ----- IVF-PQ composite (the FAISS IVFPQ architecture): coarse
    // k-means cells + PQ over residuals — queries probe 2 cells and
    // ADC-score their per-cell residual against candidate codes. The
    // index is (cell, 8 codes) per vector: no floats ship, and ADC work
    // is confined to ~nprobe/ncells of the corpus -----
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // ----- IVF-PQ + REFINE (the FAISS rerank funnel): the compressed
    // index nominates 20 ADC candidates per query; exact cosine over
    // ONLY those 20 fetched vectors produces the final top-5 — the
    // two-stage production serving architecture -----
    "q_ann_ivfpq_refined" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (cent, path) = ivfPqFixture(s, dir)
      Similarity.ivfPqRefineStoredTopK(s.read.parquet(path),
        s.read.parquet(path + "_cb"), cent, emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, rerank = 20)
    }),

    // ----- ANN quality self-evaluation (the q_lsh_quality twin for the
    // ANN stack): recall@5 of the compressed IVF-PQ path against the
    // exact brute-force truth, as exact integer counts + one division —
    // the readout that decides nprobe/m/ks before a rollout -----
    "q_ann_recall_report" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = Dedup.persistTracked(emb.filter(col("vec_id") < 10))
      // persist: each tiny top-k frame feeds its own count AND the hit
      // join — the multi-consumer recompute trap on a corpus-sized plan
      val truth = Dedup.persistTracked(
        Similarity.bruteForceTopK(emb, q, "vec_id",
          "embedding", k = 5).select(col("qid"), col("cid")))
      val (cent, path) = ivfPqFixture(s, dir)
      val approx = Dedup.persistTracked(
        Similarity.ivfPqStoredTopK(s.read.parquet(path),
          s.read.parquet(path + "_cb"), cent, q, "vec_id", "embedding",
          k = 5).select(col("qid"), col("cid")))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nA = approx.agg(count(lit(1)).as("n_approx"))
      val nH = truth.join(approx, Seq("qid", "cid"))
        .agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(nA).crossJoin(nH)
        .withColumn("recall",
          expr("CAST(n_hit AS DOUBLE) / n_truth"))
    }),

    // ----- MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019): each
    // src vector's best tgt match by RATIO MARGIN (cosine over the mean
    // of both sides' k-NN cosines — cancels hubness; margin > 1 =
    // closer than a typical neighbor). Quantized-int k-NN sums, one
    // guarded division; the pair generator is the bounded brute-force
    // baseline — at corpus scale it swaps for the IVF-PQ shortlist. -----
    "q_bitext_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMargin(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0 && col("vec_id") < 100,
        col("vec_id") % 2 === 1)
    }),

    // ----- STORED IVF-PQ index: write the (cell, codes) encoding
    // partitioned by cell + the 1-row codebook parquet, then serve the
    // query batch from disk — partition-pruned reads, a float-free
    // index, and no re-training. Result-identical to q_ann_ivfpq
    // (shares its oracle) -----
    "q_ann_ivfpq_stored" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (cent, path) = ivfPqFixture(s, dir)
      Similarity.ivfPqStoredTopK(s.read.parquet(path),
        s.read.parquet(path + "_cb"), cent,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    }),

    // ----- VERSIONED IVF-PQ index: the vector index as a VersionedTable
    // with the same pin-isolation contract as q_ingest_dedup3 — the one
    // index most likely to be SERVED while re-ingesting. v_base commits
    // the cell-clustered encoding (repartitioned by cell + manifest zone
    // maps on the cell column, so a cell-targeted read prunes to
    // O(probed cells) files) and the PQ codebook as its own 1-row
    // versioned table; query batch 1 serves from the pinned snapshots;
    // then an APPEND lands DECOYS — the queries' own encodings under
    // huge ids, ADC ~ 0, guaranteed rank-1 if visible — and query batch
    // 2 STILL serves from the pin. A leaked pin would surface the
    // decoys and hash-mismatch by construction. Result-identical to
    // q_ann_ivfpq (shares its oracle); the coarse centroids ride the
    // driver here exactly as in q_ann_ivfpq_stored — a production
    // release lands them beside the codebook row and tags the pair. -----
    "q_ann_ivfpq_versioned" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val emb = t(s, dir, "embeddings")
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = "/tmp/graft_ivfpq_vtab_" + suffix
      val cbPath = "/tmp/graft_ivfpq_vtab_cb_" + suffix
      val (cent, idxPath) = ivfPqFixture(s, dir)
      val cb = s.read.parquet(idxPath + "_cb")
      val encC = Dedup.persistTracked(s.read.parquet(idxPath))
      val vBase = VersionedTable.commit(
        encC.repartition(col("cell")), path, "overwrite",
        statCols = Seq("cell"))
      val vCb = VersionedTable.commit(cb, cbPath, "overwrite")
      val pinnedIdx = VersionedTable.read(s, path, Some(vBase))
      val pinnedCb = VersionedTable.read(s, cbPath, Some(vCb))
      val r1 = Similarity.ivfPqStoredTopK(pinnedIdx, pinnedCb, cent,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      // vN+1 lands while the pin is open
      VersionedTable.commit(
        encC.filter(col("cid") < 10)
          .withColumn("cid", col("cid") + 1000000L),
        path, "append", statCols = Seq("cell"))
      val r2 = Similarity.ivfPqStoredTopK(pinnedIdx, pinnedCb, cent,
        emb.filter(col("vec_id") >= 5 && col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      r1.union(r2)
    }),

    // ----- event-time windows (batch; streaming twins in graft.streaming)
    "q_events_tumbling" -> ((s, dir) =>
      Events.tumblingHourly(t(s, dir, "events"))),
    "q_events_sliding" -> ((s, dir) =>
      Events.slidingHourly(t(s, dir, "events"))),
    "q_events_session" -> ((s, dir) =>
      Events.sessionize(t(s, dir, "events"))),
    // ----- CUSUM changepoint per event type over daily counts: the
    // cumulative deviation from the key mean in EXACT scaled BIGINTs
    // (dev_fx = D*cum - idx*total — no float mean), |dev| peak = the
    // most likely changepoint. Windows run per key over KEY x DAY rows,
    // never over raw events and never globally -----
    "q_cusum" -> ((s, dir) =>
      Events.cusumDaily(t(s, dir, "events"), "event_type")),
    // ----- the streaming CUSUM gate under the hash gate (the sixth
    // and last gate to get an oracle query): three event micro-batches
    // fold into the MergeState daily-count deltas — compactEvery=2, so
    // the TIERED COMPACTION fold runs inside the fixture every sweep —
    // and the final committed readout must equal the batch operator's
    // CUSUM over the whole corpus (the same SQL truth as q_cusum): a
    // lost delta, a double-counted replay, or a fold that changed any
    // judged count hash-mismatches -----
    "q_changepoint_gate" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val paths = Seq("state", "out")
        .map(p => s"/tmp/graft_cpgate_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val ev = t(s, dir, "events")
      val snk = graft.streaming.ChangepointGate.sink(paths(0), paths(1),
        "event_type", compactEvery = 2)
      snk(ev.filter(col("event_id") % 3 === 0), 0L)
      snk(ev.filter(col("event_id") % 3 === 1), 1L)
      snk(ev.filter(col("event_id") % 3 === 2), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    }),
    // ----- the CUSUM gate with a TAKEDOWN mid-stream — the MergeState
    // retraction (negative delta on the additive CRDT): two event
    // batches ingest, ChangepointGate.forget negates the error/signup
    // keys' entire merged history, a third batch streams (and those
    // keys RE-ARRIVE in it — their counts restart from the retraction
    // zero), and the committed readout is the CUSUM truth over all
    // events minus the forgotten keys' pre-forget history. A leaked
    // positive row, a double-applied negation, or a zero-row served as
    // presence hash-mismatches every sweep -----
    "q_changepoint_forget" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val paths = Seq("state", "out")
        .map(p => s"/tmp/graft_cpfg_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val ev = t(s, dir, "events")
      val snk = graft.streaming.ChangepointGate.sink(paths(0), paths(1),
        "event_type", compactEvery = 2)
      snk(ev.filter(col("event_id") % 3 === 0), 0L)
      snk(ev.filter(col("event_id") % 3 === 1), 1L)
      graft.streaming.ChangepointGate.forget(s, paths(0), "event_type",
        Seq("error", "signup"), 0L)
      snk(ev.filter(col("event_id") % 3 === 2), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    }),

    // ----- set operations -----
    "q_union_all" -> ((s, dir) =>
      t(s, dir, "region").select(col("r_name").as("name"))
        .unionAll(t(s, dir, "nation").select(col("n_name").as("name")))),
    "q_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))),
    "q_except" -> ((s, dir) => // orders with no lineitems
      t(s, dir, "orders").select(col("o_orderkey").as("ok"))
        .except(t(s, dir, "lineitem").select(col("l_orderkey").as("ok")))),

    "q_union_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()),
    "q_except_all" -> ((s, dir) => // multiset semantics: keeps dup counts
      t(s, dir, "lineitem").select(col("l_suppkey").as("sk"))
        .exceptAll(t(s, dir, "supplier").select(col("s_suppkey").as("sk")))),

    // ----- outer / semi / anti joins -----
    "q_outer_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))),
    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),
    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))),
    "q_grouping_sets" -> ((s, dir) => {
      // explicit grouping sets: (returnflag), (linestatus) — no (a,b), no ()
      val li = t(s, dir, "lineitem")
      li.createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
               FROM lineitem_gs
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")
    }),

    // ----- rollup + pivot-style conditional aggregation -----
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"))),
    "q_pivot_flags" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("l_returnflag") === "A", dec(col("l_quantity"))))
            .cast("double").as("qty_a"),
          sum(when(col("l_returnflag") === "N", dec(col("l_quantity"))))
            .cast("double").as("qty_n"),
          sum(when(col("l_returnflag") === "R", dec(col("l_quantity"))))
            .cast("double").as("qty_r"),
          count(lit(1)).as("n"))),

    // ----- scalar functions -----
    "q_string_funcs" -> ((s, dir) =>
      t(s, dir, "part").selectExpr(
        "p_partkey",
        "upper(p_name) AS uname",
        "substr(p_type, 1, 5) AS t5",
        "CAST(length(p_brand) AS BIGINT) AS blen",
        "concat(p_brand, '#', p_type) AS tag")),
    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .selectExpr("CAST(year(o_orderdate) AS BIGINT) AS yr",
          "CAST(month(o_orderdate) AS BIGINT) AS mo",
          "date_format(o_orderdate, 'yyyy-MM') AS ym")
        .groupBy("yr", "mo", "ym")
        .agg(count(lit(1)).as("n"))),

    // ----- more window shapes -----
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double")
          .as("running_spend"))
    }),
    "q_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
    }),
    // global NTILE without the single-partition window: two-phase
    // range-partitioned rank + broadcast total (plans.ParallelRank) —
    // the orders table is fact-sized, so the global sort must stay
    // parallel at 100 TB
    "q_ntile" -> ((s, dir) =>
      graft.plans.ParallelRank.ntile(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "tile", 4, 32, col("o_totalprice"), col("o_orderkey"))
        .select(col("o_orderkey"), col("tile"))),

    // ----- scalar subquery (broadcast the 1-row aggregate) -----
    "q_scalar_subquery" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val avgDf = orders.agg(
        (sum(dec(col("o_totalprice"))).cast("double") / count(lit(1)))
          .as("avg_price"))
      orders.crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > col("avg_price"))
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ----- as-of join (custom operator; Spark has no built-in) -----
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      val ord = t(s, dir, "orders")
        .selectExpr("o_custkey",
          "unix_micros(cast(o_orderdate as timestamp)) AS t_us", "o_orderkey")
      graft.operators.AsOfJoin.asOf(
        ev, "user_id", "t_us", "event_id",
        ord, "o_custkey", "t_us", "o_orderkey")
    }),

    // ----- forward as-of: earliest event at/after each order's date -----
    "q_asof_forward" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .selectExpr("o_custkey",
          "unix_micros(cast(o_orderdate as timestamp)) AS t_us", "o_orderkey")
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      graft.operators.AsOfJoin.asOfForward(
        ord, "o_custkey", "t_us", "o_orderkey",
        ev, "user_id", "t_us", "event_id")
    }),

    // ----- as-of with tolerance: latest purchase within 1h of each click -----
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id AS p_id")
      graft.operators.AsOfJoin.asOf(
        clicks, "user_id", "t_us", "event_id",
        purchases, "user_id", "t_us", "p_id",
        toleranceMicros = Some(3600000000L))
    }),

    // ----- as-of carrying full right-row payload columns -----
    "q_asof_payload" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "ts div 1000 AS t_us", "event_id")
      val ord = t(s, dir, "orders")
        .selectExpr("o_custkey",
          "unix_micros(cast(o_orderdate as timestamp)) AS t_us",
          "o_orderkey", "o_totalprice", "o_orderstatus")
      graft.operators.AsOfJoin.asOfPayload(
        ev, "user_id", "t_us", "event_id",
        ord, "o_custkey", "t_us", "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    }),

    // ----- end-to-end corpus cleaning (composition of the above) -----
    "q_corpus_clean" -> ((s, dir) =>
      graft.operators.CorpusPipeline.clean(
        t(s, dir, "documents"), "doc_id", "text")),

    // ----- the Dataset.pivot API proper (q_pivot_flags is the manual
    // CASE-sum form; same result, same oracle shape) -----
    "q_pivot_api" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum(col("l_quantity")))
        .select(col("l_linestatus"), col("A").as("qty_a"),
          col("N").as("qty_n"), col("R").as("qty_r"))),

    // ----- collection aggregates with deterministic ordering -----
    "q_collect_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("array_join(slice(sort_array(collect_list(o_orderkey)), 1, 5), ',')")
            .as("first5"),
          expr("CAST(size(collect_set(o_custkey)) AS BIGINT)").as("n_cust"))),

    // ----- inverted index: term -> deterministic posting list -----
    // ----- ZIPF rank-octave diagnostic: vocabulary ranked by frequency
    // (ParallelRank — no global window), bucketed by floor(log2(rank))
    // via bin-string length (integer-exact in BOTH engines; log2() is
    // float and not portable). Zipfian text ⇒ roughly constant total
    // frequency per octave — the corpus-health readout before trusting
    // frequency-based filters -----
    "q_zipf" -> ((s, dir) => {
      val freq = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      graft.plans.ParallelRank.rowNumber(freq, "rank", 32,
          col("freq").desc, col("word").asc)
        .withColumn("octave", (length(expr("bin(rank)")) - 1).cast("long"))
        .groupBy(col("octave"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("freq")).as("total_freq"),
          max(col("freq")).as("max_freq"),
          min(col("freq")).as("min_freq"))
    }),
    "q_inverted_index" -> ((s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy(col("word"))
        .agg(countDistinct(col("doc_id")).as("df"),
          expr("array_join(slice(sort_array(collect_set(doc_id)), 1, 10), ',')")
            .as("postings10"))
        .orderBy(col("df").desc, col("word"))
        .limit(50)),

    // ----- PHRASE SEARCH over a STORED positional index: postings are
    // built once (word-range-partitioned + sorted, so parquet row-group
    // stats make a term lookup a data-skipping read), then the phrase
    // is n-1 equi-joins on (doc, anchor-relative position) — cost
    // follows the rarest term's postings, never the corpus -----
    "q_phrase_search" -> ((s, dir) => {
      val path = "/tmp/graft_pos_index_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      TextAnalysis.positionalIndex(t(s, dir, "documents"), "doc_id", "text")
        .repartitionByRange(4, col("word"))
        .sortWithinPartitions(col("word"))
        .write.mode("overwrite").parquet(path)
      TextAnalysis.phraseQuery(s.read.parquet(path), "doc_id",
        Seq("slow", "hash", "batch"))
    }),
    // ----- PROXIMITY-SCORED RETRIEVAL over the same stored positional
    // index: AND of three terms, BM25-weighted (the q_bm25 rational
    // form, fixed fold order) times a min-span proximity bonus —
    // documents where the terms cluster tightly outrank diffuse
    // mentions. Min-span is the relational doc-at-a-time window
    // (anchors x next-occurrence-per-term, postings-sized); the global
    // top-15 rides ParallelRank, never a global window -----
    "q_proximity_rank" -> ((s, dir) => {
      val path = proxIndexFixture(s, dir)
      TextAnalysis.proximityRank(s.read.parquet(path), "doc_id",
        Seq("join", "hash", "scan"), k = 15)
    }),
    // ----- VERSIONED phrase index with snapshot-isolated serving: the
    // base corpus's postings commit as a VersionedTable; a query serves
    // from a PINNED version while the increment's postings land as the
    // next APPEND — the in-flight query's result set cannot change
    // under it (same pin-isolation contract as q_ingest_dedup3, here
    // for the retrieval index). base scope = pinned read AFTER the
    // append landed; a leaked pin would surface increment docs there
    // and hash-mismatch the oracle -----
    "q_phrase_index_ingest" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_phrase_vtab_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val phrase = Seq("slow", "hash", "batch")
      val vBase = VersionedTable.commit(
        TextAnalysis.positionalIndex(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
        path, "overwrite")
      val pinned = VersionedTable.read(s, path, Some(vBase))
      val vFull = VersionedTable.commit(
        TextAnalysis.positionalIndex(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text"),
        path, "append")
      TextAnalysis.phraseQuery(pinned, "doc_id", phrase)
        .withColumn("scope", lit("base"))
        .unionByName(
          TextAnalysis.phraseQuery(
            VersionedTable.read(s, path, Some(vFull)), "doc_id", phrase)
            .withColumn("scope", lit("full")))
        .select(col("scope"), col("doc_id"), col("n_hits"),
          col("first_pos"))
    }),
    // ----- the same phrase WITHOUT an index: one narrow HOF corpus
    // pass testing every |phrase|-token window, zero shuffles before
    // the aggregate — the right plan for an ad-hoc phrase (building
    // postings first would cost this same pass). Same oracle: the two
    // plans must agree to the hash -----
    "q_phrase_scan" -> ((s, dir) =>
      TextAnalysis.phraseScan(t(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "hash", "batch"))),

    // ----- TF-IDF-style ranking, log-free so the doubles are exact:
    // score = tf * n_docs / df (rational idf — same ordering intent,
    // bit-identical across engines; log() is only 1-ulp-accurate and
    // cannot be hash-matched) -----
    "q_tfidf_like" -> ((s, dir) => {
      val words = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), explode(col("toks")).as("word"))
      // persist barrier on the AGGREGATED tf (tiny), then derive document
      // frequency from it — (word, doc) rows in tf are distinct by
      // construction, so df = row count per word; the tokenize+explode
      // pass runs exactly once instead of twice
      val tf = graft.operators.Dedup.persistTracked(
        words.groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy(col("word"))
        .agg(count(lit(1)).as("dfq"))
      // lazy 1-row scalar, cross-joined in (no driver-side action)
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word"))
      tf.join(dfreq, "word")
        .filter(col("doc_id") < 20)
        .crossJoin(nd)
        .withColumn("score", expr("CAST(tf * nd AS DOUBLE) / dfq"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("word"), col("score"), col("rn"))
    }),

    // ----- corpus shingle frequency via the custom GENERATOR expression
    // (row-per-shingle UDTF shape: no intermediate array) -----
    "q_shingle_freq" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(graft.functions.GraftFunctions
          .shingleRows(col("text"), 3).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("shingle"))
        .limit(20)),

    // ----- cluster-aware corpus cleaning: one representative per
    // transitive near-dup component -----
    "q_corpus_clean2" -> ((s, dir) =>
      graft.operators.CorpusPipeline.cleanClustered(
        t(s, dir, "documents"), "doc_id", "text")),

    // ----- multimodal plumbing: opaque binary + typed metadata -----
    "q_media_meta" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("media", expr("encode(text, 'UTF-8')")) // opaque bytes
        .selectExpr("doc_id",
          "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind",
          "CAST(octet_length(media) AS BIGINT) AS n_bytes",
          "CAST(ascii(text) AS BIGINT) AS first_byte")),

    // ----- multimodal frame sampling: fixed-size frame plumbing over the
    // opaque payload (offset/length per frame; the decode itself is the
    // stubbed step — see operators.Multimodal) -----
    "q_media_frames" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("media", expr("encode(text, 'UTF-8')"))
        .withColumn("n_bytes", expr("CAST(octet_length(media) AS BIGINT)"))
        .withColumn("frame_idx",
          explode(expr("sequence(0L, (n_bytes + 255) div 256 - 1)")))
        .selectExpr("doc_id", "frame_idx",
          "frame_idx * 256 AS frame_off",
          "least(256L, n_bytes - frame_idx * 256) AS frame_len")),

    // ----- multimodal REAL decode: synthesize a binary P6 PPM (4x3 RGB,
    // body = first 36 text bytes, 'x'-padded) per document, decode it
    // with the pure-JVM parser, emit geometry + per-channel means. The
    // oracle replays the identical byte math in SQL. -----
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .selectExpr("doc_id",
          "encode(concat('P6', chr(10), '4 3', chr(10), '255', chr(10), " +
            "rpad(text, 36, 'x')), 'UTF-8') AS bytes")
        .as[(Long, Array[Byte])]
      graft.operators.Multimodal.ppmFeatures(payloads)
        .selectExpr("id AS doc_id", "width", "height", "maxval",
          "mean_r", "mean_g", "mean_b")
    }),

    // ----- multimodal composition: DECODED media features through the
    // embedding dedup stack end-to-end — synthesize a P6 PPM per doc,
    // decode it (real pixel math), and run random-hyperplane LSH +
    // exact cosine verify over MEAN-CENTERED per-pixel grayscale
    // vectors. Centering is load-bearing: raw channel means of
    // ASCII-derived images cluster so tightly that every doc paired
    // with every other (measured: ~200k pairs at sf0.1 even at
    // threshold 0.9999 — a quadratic blow-up at scale); centered
    // cosine is pattern correlation, so only genuinely shared pixel
    // layouts pair. The oracle replays byte math + sig + cosine in
    // SQL -----
    "q_media_embed_dedup" -> ((s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .selectExpr("doc_id",
          "encode(concat('P6', chr(10), '4 3', chr(10), '255', chr(10), " +
            "rpad(text, 36, 'x')), 'UTF-8') AS bytes")
        .as[(Long, Array[Byte])]
      val fv = graft.operators.Multimodal.ppmGrays(payloads).toDF()
        .withColumn("gsum", expr("aggregate(grays, 0L, (a, b) -> a + b)"))
        .selectExpr("id AS doc_id",
          "transform(grays, x -> CAST(CAST(x AS DOUBLE) - " +
            "CAST(gsum AS DOUBLE) / 12.0 AS FLOAT)) AS fv")
      Dedup.embeddingPairs(fv, "doc_id", "fv", threshold = 0.99,
        nbits = 8, dim = 12)
    }),

    // ----- TPC-H Q18-style: large-volume orders (agg → join → top-k) -----
    "q18_big_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
          col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ----- TPC-H Q5-style: regional revenue with co-located cust/supp -----
    "q5_region_volume" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
        .groupBy(col("n_name"))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))),

    // ----- TPC-H Q10-style: top customers by returned-item revenue -----
    "q10_returns" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .filter(col("l_returnflag") === "R" &&
          col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),

    // ----- approximate aggregates: HLL++ / quantile sketch, verified
    // against the exact values (sketches differ across engines, so the
    // oracle-comparable output is the exact value + an accuracy flag) -----
    "q_approx_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")).cast("double") /
            countDistinct(col("l_partkey")).cast("double") - 1) < 0.1).as("cd_ok"),
          (abs(expr("approx_percentile(l_quantity, 0.5, 1000)") /
            expr("percentile(l_quantity, 0.5)") - 1) <= 0.05).as("med_ok"))),

    // ----- MERGE INTO emulation: one full-outer shuffle on the key -----
    "q_merge_upsert" -> ((s, dir) => {
      // persist barrier: base feeds the update set, the insert set, AND
      // the merge target — one orders scan instead of three
      val base = graft.operators.Dedup.persistTracked(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")))
      val upd = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (dec(col("o_totalprice")) + 10).cast("double").as("o_totalprice"))
      val ins = base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("I").as("o_orderstatus"), col("o_totalprice"))
      graft.operators.Merge.upsert(base, upd.unionAll(ins), "o_orderkey")
    }),

    // ----- unpivot/melt (inverse of q_pivot_flags) -----
    "q_unpivot" -> ((s, dir) =>
      queries("q_pivot_flags")(s, dir)
        .unpivot(Array(col("l_linestatus")),
          Array(col("qty_a"), col("qty_n"), col("qty_r")), "flag", "qty")
        .filter(col("qty").isNotNull)),

    // ----- BPE-merge training: 3 rounds of pair-count → top pair →
    // greedy rewrite over the word-frequency dictionary — the
    // distributed tokenizer-training loop (corpus text touched once;
    // every round is dictionary-sized) -----
    "q_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", rounds = 3)),
    // what the 3 learned merges buy: exact corpus symbol counts before
    // vs after application — the sequence-length/FLOPs readout
    "q_bpe_compression" -> ((s, dir) =>
      TextAnalysis.bpeCompression(t(s, dir, "documents"), "text",
        rounds = 3)),

    // ----- corpus word frequency: explode + count + top-k -----
    "q_word_freq" -> ((s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)),

    // ----- char-n-gram language-ID (profile density, no shuffle) -----
    "q_text_lang_ngram" -> ((s, dir) =>
      TextAnalysis.langCharNgram(t(s, dir, "documents"), "doc_id", "text")),

    // ----- repetition / boilerplate metrics (per-row HOFs, no shuffle)
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")),

    // ----- composite quality gate with per-rule rejection flags -----
    "q_quality_gate" -> ((s, dir) =>
      TextAnalysis.qualityGate(t(s, dir, "documents"), "doc_id", "text")),

    // ----- benchmark decontamination: 5-gram hash collisions between
    // the corpus (doc_id >= 20) and a benchmark set (doc_id < 20) -----
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminate(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    }),

    // ----- CONTAMINATION DEFENSE-IN-DEPTH MATRIX: every corpus doc
    // cross-tabulated by which detection layer flags it — byte-exact
    // text match, 5-gram hash overlap (q_decontaminate's layer), and
    // embedding cosine (q_contam_embedding's layer, vec ids aligned
    // with doc ids). The 2×2×2 readout says whether the layers are
    // redundant or complementary — the audit that justifies running
    // (or dropping) each one at 100 TB. Layers reuse the existing
    // operators' exact machinery; flags ride LEFT joins on ids. -----
    "q_contam_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = Dedup.persistTracked(
        docs.filter(col("doc_id") >= 20).select(col("doc_id"), col("text")))
      val bench = Dedup.persistTracked(
        docs.filter(col("doc_id") < 20).select(col("doc_id"), col("text")))
      val ngramFlag = TextAnalysis.decontaminate(corpus, bench,
          "doc_id", "text")
        .select(col("doc_id")).withColumn("ngram_hit", lit(true))
      val emb = t(s, dir, "embeddings")
      val semFlag = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(emb.filter(col("vec_id") < 20)
          .select(col("embedding").as("bv"))))
        .filter(GraftFunctions.cosineSim(col("embedding"), col("bv"))
          >= 0.35)
        .select(col("vec_id").as("doc_id")).distinct()
        .withColumn("sem_hit", lit(true))
      val exactFlag = corpus
        .join(bench.select(col("text")).distinct(), Seq("text"))
        .select(col("doc_id")).withColumn("exact_hit", lit(true))
      corpus.select(col("doc_id"))
        .join(exactFlag, Seq("doc_id"), "left")
        .join(ngramFlag, Seq("doc_id"), "left")
        .join(semFlag, Seq("doc_id"), "left")
        .groupBy(coalesce(col("exact_hit"), lit(false)).as("exact_hit"),
          coalesce(col("ngram_hit"), lit(false)).as("ngram_hit"),
          coalesce(col("sem_hit"), lit(false)).as("sem_hit"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ----- WHERE the contamination is: 1-based positions of benchmark
    // 5-gram collisions per doc — the span list an excision pass masks
    "q_contam_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminatedSpans(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
        // the operator's ARRAY output feeds excision; the differential
        // surface flattens it to a scalar so the oracle can sort+hash it
        .withColumn("positions", concat_ws(",", col("positions")))
    }),

    // ----- EXCISION: the spans list executed — corpus text with the
    // contaminated windows cut out (token-level surgery instead of
    // dropping whole docs). clean_text is the normalized token stream
    // (lowercased, single-spaced) on both engines. -----
    "q_contam_excise" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.exciseContaminated(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    }),

    // ----- corpus bigram LM: top-20 bigrams with conditional p(w2|w1)
    "q_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLm(t(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)),

    // ----- word co-occurrence with PMI-style LIFT (log-free: the exact
    // rational (n_ab * nd) / (n_a * n_b), since log() is 1-ulp
    // engine-specific). Doc-level distinct words -> within-doc pairs. -----
    "q_word_cooccur" -> ((s, dir) => {
      // persist barrier: `w` feeds both self-join sides + the unigram
      // counts — same multi-consumer recompute trap as q_basket_lift
      val w = graft.operators.Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .select(col("doc_id"),
            explode(expr("array_distinct(toks)")).as("word")))
      val pairs = w.select(col("doc_id"), col("word").as("w1"))
        .join(w.select(col("doc_id"), col("word").as("w2")), "doc_id")
        .filter(col("w1") < col("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      val wc = w.groupBy(col("word")).agg(count(lit(1)).as("n_w"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      pairs
        .join(wc.select(col("word").as("w1"), col("n_w").as("n_a")), "w1")
        .join(wc.select(col("word").as("w2"), col("n_w").as("n_b")), "w2")
        .crossJoin(nd)
        .withColumn("lift",
          expr("CAST(n_ab * nd AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)"))
        .filter(col("n_ab") >= 20)
        .select(col("w1"), col("w2"), col("n_ab"), col("lift"))
        .orderBy(col("n_ab").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // ----- RFM customer segmentation: recency/frequency/monetary
    // quartiles. Each quartile is a GLOBAL ntile over the per-customer
    // table — computed with the two-phase range-partitioned rank
    // (plans.ParallelRank), never a single-partition window: the
    // per-customer frame is itself fact-scaled (hundreds of millions of
    // customers at 100 TB) -----
    "q_rfm" -> ((s, dir) => {
      // persist barrier (opt guide §5): the first ntile's
      // repartitionByRange SAMPLES its input before shuffling it, so an
      // unpersisted cust ran the orders aggregation twice (sampling
      // pass + data pass); the two later ntiles read their persisted
      // predecessors already
      val cust = Dedup.persistTracked(t(s, dir, "orders")
        .withColumn("t_us", expr("unix_micros(cast(o_orderdate as timestamp))"))
        .groupBy(col("o_custkey"))
        .agg(max(col("t_us")).as("last_us"),
          count(lit(1)).as("freq"),
          sum(dec(col("o_totalprice"))).cast("double").as("monetary")))
      val r1 = graft.plans.ParallelRank.ntile(cust, "rq", 4, 32,
        col("last_us").desc, col("o_custkey"))
      val r2 = graft.plans.ParallelRank.ntile(r1, "fq", 4, 32,
        col("freq").desc, col("o_custkey"))
      graft.plans.ParallelRank.ntile(r2, "mq", 4, 32,
        col("monetary").desc, col("o_custkey"))
        .withColumn("segment", expr("concat(rq, fq, mq)"))
        .select(col("o_custkey"), col("freq"), col("monetary"),
          col("rq"), col("fq"), col("mq"), col("segment"))
    }),

    // ----- z-score outlier detection: exact decimal moments (2-decimal
    // values -> 4-decimal squares, both far from decimal-rounding
    // halfway points), then a broadcast stats join flags |v-mean|>3*std
    "q_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.groupBy(col("event_type").as("st"))
        .agg((sum(dec(col("value"))).cast("double") / count(lit(1)))
            .as("mean"),
          (sum(expr("CAST(value * value AS DECIMAL(28,4))")).cast("double") /
            count(lit(1))).as("mean_sq"))
        .withColumn("std",
          expr("sqrt(greatest(mean_sq - mean * mean, 0D))"))
      ev.join(broadcast(stats), col("event_type") === col("st"))
        .groupBy(col("event_type"))
        .agg(sum(expr(
            "CASE WHEN abs(value - mean) > 3 * std THEN 1L ELSE 0L END"))
            .as("n_outliers"),
          count(lit(1)).as("n_total"))
    }),

    // ----- exact percentiles per group (sorted interpolation — both
    // engines compute (a+b)/2 on exact doubles, so results hash-match,
    // unlike approx sketches) -----
    "q_exact_median" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5D)").as("median_value"),
          expr("percentile(value, 0.9D)").as("p90_value"),
          count(lit(1)).as("n"))),

    // ----- robust outliers via MAD (median absolute deviation): immune
    // to the outliers themselves inflating the spread estimate, unlike
    // the z-score variant above; two tiny per-group stats tables ride
    // broadcast joins so events stream through unshuffled -----
    "q_mad_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val med = ev.groupBy(col("event_type").as("g"))
        .agg(expr("percentile(value, 0.5D)").as("med"))
      // persist barrier: dev feeds the MAD aggregate AND the final
      // outlier rollup — without it the events scan + median join run 2×
      val dev = graft.operators.Dedup.persistTracked(
        ev.join(broadcast(med), col("event_type") === col("g"))
          .select(col("event_type"), col("value"), col("med"),
            expr("abs(value - med)").as("adev")))
      val mad = dev.groupBy(col("event_type").as("g2"))
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), col("event_type") === col("g2"))
        .groupBy(col("event_type"))
        .agg(min(col("med")).as("median_value"),
          min(col("mad")).as("mad"),
          sum(when(expr("adev > 3 * 1.4826 * mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          count(lit(1)).as("n"))
    }),

    // ----- skew-safe distinct count: pre-aggregate on (group, member)
    // so the distinct set never concentrates on one reducer — the
    // two-stage rewrite that keeps COUNT(DISTINCT) scaling under
    // heavy-hitter groups (results identical to the direct form) -----
    "q_salted_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("c")).as("n_events"))),

    // ----- FULL corpus pipeline: quality gate -> decontamination ->
    // exact dedup -> near-dup cluster representatives -----
    "q_corpus_clean3" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.CorpusPipeline.cleanFull(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    }),

    // ----- FUNNEL AUDIT of the full pipeline: docs surviving each
    // stage — the attrition dashboard a data team reads before
    // committing a snapshot (survivor-only output can't show a stage
    // suddenly eating the corpus) -----
    "q_corpus_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.CorpusPipeline.cleanFunnel(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    }),

    // ----- mergeable HLL sketches: per-group sketch + union-merge to a
    // corpus-wide estimate WITHOUT re-scanning (the 100 TB pattern:
    // partial sketches combine associatively, so distinct counts
    // parallelize like sums). Oracle checks the accuracy-flag contract
    // (approx within 5% of exact on both engines' own sketches). -----
    "q_hll_sketch" -> ((s, dir) => {
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
    }),

    // ----- z-order layout key: interleave the low 10 bits of two join
    // dimensions — the space-filling-curve sort key that keeps BOTH
    // columns' locality in one file order (data-layout optimization for
    // multi-column pruning) -----
    "q_zorder_key" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("x", expr("l_orderkey % 1024"))
        .withColumn("y", expr("l_partkey % 1024"))
        // statically unrolled bit interleave: a flat 20-term integer
        // expression stays entirely in whole-stage codegen (the HOF fold
        // form allocated a per-row array and ran ~4x slower)
        .withColumn("z", expr((0 until 10).map(b =>
          s"((x >> $b) & 1) * ${1L << (2 * b)}L + " +
            s"((y >> $b) & 1) * ${1L << (2 * b + 1)}L").mkString(" + ")))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          col("z"))),

    // ----- HILBERT layout key — the locality-stronger sibling of
    // q_zorder_key: consecutive keys are ALWAYS adjacent cells (unit
    // Manhattan step, proven exhaustively in HilbertSpec), where z-order
    // takes long diagonal jumps at power-of-2 seams — fewer row-group
    // boundaries straddled per range scan. Ten statically-unrolled
    // rotate-and-accumulate levels (XFormulas.hilbert*: all-integer CASE
    // fragments shared verbatim with the oracle), a pure narrow map in
    // whole-stage codegen. -----
    "q_hilbert_key" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("l_orderkey % 1024").as("x"),
          expr("l_partkey % 1024").as("y"))
        .withColumn("h", GraftFunctions.hilbert(col("x"), col("y"), 10))
        .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          col("h"))),

    // ----- LAYOUT PRUNABILITY COMPARISON — the design readout that
    // justifies q_hilbert_key over q_zorder_key with a NUMBER: sort the
    // same rows by each key, cut into 256-row "row groups", keep each
    // group's (x, y) zone map, and count groups a reference box query
    // (x,y each in a 100-wide band) cannot skip. Hilbert's unit-step
    // locality ⇒ tighter bounding boxes ⇒ fewer groups scanned for the
    // same rows returned. All-integer zone maps; the exact matching-row
    // count rides along as the invariant both layouts must serve. -----
    "q_layout_compare" -> ((s, dir) => {
      // both keys are native codegen'd maps (the chained-Project hilbert
      // form costs seconds of Janino compilation per plan shape that
      // inlines it — HilbertKey is one static call per row)
      val keyed = Dedup.persistTracked(t(s, dir, "lineitem")
        .select(expr("l_orderkey % 1024").as("x"),
          expr("l_partkey % 1024").as("y"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("z", expr((0 until 10).map(b =>
          s"((x >> $b) & 1) * ${1L << (2 * b)}L + " +
            s"((y >> $b) & 1) * ${1L << (2 * b + 1)}L").mkString(" + ")))
        .withColumn("h", GraftFunctions.hilbert(col("x"), col("y"), 10)))
      // global rank WITHOUT a single-partition window: the two-phase
      // range-partitioned rank, now factored into plans.ParallelRank
      // (this query was the shape's prototype). (key, okey, lnum) is a
      // total order, so the rank — and the oracle hash — is independent
      // of where the sampled range boundaries land.
      def zones(key: String, layout: String) = {
        graft.plans.ParallelRank.rowNumber(keyed, "grn", 32,
            col(key), col("l_orderkey"), col("l_linenumber"))
          .withColumn("chunk", expr("(grn - 1) DIV 256"))
          .groupBy(col("chunk"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("x")).as("xmin"), max(col("x")).as("xmax"),
            min(col("y")).as("ymin"), max(col("y")).as("ymax"))
          .select(lit(layout).as("layout"), col("n_rows"),
            expr("CASE WHEN xmin <= 199 AND xmax >= 100 AND " +
              "ymin <= 399 AND ymax >= 300 THEN 1L ELSE 0L END").as("hit"))
      }
      val match_rows = keyed.filter(
        expr("x BETWEEN 100 AND 199 AND y BETWEEN 300 AND 399"))
        .agg(count(lit(1)).as("n_match"))
      zones("z", "zorder").union(zones("h", "hilbert"))
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("hit")).as("n_hit_chunks"),
          sum(when(col("hit") === 1L, col("n_rows")).otherwise(0L))
            .as("rows_scanned"))
        .crossJoin(broadcast(match_rows))
    }),

    // ----- DETERMINISTIC WORD-DROPOUT AUGMENTATION: drop ~10% of each
    // doc's tokens, chosen by an exact integer hash of
    // (token, doc, position) — reproducible augmentation with NO RNG, so
    // every epoch and every engine regenerates the identical augmented
    // corpus (and the oracle can replay it). A pure narrow map (tokenize
    // → positional hash filter → re-join) running inside the scan
    // stage. -----
    "q_word_dropout" -> ((s, dir) => {
      val wh = XFormulas.sparkStrHash("element_at(toks, cast(i as int))")
      t(s, dir, "documents")
        .select(col("doc_id"),
          expr(XFormulas.sparkTokens("text")).as("toks"))
        .withColumn("kept", expr(
          s"IF(size(toks) < 1, array(), " +
            s"filter(transform(sequence(1L, size(toks)), i -> " +
            s"IF((($wh * 1103515245 + doc_id * 12345 + i * 7919) " +
            s"% 1000000007) % 10 = 0, NULL, " +
            s"element_at(toks, cast(i as int)))), w -> w IS NOT NULL))"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          size(col("kept")).cast("long").as("n_kept"),
          concat_ws(" ", col("kept")).as("aug_text"))
    }),

    // ----- time-to-convert: first click -> first purchase per user
    // (conditional min aggregation, one shuffle) -----
    "q_time_to_convert" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click", col("t_us")))
            .as("first_click_us"),
          min(when(col("event_type") === "purchase", col("t_us")))
            .as("first_purchase_us"))
        .filter(col("first_click_us").isNotNull &&
          col("first_purchase_us").isNotNull &&
          col("first_purchase_us") >= col("first_click_us"))
        .select(col("user_id"),
          expr("(first_purchase_us - first_click_us) div 1000000")
            .as("secs_to_convert"))),

    // ----- event-type transition matrix (first-order Markov over each
    // user's event sequence) -----
    "q_event_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      ev.withColumn("to_type", lead(col("event_type"), 1).over(seq))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", expr("CAST(n AS DOUBLE) / " +
          "sum(n) OVER (PARTITION BY from_type)"))
    }),

    // ----- tokenizer VOCAB COVERAGE curve: top-64 tokens by corpus
    // frequency with cumulative occurrence share — the vocab-size vs
    // coverage trade-off read off directly. The global rank runs on the
    // aggregated TYPE table (distinct tokens), which is vocab-sized,
    // not corpus-sized; coverage is an integer cumsum + one division -----
    "q_vocab_coverage" -> ((s, dir) => {
      val counts = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      // rank AND running sum over (n desc, token) in ONE two-phase pass —
      // the vocab table is type-sized but unbounded at 100 TB, so even
      // this rank never rides a single-partition window
      graft.plans.ParallelRank.withRunningAggs(counts, 32,
          Seq(graft.plans.ParallelRank.RunCol("rank", lit(1L), "sum",
              inclusive = true),
            graft.plans.ParallelRank.RunCol("cum", col("n"), "sum",
              inclusive = true)),
          col("n").desc, col("token"))
        .crossJoin(broadcast(
          TextAnalysis.withTokens(t(s, dir, "documents"), "text")
            .agg(sum(size(col("toks")).cast("long")).as("total"))))
        .filter(col("rank") <= 64)
        .select(col("rank"), col("token"), col("n"),
          (col("cum").cast("double") / col("total")).as("coverage"))
    }),

    // ----- HARD-NEGATIVE mining for contrastive training: per query,
    // the top-k most-similar candidates with a DIFFERENT label — the
    // negatives that actually move a contrastive loss. Same broadcast
    // queries x candidate scan shape as brute-force ANN (guarded small
    // query side); the label filter prunes inside the scan -----
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = broadcast(emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel")))
      val scored = q.crossJoin(
          emb.select(col("vec_id").as("cid"), col("embedding").as("cv"),
            col("label").as("clabel")))
        .filter(col("clabel") =!= col("qlabel"))
        .select(col("qid"), col("cid"),
          GraftFunctions.cosineSim(col("qv"), col("cv")).as("cosine"))
      scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cid"))).cast("long"))
        .filter(col("rank") <= 5)
    }),

    // ----- SCD TYPE 2 dimension build: collapse each user's event_type
    // runs into validity intervals [valid_from, valid_to) in epoch-micros,
    // open-ended current row — the standard warehouse history table.
    // Gaps-and-islands run detection: one shuffle per window key -----
    "q_scd2" -> ((s, dir) => {
      val seq = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      val runs = t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
        .withColumn("changed",
          when(lag(col("event_type"), 1).over(seq).isNull ||
            lag(col("event_type"), 1).over(seq) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run", sum(col("changed")).over(
          seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("run"), col("event_type"))
        .agg(min(col("t_us")).as("valid_from"),
          count(lit(1)).as("n_events"))
      val byStart = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("run"))
      runs
        .withColumn("valid_to", lead(col("valid_from"), 1).over(byStart))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"), col("is_current"))
    }),

    // ----- mergeable HISTOGRAM quantiles: the single-pass sketch path
    // for quantiles at scale — bucket counts are partial-aggregable,
    // the quantile bucket is read off the cumulative histogram. Bucket
    // bounds are exact integers; no interpolation, so the oracle is
    // exact (the precise-value twin is q_percentile) -----
    "q_hist_quantile" -> ((s, dir) => {
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
    }),

    // ----- lexical diversity, log-free: Gini-Simpson 1 - sum(p_i^2)
    // computed as the exact rational (N^2 - sum(n_i^2)) / N^2 — integer
    // sums + ONE division, so doubles are engine-identical (entropy's
    // log() is 1-ulp engine-specific; this is the same diversity signal
    // without it) -----
    "q_lex_diversity" -> ((s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_tokens"),
          sum(col("n") * col("n")).as("sum_sq"))
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) / (n_tokens * n_tokens)")
            .as("gini"))),

    // ----- per-SOURCE duplication report: span-dup stats rolled up to
    // the corpus-card level (integer sums, one division) -----
    "q_dup_by_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.spanDupStats(docs, "doc_id", "text", w = 8)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_windows")).as("windows"),
          sum(col("n_dup_windows")).as("dup_windows"))
        .withColumn("dup_rate",
          expr("CAST(dup_windows AS DOUBLE) / windows"))
    }),

    // ----- per-dimension embedding statistics (vector-column profiling).
    // Sums are quantized with floor() into exact 64-bit integer space
    // (1e-6 for values, 1e-12 for squares) — floor has NO halfway case,
    // unlike a decimal cast, whose round-half ties on float-derived
    // doubles resolve differently across engines (HALF_UP vs half-even);
    // integer sums are then order-independent and bit-exact. -----
    // ----- label probe: per-label centroids + nearest-centroid
    // confusion matrix — the embedding-separability gate (one
    // aggregation for centroids, one broadcast classify scan) -----
    "q_label_probe" -> ((s, dir) =>
      Similarity.labelProbe(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")),

    "q_embedding_stats" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "val")))
        .withColumn("v", expr("CAST(val AS DOUBLE)"))
        .withColumn("q1", expr("floor(v * 1000000.0D)"))
        .withColumn("q2", expr("floor(v * v * 1000000000000.0D)"))
        .groupBy(col("pos").cast("long").as("pos"))
        .agg(
          expr("CAST(SUM(q1) AS DOUBLE) / COUNT(*) / 1000000.0D").as("mean"),
          expr("CAST(SUM(q2) AS DOUBLE) / COUNT(*) / 1000000000000.0D")
            .as("mean_sq"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax"))
        .withColumn("std",
          expr("sqrt(greatest(mean_sq - mean * mean, 0D))"))),

    // ----- exact quantized COVARIANCE matrix of the embedding column
    // (the distributed-PCA / feature-correlation input). ONE custom
    // typed Aggregator pass accumulates [n, d sums, d(d+1)/2 pair dot
    // products] as exact longs with map-side partial aggregation — the
    // shuffle is a single fixed-size array, vs n·d(d+1)/2 shuffled rows
    // for the explode-self-join shape the oracle runs (fine at 500
    // vectors, disqualifying at 1e9). Covariance itself is derived from
    // the exact components in one fixed-shape double expression, so it
    // is bit-identical across engines. -----
    "q_embedding_cov" -> ((s, dir) => {
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
    }),

    // ----- top-|correlation| dimension pairs from the SAME one-pass
    // covariance components (no second aggregation): unpack the flat
    // buffer into off-diagonal pairs AND diagonal second moments, join
    // diagonals back by position (all within one 1-row broadcast-sized
    // frame), and rank by |corr|. The redundancy readout that says
    // which embedding coordinates carry duplicate signal — the "do I
    // even need 64 dims" precursor to pcaProject. -----
    "q_cov_corr_pairs" -> ((s, dir) => {
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
    }),

    // ----- deterministic stratified sample: fixed rows per stratum via
    // hash-ordered row_number (reproducible across runs AND engines).
    // Two-phase top-k: a stratum is a SINGLE window partition (3 distinct
    // flags → 3 tasks → the whole table sorts on 3 cores at scale), so
    // phase 1 takes the exact per-(stratum, hash-bucket) top-50 across 32
    // buckets in parallel — any global top-50 row is in its bucket's
    // top-50 — and phase 2 re-ranks only the ≤32×50 survivors per
    // stratum. Identical output to the single-window form (the oracle
    // runs that form). -----
    "q_stratified_sample" -> ((s, dir) => {
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
    }),

    // ----- RANGE window frame: trailing-30-day per-customer stats -----
    "q_window_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("t_us"))
        .rangeBetween(-2592000000000L, Window.currentRow) // 30 days in µs
      t(s, dir, "orders")
        .withColumn("t_us", expr("unix_micros(cast(o_orderdate as timestamp))"))
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_trailing"),
          sum(dec(col("o_totalprice"))).over(w).cast("double")
            .as("spend_trailing"))
    }),

    // ----- TPC-H Q2-style: rows matching a per-group max (correlated
    // scalar subquery semantics via join-with-aggregate) -----
    "q2_top_supplier" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val best = sup.groupBy(col("s_nationkey").as("nk"))
        .agg(max(col("s_acctbal")).as("max_bal"))
      sup.join(best, col("s_nationkey") === col("nk") &&
          col("s_acctbal") === col("max_bal"))
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    }),

    // ----- TPC-H Q7-style: bilateral volume between two nations by year -----
    "q7_nation_volume" -> ((s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("sn_key"))
        .join(n2, col("c_nationkey") === col("cn_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ----- TPC-H Q22-style: rich-but-quiet customers (scalar subquery
    // threshold + conditional anti-join) -----
    "q22_quiet_rich" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val avgPos = cust.filter(col("c_acctbal") > 0)
        .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
          .as("avg_bal"))
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
        .select(col("o_custkey"))
      cust.crossJoin(avgPos)
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
    }),

    // ----- window: first/last/nth value over an explicit full frame -----
    "q_window_firstlast" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
    }),

    // ----- share-of-total ratios (windowed denominator) -----
    "q_share_of_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        (dec(col("o_totalprice")).cast("double") /
          sum(dec(col("o_totalprice"))).over(w).cast("double"))
          .as("share"))
    }),

    // ----- several COUNT(DISTINCT …) in one aggregate (Expand plan) -----
    "q_multi_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))),

    // ----- inline VALUES dimension joined in (literal broadcast dim) -----
    "q_values_join" -> ((s, dir) => {
      import s.implicits._
      val statusNames = Seq(("O", "open"), ("F", "fulfilled"), ("P", "pending"))
        .toDF("code", "status_name")
      t(s, dir, "orders")
        .join(broadcast(statusNames), col("o_orderstatus") === col("code"))
        .groupBy(col("status_name"))
        .agg(count(lit(1)).as("n"))
    }),

    // ----- bounded-frame moving average (exact decimal over the frame) -----
    "q_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        (sum(dec(col("o_totalprice"))).over(w).cast("double") /
          count(lit(1)).over(w)).as("mavg4"))
    }),

    // ----- rank() with REAL ties (coarse dates): gaps after tie groups;
    // every other ranking query uses a total order, this one exercises
    // the tie semantics proper -----
    "q_rank_ties" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderdate"))
      t(s, dir, "orders").select(col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
    }),

    // ----- window: dense_rank / percent_rank / cume_dist -----
    "q_window_ranks2" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
    }),

    // ----- array functions (string-joined outputs for the compare) -----
    "q_array_funcs" -> ((s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .selectExpr("doc_id",
          "CAST(size(toks) AS BIGINT) AS n_toks",
          "array_join(slice(sort_array(toks), 1, 3), ',') AS first3",
          "array_contains(toks, 'the') AS has_the",
          "CAST(size(array_distinct(toks)) AS BIGINT) AS n_uniq")),

    // ----- regular expressions (RE2-safe patterns) -----
    "q_regexp" -> ((s, dir) =>
      t(s, dir, "documents").selectExpr("doc_id",
        "regexp_extract(text, '([a-z]+a[a-z]*)', 1) AS first_a_word",
        "CAST(length(regexp_replace(text, '[aeiou]', '')) AS BIGINT) AS novowel_len",
        "CAST(size(regexp_extract_all(text, '(ta[a-z]+)', 0)) AS BIGINT) AS n_ta")),

    // ----- conditional expressions: CASE / NULLIF / COALESCE / LEAST -----
    "q_conditional" -> ((s, dir) =>
      t(s, dir, "lineitem").selectExpr("l_orderkey", "l_linenumber",
        "CASE WHEN l_quantity >= 40 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS bucket",
        "coalesce(nullif(l_returnflag, 'N'), 'none') AS flag2",
        "least(l_quantity, l_discount * 1000) AS lo",
        "greatest(l_quantity, l_tax * 100) AS hi")),

    // ----- explicit cross join (J9: the reference hangs; we execute) -----
    "q_cross_join" -> ((s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))),

    // ----- custom whole-operator plan: exact top-k per group via
    // partial/final map-side pruning (graft.plans.TopKPerGroup) -----
    "q_topk_group" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.plans.TopK.topKPerGroup(li, Seq("l_partkey"),
        Seq(li.col("l_extendedprice").desc, li.col("l_orderkey"),
          li.col("l_linenumber")), 2)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("rn"))
    }),

    // ----- TPC-H Q4-style: order priority with a conditioned EXISTS -----
    "q4_order_priority" -> ((s, dir) => {
      val late = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-04-01")
        .join(late, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // ----- TPC-H Q14-style: promo revenue share (conditional ratio) -----
    "q14_promo_share" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01")
        .agg(
          expr("CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)")
            .as("promo_rev"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("total_rev"))
        .selectExpr("promo_rev", "total_rev",
          "100 * promo_rev / total_rev AS promo_pct")),

    // ----- TPC-H Q19-style: disjunctive multi-attribute predicates -----
    "q19_disjunctive" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 30)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)))
        .agg(expr(
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))),

    // ----- TPC-H Q8-style: nation market share within a region, by
    // year. Two exact decimal sums then ONE division — engine-identical
    // doubles. Dims broadcast; the fact table shuffles once per agg -----
    "q8_market_share" -> ((s, dir) => {
      val cn = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("n_nationkey").as("c_natkey")))
      val sn = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_natkey"),
          col("n_name").as("supp_nation")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("c_natkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("s_natkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          expr("CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN " +
            "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
            "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)").as("nation_rev"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("total_rev"))
        .withColumn("mkt_share", expr("nation_rev / total_rev"))
    }),

    // ----- TPC-H Q9-style: profit by supplier nation and year (no
    // partsupp table in the corpus — cost is retailprice x quantity) -----
    "q9_profit" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2))) - " +
          "CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) " +
          "AS DOUBLE)").as("profit"))),

    // ----- TPC-H Q11-style (no partsupp table: supplied VALUE is
    // emulated as sum(qty*price) per (nation, part)): parts whose
    // stocked value exceeds a fraction of the nation's total — the
    // HAVING-against-a-correlated-scalar shape. The national totals are
    // group-sized → broadcast back; the fraction literal is e0 -----
    "q11_value_share" -> ((s, dir) => {
      // persist barrier (opt guide §5): `value` feeds BOTH the national
      // totals and the final share join — unpersisted, the plan scanned
      // lineitem and ran the (nationkey, partkey) aggregation TWICE
      // (round-11 plan audit: two full agg chains under one join).
      // Decimal sums are exact, so the barrier cannot perturb the hash.
      val value = Dedup.persistTracked(t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("l_partkey"))
        .agg(expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * " +
          "CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,4))")
          .as("val_dec")))
      val national = value.groupBy(col("s_nationkey"))
        .agg(sum(col("val_dec")).as("total_dec"))
      value.join(broadcast(national), Seq("s_nationkey"))
        .filter(col("val_dec").cast("double") >
          col("total_dec").cast("double") * lit(0.002))
        .select(col("s_nationkey"), col("l_partkey"),
          col("val_dec").cast("double").as("part_value"))
    }),

    // ----- TPC-H Q12-style (no shipmode/receiptdate columns: LATE =
    // shipped more than 60 days after the order date): order-priority
    // mix among late vs on-time lines — the CASE-sum-over-join shape -----
    "q12_late_lines" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAYS"))
        .groupBy(col("late"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_priority"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_priority"))),

    // ----- TPC-H Q15-style: THE top revenue supplier(s) — the
    // view + max-subquery shape; ties all surface (rank over the
    // 1-row broadcast max, no arbitrary pick) -----
    "q15_top_revenue" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01"))
        .groupBy(col("l_suppkey"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(28,4))")
          .as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_dec"))
      rev.crossJoin(broadcast(top))
        .filter(col("rev_dec") === col("max_dec"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
    }),

    // ----- TPC-H Q20-style (no partsupp: availability emulated as each
    // supplier's total shipped qty per part): suppliers of RED parts
    // shipping above a volume threshold — the nested-semi-join shape,
    // all reductions before any join -----
    "q20_excess_parts" -> ((s, dir) => {
      val redParts = t(s, dir, "part")
        .filter(col("p_name").startsWith("red "))
        .select(col("p_partkey"))
      val supplied = t(s, dir, "lineitem")
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty_dec"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .filter(col("qty_dec").cast("double") > 40.0)
      supplied
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("qty_dec")).cast("double").as("total_qty"))
    }),

    // ----- TPC-H Q13-style: customer distribution by order count,
    // INCLUDING zero-order customers (the left join is the point) -----
    "q13_custdist" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    // ----- TPC-H Q16-style: distinct supplier count per part group
    // (partsupp stands in as the observed lineitem pairs) -----
    "q16_supplier_cnt" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))),

    // ----- TPC-H Q17-style: revenue from small-quantity outlier lines
    // (below 20% of the part's average quantity). The correlated
    // subquery becomes one partial-aggregable per-part avg + an
    // equi-join back — no window over the fact table -----
    "q17_small_qty" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgQty = li
        .join(broadcast(t(s, dir, "part").filter(col("p_brand") === "Brand#3")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("ap_key"))
        .agg((expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)") /
          count(lit(1))).as("avg_qty"))
      li.join(avgQty, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("total_price"),
          count(lit(1)).as("n_lines"))
    }),

    // ----- TPC-H Q21-style: suppliers who were the ONLY supplier with a
    // returned line in a multi-supplier order (no commit/receipt dates
    // in the corpus — returnflag stands in for lateness). The
    // exists/not-exists pair becomes a semi + anti join -----
    "q21_lonely_return" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val multi = li.groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supps"))
        .filter(col("n_supps") >= 2)
        .select(col("l_orderkey"))
      val ret = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val others = ret.select(col("l_orderkey").as("other_okey"),
        col("l_suppkey").as("other_supp"))
      ret
        .join(multi, "l_orderkey")
        .join(others,
          col("other_okey") === col("l_orderkey") &&
            col("other_supp") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),

    // ----- JSON props on the events table (real semi-structured column) -----
    "q_events_props" -> ((s, dir) =>
      t(s, dir, "events")
        .selectExpr("event_type",
          "CAST(get_json_object(props, '$.k') AS BIGINT) AS k")
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n"))),

    // ----- per-customer gap between first and second order (windows +
    // date arithmetic composed) -----
    "q_order_gap" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
        .filter(col("rn") === 1 && col("next_date").isNotNull)
        .selectExpr("o_custkey",
          "CAST(datediff(next_date, o_orderdate) AS BIGINT) AS gap_days")
    }),

    // ----- triangle count on the near-dup candidate graph (ordered-edge
    // join-chain — the standard distributed formulation) -----
    "q_triangles" -> ((s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_a").as("a"), col("doc_b").as("b")) // a < b
      val ab = cand
      val bc = cand.select(col("a").as("b2"), col("b").as("c"))
      val ac = cand.select(col("a").as("a3"), col("b").as("c3"))
      ab.join(bc, col("b") === col("b2"))
        .join(ac, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // ----- dedup POLICY variant: per near-dup cluster keep the LONGEST
    // doc (ties -> max id) instead of the min id — the usual corpus
    // curation choice when near-dups differ in completeness -----
    "q_dedup_keep_longest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val labels = Dedup.clusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
      val key = "CAST(length(text) AS BIGINT) * 10000000000 + doc_id"
      docs.join(labels, "doc_id")
        .groupBy(col("cluster"))
        .agg(expr(s"max_by(doc_id, $key)").as("keeper"),
          count(lit(1)).as("n_members"),
          max(expr("CAST(length(text) AS BIGINT)")).as("max_len"))
    }),

    // ----- PADDING-WASTE readout: bucket documents by token length
    // (64-token batch granularity) and compute how many pad tokens a
    // batch-by-length training loader would burn per bucket — the
    // measurement behind sequence packing (q_seq_pack is the fix; this
    // quantifies what it saves). One narrow map + one tiny aggregate. -----
    "q_padding_waste" -> ((s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .selectExpr("CAST(size(toks) AS BIGINT) AS n_toks")
        .filter(col("n_toks") > 0)
        .withColumn("bucket", expr("(n_toks - 1) div 64"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("real_tokens"))
        .withColumn("padded_tokens", expr("n_docs * (bucket + 1) * 64"))
        .withColumn("padding_frac",
          expr("1.0e0 - CAST(real_tokens AS DOUBLE) / padded_tokens"))),

    // ----- NORMALIZED exact dedup: case/punctuation/whitespace-
    // insensitive duplicate groups (the cheap fuzzy-exact stage between
    // byte-exact dedup and MinHash — catches reformatted copies that
    // byte fingerprints miss at hash-groupBy cost, no candidate
    // generation). The normalized text never shuffles: only its 64-bit
    // fingerprint does. -----
    "q_dedup_norm" -> ((s, dir) => {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', ' '), ' +', ' '))"
      t(s, dir, "documents")
        .withColumn("nfp", expr(XFormulas.sparkStrHash(norm)))
        .groupBy(col("nfp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .filter(col("n_copies") > 1)
    }),

    // ----- KEEP-BEST dedup policy: within each near-dup cluster keep
    // the HIGHEST-QUALITY member by corpus-LM score (the FineWeb-style
    // survivor rule — keep-longest favors concatenation spam; keep-best
    // favors fluency). Ties break to the higher doc id. Docs too short
    // to score rank at 0. -----
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sc = TextAnalysis.bigramDocScores(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_p"))
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val labels = Dedup.clusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
      docs.select(col("doc_id")).join(labels, "doc_id")
        .join(sc, Seq("doc_id"), "left")
        .withColumn("score", coalesce(col("avg_p"), lit(0.0)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("score").desc, col("doc_id").desc)))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .filter(col("rk") === 1)
        .select(col("cluster"), col("doc_id").as("keeper"),
          col("n_members"), col("score").as("best_p"))
    }),

    // ----- WINNOWING near-dup candidates (Schleimer et al. 2003, the
    // MOSS fingerprinting algorithm): windowed-min k-gram selection
    // (ties rightmost) guarantees shared substrings of >= w+k-1 tokens
    // produce a shared fingerprint at ~2/(w+1) storage; pairs sharing
    // >= 2 surviving fingerprints, viral fingerprints capped. -----
    "q_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowingCandidates(t(s, dir, "documents"), "doc_id", "text")),

    // ----- segment-level dedup with REASSEMBLY: drop every 10-token
    // segment already seen earlier in the corpus (by (doc_id, pos)
    // order), emit the cleaned text — the CCNet/C4-style content
    // cleaner that catches cross-doc boilerplate AND in-doc repetition -----
    "q_segment_dedup" -> ((s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text")),

    // ----- boilerplate EXCISION: a 10-token segment present in >= 3
    // DISTINCT docs is corpus boilerplate and every occurrence is
    // removed (RefinedWeb's repeated-paragraph rule; segmentDedup above
    // keeps first occurrences — boilerplate deserves none) -----
    "q_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateExcise(t(s, dir, "documents"), "doc_id", "text")),

    // ----- the STREAMING boilerplate gate inside the hash gate: three
    // micro-batches (doc_id % 3), each doc excised against the corpus
    // UP TO AND INCLUDING its own batch — the prefix-fold semantics.
    // The oracle replays the fold in SQL: per-(hash, batch) distinct-doc
    // counts, summed cumulatively over batches, each doc judged at its
    // own batch's cumulative support. A gate that judged against the
    // full corpus (retroactive), or against only the prior prefix
    // (exclusive), hash-mismatches every sweep. compactEvery=2 folds
    // tiered runs inside the fixture -----
    "q_boilerplate_gate" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = t(s, dir, "documents")
      val paths = Seq("freq", "out").map(p => s"/tmp/graft_bpg_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.BoilerplateGate.sink(paths(0), paths(1),
        "doc_id", "text", chunkTokens = 10, minDocs = 3, nBuckets = 8,
        compactEvery = 2)
      (0 until 3).foreach(b =>
        snk(docs.filter(col("doc_id") % 3 === b), b.toLong))
      graft.sources.VersionedTable.read(s, paths(1))
    }),
    // ----- the same gate with a TAKEDOWN mid-stream, composing BOTH
    // forget mechanisms: BoilerplateGate.forget retracts the forgotten
    // docs' segment support from the frequency CRDT (doc-level negative
    // delta), and VersionedTable.deleteWhere physically removes their
    // already-emitted rows from the output (the versioned targeted
    // delete). Batch 2 is then judged against the decremented support.
    // The oracle: all docs minus the forgotten (batch ≤ 1, doc_id % 5
    // = 0) rows; batch-0/1 docs judged at the normal cumulative
    // support (they were emitted pre-forget); batch-2 docs at the
    // cumulative support MINUS the forgotten docs' contributions -----
    "q_boilerplate_forget" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = t(s, dir, "documents")
      val paths = Seq("freq", "out").map(p => s"/tmp/graft_bpf_${p}_$suffix")
      paths.foreach(p => freshFixtureDir(p))
      val snk = graft.streaming.BoilerplateGate.sink(paths(0), paths(1),
        "doc_id", "text", chunkTokens = 10, minDocs = 3, nBuckets = 8,
        compactEvery = 2)
      snk(docs.filter(col("doc_id") % 3 === 0), 0L)
      snk(docs.filter(col("doc_id") % 3 === 1), 1L)
      val fgt = docs.filter(col("doc_id") % 5 === 0 &&
        col("doc_id") % 3 < 2)
      graft.streaming.BoilerplateGate.forget(s, paths(0), fgt,
        "doc_id", "text", chunkTokens = 10, forgetId = 0L)
      graft.sources.VersionedTable.deleteWhere(s, paths(1),
        col("doc_id") % 5 === 0)
      snk(docs.filter(col("doc_id") % 3 === 2), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    }),

    // ----- corpus-level boilerplate report off the same rule: how many
    // distinct segments are boilerplate, and what fraction of all
    // segment occurrences they absorb -----
    "q_boilerplate_stats" -> ((s, dir) =>
      Dedup.boilerplateExcise(t(s, dir, "documents"), "doc_id", "text")
        .agg(
          sum(col("n_boiler")).as("n_boiler_occ"),
          sum(col("n_kept") + col("n_boiler")).as("n_segments"),
          (sum(col("n_boiler")).cast("double") /
            sum(col("n_kept") + col("n_boiler"))).as("boiler_frac"))),

    // ----- GLOBAL rank family through PLAIN SQL text: no ParallelRank
    // call anywhere — the GlobalWindowRule optimizer rewrite plans these
    // `OVER (ORDER BY …)` windows as the two-phase range-partitioned
    // shape (PlanHygieneSpec proves no single-partition window stage
    // survives), and the DuckDB oracle runs the IDENTICAL SQL -----
    "q_sql_global_rank" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gwr")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS rn,
          |  CAST(rank() OVER (ORDER BY o_orderpriority) AS BIGINT) AS rk,
          |  CAST(dense_rank() OVER (ORDER BY o_orderpriority)
          |    AS BIGINT) AS dr,
          |  CAST(ntile(7) OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS nt,
          |  percent_rank() OVER (ORDER BY o_orderpriority) AS pr
          |FROM orders_gwr""".stripMargin)
    }),

    // ----- CONTENT-DEFINED chunk dedup: segment boundaries placed by a
    // rolling hash (divisible-by-8 rule over 3-token windows), so an
    // inserted token re-chunks only the segment it touches — the
    // insertion-robust alternative to fixed 10-token chunking. Output:
    // every CDC segment shared by >= 2 distinct docs -----
    "q_cdc_segments" -> ((s, dir) =>
      Dedup.cdcSegments(t(s, dir, "documents"), "doc_id", "text")
        .select(GraftFunctions.polyHash(col("seg_text")).as("seg_hash"),
          col("doc_id"), col("seg_tokens"))
        .groupBy(col("seg_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("seg_tokens")).as("seg_tokens"))
        .filter(col("n_docs") >= 2)),

    // ----- GLOBAL running aggregates + cume_dist through PLAIN SQL: the
    // GlobalWindowRule rewrite extends past ranks — sum/count/max with
    // the SQL default RANGE frame and cume_dist replan as the two-phase
    // shape (typed decimal prefix fold; peers included so ties are
    // deterministic). Revenue sums ride DECIMAL for exact association;
    // the DuckDB oracle runs the IDENTICAL SQL -----
    "q_sql_running" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gwr2")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS run_rev,
          |  count(*) OVER (ORDER BY o_orderdate, o_orderkey) AS run_n,
          |  max(o_totalprice)
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS run_max,
          |  cume_dist() OVER (ORDER BY o_orderpriority) AS cd
          |FROM orders_gwr2""".stripMargin)
    }),

    // ----- "share of total" through PLAIN SQL `OVER ()`: the third
    // single-partition window shape users write. GlobalWindowRule plans
    // it as a 1-row scalar aggregation broadcast-crossed back — the
    // optimized plan contains NO Window operator at all -----
    "q_sql_share" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gwr3")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(o_totalprice AS DOUBLE) /
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER ()
          |      AS DOUBLE) AS price_share,
          |  count(*) OVER () AS n_total,
          |  max(o_totalprice) OVER () AS max_price
          |FROM orders_gwr3""".stripMargin)
    }),

    // ----- near-dup clusters: bounded min-label propagation over the
    // LSH candidate pairs (rows-only check: iterative, not one SQL) -----
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      Dedup.clusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
    }),

    // ----- same clusters via ALTERNATING STAR CONTRACTION: O(log n)
    // rounds regardless of component diameter (label prop tracks the
    // diameter). The oracle is TRUE connected components (recursive
    // closure), which star contraction reaches by construction -----
    "q_dedup_clusters_star" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      Dedup.clustersStar(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
    }),

    // ----- EWMA (exponential smoothing) over the trailing 10 events per
    // user: weights are powers of 1/2 — EXACT in binary, so the fixed
    // left-to-right fold is bit-identical across engines (an arbitrary
    // alpha would be, too, but halving makes the exactness obvious).
    // collect_list over a window frame is ordered BY the frame, giving
    // both engines the same weight-to-value pairing -----
    // ----- TOKEN-BUDGET TRIM: per source, keep the HIGHEST-QUALITY
    // docs until a 20k-token budget fills (greedy by the exact quality
    // score, doc-id tie-break; a doc is kept iff the running total
    // THROUGH it fits) — "fill the budget with the best tokens", the
    // selection step after q_mix_plan decides each source's budget.
    // Per-source windows parallelize; payloads never move, only
    // (id, ntok, quality). -----
    "q_budget_trim" -> ((s, dir) => {
      val budget = 20000L
      val scored = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("ntok"),
          expr(TextAnalysis.qualityExpr).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("cum", sum(col("ntok")).over(w))
        .withColumn("kept", col("cum") <= budget)
        .groupBy(col("source"))
        .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("ntok")).otherwise(0L)).as("tok_kept"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))
    }),

    // ----- EMBEDDING NORM OUTLIERS: the broken-vector detector (zeroed,
    // truncated, or exploding embeddings corrupt every cosine downstream)
    // — L2 norm per vector as a fixed-order fold quantized to BIGINT,
    // flagged against fixed sanity bounds; the 5 smallest and 5 largest
    // norms surface for inspection. One narrow scan + a top-k. -----
    "q_emb_norms" -> ((s, dir) => {
      val normQ = "CAST(round(sqrt(aggregate(embedding, 0D, " +
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) " +
        "* 1000000000.0D) AS BIGINT)"
      val n = Dedup.persistTracked(t(s, dir, "embeddings")
        .select(col("vec_id"), expr(normQ).as("norm_q")))
      val lo = n.orderBy(col("norm_q"), col("vec_id")).limit(5)
        .withColumn("tail", lit("smallest"))
      val hi = n.orderBy(col("norm_q").desc, col("vec_id")).limit(5)
        .withColumn("tail", lit("largest"))
      lo.union(hi)
        .withColumn("suspicious",
          col("norm_q") < 100000000L || col("norm_q") > 100000000000L)
    }),

    // ----- SHARD BALANCE PLAN: assign docs to 8 fixed shards by
    // sorted-round-robin (heaviest first, shard = (rank−1) mod 8 — the
    // classic LPT-style greedy a deterministic assignment allows) and
    // read out per-shard bytes plus the imbalance ratio vs perfect —
    // the "will one worker finish last" sizing readout before a fixed
    // fan-out export/training job. The global rank over (size, id) is
    // the two-phase range-partitioned rank (plans.ParallelRank) — the
    // same shape a production shard writer uses at scale. -----
    "q_shard_plan" -> ((s, dir) => {
      val sharded = graft.plans.ParallelRank.rowNumber(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "rank", 32, col("n_chars").desc, col("doc_id"))
        .withColumn("shard", expr("(rank - 1) % 8"))
      val per = sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val tot = per.agg(sum(col("bytes")).as("tb"))
      per.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("bytes"),
          expr("CAST(8 * bytes AS DOUBLE) / tb").as("load_vs_perfect"))
    }),

    // ----- USER LIFETIME / ENGAGEMENT: per user, first/last activity,
    // span, distinct ACTIVE DAYS, and events-per-active-day — the
    // engagement segmentation behind retention targeting (all integer
    // day buckets; one narrow scan + one aggregate). Top-100 heaviest
    // users by events with a deterministic tie-break. -----
    "q_user_lifetime" -> ((s, dir) =>
      // floor each ts to MICROS first (t_us = ts div 1000), then bucket
      // and difference in micros — the oracle's epoch_us(ts) values are
      // per-value-floored micros, and difference-of-floors != floor-of-
      // difference on a nanos-typed events variant
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("t_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(expr("t_us div 86400000000")).as("active_days"),
          min(col("t_us")).as("first_us"), max(col("t_us")).as("last_us"))
        .select(col("user_id"), col("n_events"), col("active_days"),
          expr("(last_us - first_us) div 86400000000").as("span_days"),
          expr("CAST(n_events AS DOUBLE) / active_days").as("events_per_day"))
        .orderBy(col("n_events").desc, col("user_id")).limit(100)),

    // ----- INTER-ARRIVAL BURSTINESS per event type: mean/std of the
    // gaps between consecutive events and the burstiness index
    // B = (σ−μ)/(σ+μ) (Goh & Barabási) — B→−1 periodic, 0 Poisson,
    // →1 bursty; the traffic-shape readout behind rate-limit and
    // capacity sizing. Gaps in whole seconds keep Σx² inside BIGINT;
    // the variance numerator then multiplies as DOUBLE — identical IEEE
    // ops on identical operands on both sides, with no BIGINT-overflow
    // cliff — and σ rides the one correctly-rounded function (sqrt).
    // One lag window per type (parallel across types), one tiny
    // aggregate. -----
    "q_interarrival" -> ((s, dir) => {
      // floor each ts to MICROS before lagging/differencing (the
      // q_time_to_convert convention): the oracle differences
      // per-value-floored epoch_us values, and difference-of-floors !=
      // floor-of-difference on a nanos-typed events variant. The
      // variance numerator multiplies as DOUBLE on both sides — the
      // BIGINT product n_gaps*sxx can pass 2^63 under one dominant
      // multi-week gap, and the engines' overflow behaviors differ.
      t(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000").as("t_us"),
          col("event_id"))
        .withColumn("gap_s",
          expr("(t_us - lag(t_us) OVER (PARTITION BY event_type " +
            "ORDER BY t_us, event_id)) div 1000000"))
        .filter(col("gap_s").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sx"),
          sum(col("gap_s") * col("gap_s")).as("sxx"))
        // greatest(…, 0): past 2^53 the two products round independently
        // and near-constant gaps can make the difference land a few ulps
        // NEGATIVE — Spark's sqrt would return NaN but DuckDB RAISES on
        // a negative sqrt, so both sides clamp before the root
        .select(col("event_type"), col("n_gaps"),
          expr("CAST(sx AS DOUBLE) / n_gaps").as("mean_gap_s"),
          expr("sqrt(greatest(CAST(n_gaps AS DOUBLE) * CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0)) / n_gaps")
            .as("std_gap_s"))
        // nullif: all-sub-second gaps floor to 0 → 0/0 is IEEE NaN in
        // Spark but NULL in DuckDB; both sides go NULL
        .withColumn("burstiness", expr(
          "(std_gap_s - mean_gap_s) / nullif(std_gap_s + mean_gap_s, 0.0D)"))
    }),

    // ----- LAST-DIGIT UNIFORMITY audit — the synthetic/fabricated-data
    // complement to q_benford (first digits follow Benford; LAST digits
    // of organic amounts are near-uniform, and humans inventing numbers
    // break both): chi² of the price-cents last digit vs uniform,
    // scaled to exact integers — Σ(10·obs − n)² is BIGINT-exact, ONE
    // division by 10n at the end. One narrow scan + a 10-group
    // aggregate + a 1-row rollup. -----
    "q_last_digit" -> ((s, dir) => {
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
    }),

    // ----- WEEKLY SEASONALITY PROFILE: per (event_type, day-of-week)
    // exact mean value vs the event type's overall mean — the
    // seasonal-baseline readout that tells an anomaly detector which
    // deviations are just "it's Sunday". Decimal-exact sums; the ratio
    // is ONE division of identical operands per cell, and the flag
    // thresholds are exact comparisons on it. One narrow scan, one
    // cell-grid aggregate, grid-sized rollup after. -----
    "q_seasonal_dow" -> ((s, dir) => {
      // ts is epoch-nanos BIGINT (Tables.normalizeEventTs); session tz is
      // UTC, so the micros→timestamp dow equals DuckDB's naive-timestamp
      // dow exactly (Spark Sunday=1, DuckDB Sunday=0 — hence the -1)
      val cells = Dedup.persistTracked(t(s, dir, "events")
        .select(col("event_type"),
          expr("dayofweek(timestamp_micros(ts div 1000)) - 1").as("dow"),
          col("value"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv")))
      val overall = cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_all"), sum(col("sv")).as("sv_all"))
      cells.join(overall, Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          (col("sv").cast("double") / col("n")).as("mean_v"),
          ((col("sv").cast("double") / col("n")) /
            (col("sv_all").cast("double") / col("n_all"))).as("ratio"))
        .withColumn("seasonal", col("ratio") > 1.2 || col("ratio") < 0.8)
    }),

    "q_ewma" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          collect_list(col("value")).over(w).as("vs"))
        .selectExpr("event_id", "user_id", "value",
          // newest element is LAST in the frame: weight (1/2)^(n-1-i),
          // built from integer SHIFTS — bit-exact on both engines, where
          // pow() is implementation-defined
          "aggregate(zip_with(vs, sequence(0L, size(vs) - 1L), " +
            "(v, i) -> v / CAST(shiftleft(1L, CAST(size(vs) - 1 - i AS INT)) AS DOUBLE)), " +
            "0D, (acc, x) -> acc + x) AS ewma_num",
          "aggregate(sequence(0L, size(vs) - 1L), 0D, " +
            "(acc, i) -> acc + 1D / CAST(shiftleft(1L, CAST(i AS INT)) AS DOUBLE)) AS ewma_den")
        .withColumn("ewma", expr("ewma_num / ewma_den"))
        .select("event_id", "user_id", "value", "ewma")
    }),

    // ----- null imputation with group means: missing values (every 7th
    // event, synthesized deterministically) are replaced by the exact
    // decimal-mean of their group — the standard feature-cleaning op;
    // group means ride a broadcast join -----
    "q_impute" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("v", expr("IF(event_id % 7 = 0, NULL, value)"))
      val means = ev.groupBy(col("event_type").as("g"))
        .agg((sum(dec(col("v"))).cast("double") / count(col("v")))
          .as("grp_mean"))
      ev.join(broadcast(means), col("event_type") === col("g"))
        .select(col("event_id"), col("event_type"),
          coalesce(col("v"), col("grp_mean")).as("v_imputed"),
          col("v").isNull.as("was_missing"))
    }),

    // ----- winsorization: clip to per-group [p05, p95] (the outlier
    // TREATMENT to the detection queries above); group percentiles ride
    // a broadcast join back onto the unshuffled stream -----
    "q_winsorize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pct = ev.groupBy(col("event_type").as("g"))
        .agg(expr("percentile(value, 0.05D)").as("p05"),
          expr("percentile(value, 0.95D)").as("p95"))
      ev.join(broadcast(pct), col("event_type") === col("g"))
        .select(col("event_id"), col("event_type"), col("value"),
          expr("least(greatest(value, p05), p95)").as("clipped"))
    }),

    // ----- corpus DATA CARD: per-source report composing token stats,
    // quality (floor-quantized to exact ints — double sums are
    // order-dependent), exact-dup volume, and quality-pass rate. The
    // one-look summary a dataset release ships with -----
    "q_corpus_report" -> ((s, dir) => {
      // ONE text pass computes token count + quality + fingerprint per
      // doc (was: three scans and a per-doc join); persisted because two
      // aggregations (per-source rollup, dup-count) consume it
      val perDoc = graft.operators.Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .withColumn("fp",
            graft.functions.GraftFunctions.polyHash(col("text")))
          .selectExpr("doc_id", "source", "fp",
            "CAST(size(toks) AS BIGINT) AS n_toks",
            s"${TextAnalysis.qualityExpr} AS quality"))
      val dup = perDoc
        .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("c"))
        .groupBy(col("source").as("s2"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L))
          .as("n_dup_docs"))
      perDoc
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          sum(expr("CAST(floor(quality * 1e6) AS BIGINT)")).as("qsum"),
          sum(when(col("quality") >= 0.5, 1L).otherwise(0L))
            .as("n_quality_pass"))
        .join(dup, col("source") === col("s2"))
        .selectExpr("source", "n_docs", "total_tokens",
          "CAST(total_tokens AS DOUBLE) / n_docs AS avg_tokens",
          "(CAST(qsum AS DOUBLE) / n_docs) / 1e6 AS avg_quality",
          "n_quality_pass", "n_dup_docs")
    }),

    // ----- quality-weighted UPSAMPLING (repeat-factor data mixing):
    // high-quality docs are emitted twice, mid once, low dropped — the
    // standard mixture-reweighting op; a narrow explode of a tiny
    // sequence, no shuffle -----
    "q_upsample" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("rep", expr(
          "CASE WHEN quality >= 0.64 THEN 2L WHEN quality >= 0.5 THEN 1L ELSE 0L END"))
        .filter(col("rep") > 0)
        .selectExpr("doc_id", "quality",
          "explode(sequence(1L, rep)) AS copy_id")),

    // ----- context-window CHUNKING: overlapping token windows (size 16,
    // stride 8) per document — the standard pre-training chunk op.
    // Narrow explode, no shuffle; chunk math is exact small-int double
    // division identical on both engines -----
    "q_doc_chunks" -> ((s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .filter(expr("size(toks) > 0"))
        .selectExpr("doc_id", "toks",
          "explode(sequence(0L, CAST(greatest(ceil((size(toks) - 16) / 8.0D), 0D) AS BIGINT))) AS chunk_id")
        .selectExpr("doc_id", "chunk_id",
          "concat_ws(' ', slice(toks, CAST(chunk_id * 8 + 1 AS INT), 16)) AS chunk_text",
          "CAST(size(slice(toks, CAST(chunk_id * 8 + 1 AS INT), 16)) AS BIGINT) AS n_chunk_toks")),

    // ----- sequence PACKING: concatenate docs in deterministic order and
    // split at 256-token boundaries (the pack-to-context-window op) — a
    // running-sum window assigns each doc its bin; one shuffle per source -----
    "q_seq_pack" -> ((s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .selectExpr("doc_id", "source", "CAST(size(toks) AS BIGINT) AS n_toks")
        .withColumn("cum", sum(col("n_toks")).over(w))
        .withColumn("bin", expr("(cum - n_toks) div 256"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    }),

    // ----- deterministic TRAINING SHARDS: the write-side of a training
    // pipeline — shard by a salted content-key hash, order within the
    // shard by an independent hash (a reproducible global shuffle with
    // no global sort). At 100 TB this is repartition-by-shard +
    // sortWithinPartitions: one stateless hash exchange; the window here
    // ranks within already-shuffled shards, never globally -----
    "q_train_shard" -> ((s, dir) => {
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
    }),
    // ----- DETERMINISTIC GLOBAL TRAINING ORDER: hash-striped within
    // source, mixture-weighted stride scheduling across sources (any
    // prefix holds each source ~ w/sum(w)), global position via
    // ParallelRank (one range exchange, never a global window), shard =
    // round-robin stripe of the order — the reproducible data-loader
    // order file that pairs with q_train_shard / q_mix_plan -----
    "q_train_order" -> ((s, dir) =>
      Sampling.trainOrder(t(s, dir, "documents"), "doc_id", "source",
        mixtureWeights, nShards = 8)),

    // ----- TEMPERATURE source mixing (alpha = 0.5): per-source sampling
    // weight proportional to sqrt(token mass), reported relative to the
    // largest source — sqrt and one division are both correctly-rounded
    // IEEE ops, so the doubles are engine-identical (no order-dependent
    // float sum anywhere) -----
    "q_source_mix" -> ((s, dir) => {
      val per = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("n_tokens"))
      per.crossJoin(broadcast(per.agg(max(col("n_tokens")).as("max_tokens"))))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (sqrt(col("n_tokens")) / sqrt(col("max_tokens"))).as("rel_weight"))
    }),

    // ----- max concurrent intervals (sweep line): each 5-minute event
    // interval contributes +1/-1 boundary points; a running sum ordered
    // by (time, delta) — ends BEFORE starts at the same instant, matching
    // half-open [s, e) intervals — peaks at the answer. One shuffle, no
    // interval self-join (the naive overlap join is quadratic) -----
    "q_max_concurrent" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_type", "ts div 1000 AS t_us")
      val pts = ev.selectExpr("event_type", "t_us AS t", "1L AS delta")
        .unionAll(ev.selectExpr("event_type",
          "t_us + 300000000 AS t", "-1L AS delta"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("t"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("running", sum(col("delta")).over(w))
        .groupBy(col("event_type"))
        .agg(max(col("running")).as("max_concurrent"),
          count(lit(1)).as("n_points"))
    }),

    // ----- heavy hitters via a Misra-Gries SKETCH (bounded memory,
    // mergeable partials): counts are stream-order lower bounds, but
    // CONTAINMENT of any item with freq > n/(k+1) is guaranteed — so the
    // oracle checks exact top-5 membership in the sketch, the same
    // deterministic-flag pattern as the approx aggregates -----
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("w"))
      val sketch = toks.agg(
        graft.functions.SigAgg.misraGries(64)(col("w")).as("mg"))
      val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(5)
      exact.crossJoin(broadcast(sketch))
        .select(col("w"), col("cnt"),
          expr("map_contains_key(mg, w)").as("in_sketch"))
    }),

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
    "q_cmsketch" -> ((s, dir) => {
      val p = XFormulas.P
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("w"))
        .select(expr(XFormulas.sparkStrHash("w")).as("h"))
        .select(col("h"), explode(sequence(lit(0L), lit(3L))).as("r"))
        .select(col("r"), expr(
          s"((((1103515245 * r + 12345) % $p) * h + " +
            s"((1299709 * r + 7919) % $p)) % $p) % 64").as("c"))
        .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
    }),

    // ----- count-min POINT ESTIMATES for the exact top-5 tokens:
    // est(w) = min over rows of matrix[r][h_r(w)] — always >= the true
    // count (collisions only add), the one-sided error the sketch
    // guarantees. Token stream persisted: it feeds the matrix AND the
    // exact counts. -----
    "q_cm_estimate" -> ((s, dir) => {
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
    }),

    // ----- JOHNSON-LINDENSTRAUSS sparse-sign projection: compress the
    // 64-dim embedding to 16 dims with a ±1 matrix drawn from the fixed
    // polyHash family — quantized integer arithmetic end to end, so the
    // projection is engine-exact (the rare JL construction an exact
    // oracle can check). A pure narrow map: no shuffle, no state, and
    // at 100 TB it runs inside the scan stage. The learned-basis
    // alternative is pcaProject; this one needs no training pass. -----
    "q_jl_projection" -> ((s, dir) => {
      val p = XFormulas.P
      t(s, dir, "embeddings")
        .select(col("vec_id"), expr(
          "transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) * 10000.0D) AS BIGINT))").as("q"))
        .select(col("vec_id"), col("q"),
          explode(sequence(lit(0L), lit(15L))).as("j"))
        .select(col("vec_id"), col("j"), expr(
          s"aggregate(sequence(0L, 63L), 0L, (acc, i) -> " +
            s"acc + element_at(q, CAST(i + 1 AS INT)) * " +
            s"IF(((1103515245 * (j * 64 + i) + 12345) % $p) % 2 = 0, " +
            "1L, -1L))").as("y"))
    }),

    // ----- join-key skew report: the diagnostic you run BEFORE picking a
    // join strategy — per-key count distribution (exact percentiles +
    // max) and the heavy-hitter keys, from one aggregation over the
    // fact table -----
    "q_skew_report" -> ((s, dir) => {
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
    }),

    // ----- rolling z-score anomaly detection: trailing-20 mean/std per
    // user from EXACT decimal window sums (the streaming-analytics shape
    // of q_outliers; one window pass, state bounded by the frame) -----
    "q_rolling_z" -> ((s, dir) => {
      // order by MICROS, not the raw nanos long: DuckDB truncates its
      // timestamps to micros, so a nanos ordering could break frame ties
      // differently across engines
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(-19, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          (sum(dec(col("value"))).over(w).cast("double") /
            count(lit(1)).over(w)).as("mean20"),
          (sum(expr("CAST(value * value AS DECIMAL(28,4))")).over(w)
            .cast("double") / count(lit(1)).over(w)).as("meansq20"))
        .withColumn("std20",
          expr("sqrt(greatest(meansq20 - mean20 * mean20, 0D))"))
        .withColumn("z",
          expr("(value - mean20) / nullif(std20, 0)"))
        .select("event_id", "user_id", "value", "mean20", "z")
    }),

    // ----- feature scaling for ML prep: per-group min-max normalization
    // and rank normalization (percent_rank) in ONE window pass — all
    // three window functions share the event_type partitioning, so this
    // is a single shuffle -----
    "q_feature_scale" -> ((s, dir) => {
      val byType = Window.partitionBy(col("event_type"))
      t(s, dir, "events")
        .withColumn("vmin", min(col("value")).over(byType))
        .withColumn("vmax", max(col("value")).over(byType))
        .withColumn("minmax",
          expr("(value - vmin) / nullif(vmax - vmin, 0)"))
        .withColumn("pr", percent_rank().over(
          byType.orderBy(col("value"))))
        .select(col("event_id"), col("event_type"), col("value"),
          col("minmax"), col("pr"))
    }),

    // ----- LSH self-evaluation: measure the banding scheme's candidate
    // quality against the EXACT prefix-filter join (which is provably
    // complete) — TP/FP/FN and precision/recall as data, not folklore.
    // "Measure, don't guess" applied to the engine's own recall story -----
    "q_lsh_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val thr = 0.3
      val pred = Dedup.minhashCandidates(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= thr)
        .select(col("doc_a").as("pa"), col("doc_b").as("pb"))
      val truth = Dedup.prefixJaccardPairs(docs, "doc_id", "text", thr)
        .select(col("id_a").as("ta"), col("id_b").as("tb"))
      val joined = pred.join(truth,
        col("pa") === col("ta") && col("pb") === col("tb"), "full")
      joined.agg(
        sum(when(col("pa").isNotNull && col("ta").isNotNull, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("ta").isNull, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pa").isNull, 1L).otherwise(0L)).as("fn"))
        .withColumn("prec",
          expr("CAST(tp AS DOUBLE) / nullif(tp + fp, 0)"))
        .withColumn("rec",
          expr("CAST(tp AS DOUBLE) / nullif(tp + fn, 0)"))
    }),

    // ----- chi-square feature selection: token-presence vs source label
    // over a bounded top-50-df vocabulary. All contingency counts and
    // the denominator product stay in exact BIGINT space; the final
    // N*d^2/denom runs on identically-rounded doubles, so results
    // hash-match (margin products exceed 2^53 and would silently lose
    // bits if computed as doubles) -----
    "q_chi2_tokens" -> ((s, dir) => {
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
    }),

    // ----- leakage-safe train/val split: near-dup cluster members are
    // folded TOGETHER (fold keyed on the cluster representative, not the
    // doc), so no near-duplicate pair ever straddles train/val — the
    // split-contamination guard a dedup pipeline exists to provide -----
    "q_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val cl = Dedup.clusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "cid")
      docs.select(col("doc_id"))
        .join(cl, col("doc_id") === col("cid"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("group_key"))
        .selectExpr("doc_id", "group_key",
          s"${XFormulas.sparkStrHash("CAST(group_key AS STRING)")} % 5 AS fold")
    }),

    // ----- per-doc out-of-vocabulary rate against the corpus top-100
    // vocabulary (tiny, broadcast): the fraction of token occurrences a
    // fixed tokenizer vocab would miss -----
    "q_oov_rate" -> ((s, dir) => {
      val docs = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
      val tokens = docs.select(col("doc_id"), explode(col("toks")).as("w"))
      val vocab = tokens.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(100)
        .select(col("w"), lit(1L).as("in_v"))
      tokens.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("in_v"), lit(0L))).as("n_in_vocab"))
        .withColumn("oov_rate",
          expr("CAST(n_tokens - n_in_vocab AS DOUBLE) / n_tokens"))
    }),

    // ----- PII redaction: mask emails/phones/IPs + per-category audit
    // counts over a customer-profile string (streams at scan speed) -----
    "q_pii_redact" -> ((s, dir) =>
      graft.operators.TextAnalysis.redactPii(
        t(s, dir, "customer").select(col("c_custkey"),
          expr("""concat_ws(' ', c_name,
              concat(lower(regexp_replace(c_name, '#', '')), '@example.com'),
              'ph', concat(lpad(CAST(10 + c_nationkey AS STRING), 2, '0'), '-',
                lpad(CAST(c_custkey % 1000 AS STRING), 3, '0'), '-',
                lpad(CAST((c_custkey * 7) % 1000 AS STRING), 3, '0'), '-',
                lpad(CAST((c_custkey * 13) % 10000 AS STRING), 4, '0')),
              'ip', concat(CAST(c_custkey % 256 AS STRING), '.',
                CAST((c_custkey * 3) % 256 AS STRING), '.',
                CAST((c_custkey * 5) % 256 AS STRING), '.',
                CAST((c_custkey * 7) % 256 AS STRING)),
              c_mktsegment)""").as("profile")),
        "c_custkey", "profile")),

    // ----- dataset profile: per-column nulls/distincts/min/max in ONE
    // scan (single agg + stack unpivot; no per-column jobs) -----
    "q_profile" -> ((s, dir) =>
      graft.operators.Profiling.profile(t(s, dir, "orders"), Seq(
        "o_orderkey" -> "num", "o_custkey" -> "num",
        "o_orderstatus" -> "str", "o_totalprice" -> "num",
        "o_orderdate" -> "ts", "o_orderpriority" -> "str"))),

    // ----- record linkage: block on nation, verify by edit distance
    // (block-then-verify cuts the O(n^2) space to within-block pairs) -----
    // symmetric-delete candidate generation (FastSS/SymSpell family):
    // candidates scale with ACTUAL near-matches, not block size; the
    // oracle runs the brute within-block form — results identical
    "q_record_linkage" -> ((s, dir) =>
      graft.operators.Linkage.linkWithinDeletes(t(s, dir, "customer"),
        "c_custkey", "c_name", Seq("c_nationkey"))),

    // ----- GOLDEN RECORD (MDM consolidation): linkage pairs → connected
    // components → one canonical row per entity cluster under explicit
    // survivorship rules (name/id from the MIN member — deterministic
    // because keys are unique; balance = exact decimal MAX; the
    // segment-count column surfaces clusters whose members disagree —
    // the "needs a steward" queue). Same bounded-3-round CC caveat as
    // q_leakage_split (exact for diameter ≤ 3; both engines run the
    // SAME rounds so the oracle matches regardless). Cluster work is
    // pair-table-sized; the customer table joins back ONCE. -----
    "q_golden_record" -> ((s, dir) => {
      val cust = Dedup.persistTracked(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"), col("c_acctbal")))
      val pairs = graft.operators.Linkage.linkWithinDeletes(cust,
        "c_custkey", "c_name", Seq("c_nationkey"))
        .select(col("id_a"), col("id_b"))
      val cl = Dedup.clusters(pairs, "id_a", "id_b")
        .withColumnRenamed("id_a", "c_custkey")
      cust.join(cl, Seq("c_custkey"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          min(col("c_custkey")).as("canonical_id"),
          expr("min_by(c_name, c_custkey)").as("canonical_name"),
          max(dec(col("c_acctbal"))).cast("double").as("max_bal"),
          countDistinct(col("c_mktsegment")).as("n_segments"))
    }),

    // ----- CROSS-TABLE entity resolution: customers vs suppliers whose
    // source-normalized names (prefix stripped) are within one edit,
    // blocked on nation — the merge-two-systems linkage shape -----
    "q_linkage_cross" -> ((s, dir) => {
      val c = t(s, dir, "customer").selectExpr("c_custkey AS id",
        "substring(c_name, 10) AS name", "c_nationkey AS nk")
      val sup = t(s, dir, "supplier").selectExpr("s_suppkey AS id",
        "substring(s_name, 10) AS name", "s_nationkey AS nk")
      graft.operators.Linkage.linkAcrossDeletes(c, sup, "id", "name",
        Seq("nk"))
    }),

    // ----- PageRank over the near-dup candidate graph: bounded
    // fixed-point BIGINT rounds (IEEE double sums are order-dependent
    // and can never hash-match across engines or even reruns; integer
    // sums are exact), undirected edges emitted both ways -----
    "q_pagerank" -> ((s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      // both directions in one pass (see the explode note in Dedup.clusters)
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("doc_a"), col("doc_b").as("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
      Graph.pagerank(edges, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
    }),
    // ----- PERSONALIZED PageRank: teleport mass returns to a SEED set
    // (doc_id % 50 == 0), so rank = proximity to the seeds — the
    // random-walk-with-restart primitive; same exact fixed-point BIGINT
    // arithmetic as q_pagerank, seeds ride as a broadcast flag -----
    "q_pagerank_seed" -> ((s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("doc_a"), col("doc_b").as("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
      val seeds = t(s, dir, "documents")
        .filter(col("doc_id") % 50 === 0).select(col("doc_id"))
      Graph.personalizedPagerank(edges, "doc_a", "doc_b", seeds, "doc_id")
        .withColumnRenamed("id", "doc_id")
    }),
    // ----- LINK PREDICTION on the candidate graph: common-neighbor
    // count + resource-allocation score (fixed-point 1e9 div deg, exact
    // BIGINT sums — order-independent like q_pagerank's arithmetic) for
    // the top not-yet-linked pairs. Wedges enumerate through their
    // CENTER with a hub cap, so one viral node cannot go quadratic -----
    "q_link_predict" -> ((s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      Graph.linkPredict(cand, "doc_a", "doc_b",
        maxHubDegree = 1000L, topK = 20)
    }),

    // ----- multi-source BFS over the same near-dup candidate graph:
    // min hop distance from the seed docs (doc_id % 97 == 0), 4 bounded
    // frontier rounds — "how far does influence of these documents
    // propagate through the duplicate graph" -----
    "q_graph_bfs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("doc_a"), col("doc_b").as("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("src"), col("e.doc_b").as("dst"))
      val seeds = docs.filter(col("doc_id") % 97 === 0)
      Graph.bfsHops(edges, "src", "dst", seeds, "doc_id", maxHops = 4)
        .withColumnRenamed("id", "doc_id")
    }),

    // ----- salted skew join through the correctness gate: its contract
    // is row-identical output to the plain equi join (the oracle runs
    // the plain form) -----
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
      graft.operators.ScaleJoins.saltedJoin(
          li, t(s, dir, "part"), "p_partkey", buckets = 8,
          saltCol = "l_orderkey")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
    }),

    // ----- exact-moment statistics: stddev / correlation from EXACT
    // decimal sums (built-in stddev/corr use order-dependent streaming
    // co-moments that cannot hash-match across engines; decomposing into
    // exact sums makes the doubles bit-identical by construction) -----
    "q_stats_agg" -> ((s, dir) =>
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
            " sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qp")),

    // ----- group-wise OLS regression (slope/intercept/r2) from EXACT
    // decimal moments — built-in regr_* aggregates use order-dependent
    // streaming updates that cannot hash-match across engines; exact
    // sums cast to double make every downstream IEEE op bit-identical -----
    "q_regression" -> ((s, dir) =>
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
        .select("l_linestatus", "n", "slope", "intercept", "r2")),

    // ----- bitwise aggregates -----
    "q_bitwise_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("bit_and(o_orderkey)").as("band"),
          expr("bit_or(o_orderkey)").as("bor"),
          expr("bit_xor(o_orderkey)").as("bxor"),
          count(lit(1)).as("n"))),

    // ----- gaps-and-islands: order streaks (gap <= 60 days) per customer -----
    "q_order_streaks" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull ||
            expr("datediff(o_orderdate, prev) > 60"), 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(wRun))
        .groupBy(col("o_custkey"), col("sid"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("longest"))
    }),

    // ----- funnel analysis: ordered stage progression per user -----
    "q_funnel" -> ((s, dir) =>
      t(s, dir, "events")
        .selectExpr("user_id", "event_type", "ts div 1000 AS t_us")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("t_us"))).as("t_view"),
          min(when(col("event_type") === "click", col("t_us"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("t_us"))).as("t_buy"))
        .selectExpr("user_id",
          """CAST(CASE
               WHEN t_view IS NULL THEN 0
               WHEN t_click IS NULL OR t_click <= t_view THEN 1
               WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
               ELSE 3 END AS BIGINT) AS stage""")
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"))),

    // ----- cohort retention: users active N days after first activity -----
    // ----- cumulative distinct users per day WITHOUT a running
    // count-distinct: each user counts once, on their FIRST day (one
    // distinct pass), then a prefix sum over the tiny per-day table.
    // The naive "COUNT(DISTINCT) OVER (ORDER BY day)" re-scans every
    // prefix; this is the single-pass shape that survives at scale -----
    "q_running_distinct" -> ((s, dir) => {
      val firstDay = t(s, dir, "events")
        .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
        .groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      graft.plans.ParallelRank.runningSum(firstDay, "cum_users",
        col("new_users"), 8, col("day"))
    }),

    // ----- trailing 7-day active users per day (DAU->WAU rollup): each
    // distinct (user, day) row is EXPLODED into the 7 window days it
    // contributes to, so the rollup is a plain equi-keyed distinct-count
    // — never a range join (a spine BETWEEN join degrades to a nested
    // loop: O(rows x days) at 100 TB). The inner join with the DAU side
    // restricts output to observed days, matching the spine semantics -----
    "q_dau_wau" -> ((s, dir) => {
      // persist barrier: userDays feeds both the WAU explode and the
      // DAU rollup (two distinct-count consumers of one distinct scan)
      val userDays = graft.operators.Dedup.persistTracked(
        t(s, dir, "events")
          .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
          .distinct())
      val wau = userDays
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + lit(6L))).as("d"))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("wau"))
      userDays.groupBy(col("day").as("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
        .join(wau, Seq("d"))
        .select(col("d").as("day"), col("dau"), col("wau"))
    }),

    // ----- market-basket affinity: brand pairs co-bought within an
    // order, with exact rational lift (same log-free discipline as
    // q_word_cooccur) -----
    "q_basket_lift" -> ((s, dir) => {
      // ONE corpus-scale shuffle: collect each order's distinct brand
      // set (per-order fan-out bounded by |brands| = 25), then a SINGLE
      // explode emits both the co-bought pairs (from the sorted set, so
      // b1 < b2 by construction) and a ('', brand) sentinel per member,
      // so pair counts AND per-brand counts come out of one groupBy.
      // The corpus-scale frame has exactly one consumer — nothing big
      // is cached or recomputed (the r3 shape re-ran the distinct
      // subtree 4x); only the vocab²-sized count table persists for its
      // two readers. A/B-measured vs okey-self-join + persist (1.3x
      // slower) and a bit_or bitmask variant (1.6x slower — the extra
      // brand-index join costs more than long-typed shuffle rows save).
      val sets = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      val counts = graft.operators.Dedup.persistTracked(sets
        .select(explode(expr(
          "flatten(transform(bs, (x, i) -> concat(" +
            "array(struct(x AS b1, '' AS b2)), " +
            "transform(slice(bs, i + 2, size(bs)), " +
            "y -> struct(x AS b1, y AS b2)))))")).as("p"))
        .select(col("p.b1"), col("p.b2"))
        .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("n_ab")))
      val pairs = counts.filter(col("b2") =!= "")
      val bc = counts.filter(col("b2") === "")
        .select(col("b1").as("brand"), col("n_ab").as("n_b"))
      val no = t(s, dir, "orders").agg(count(lit(1)).as("n_orders"))
      pairs
        .join(broadcast(bc.select(col("brand").as("b1"),
          col("n_b").as("n_1"))), "b1")
        .join(broadcast(bc.select(col("brand").as("b2"),
          col("n_b").as("n_2"))), "b2")
        .crossJoin(broadcast(no))
        .filter(col("n_ab") >= 50)
        .select(col("b1"), col("b2"), col("n_ab"),
          expr("CAST(n_ab * n_orders AS DOUBLE) / CAST(n_1 * n_2 AS DOUBLE)")
            .as("lift"))
    }),

    // ----- seasonal baseline: hour-of-day mean per event type, with the
    // exact rational ratio to the type's overall mean (two exact decimal
    // means -> one division each; log/pow-free) -----
    "q_seasonality" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_type", "value",
          "((ts div 1000) div 3600000000) % 24 AS hod")
      ev.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sum_dec"))
        // the cross-group rollups stay DECIMAL so the window sums are
        // exact and order-independent; doubles appear only at the final
        // single divisions
        .withColumn("type_sum", sum(col("sum_dec")).over(
          Window.partitionBy(col("event_type"))))
        .withColumn("type_n", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("hod"), col("n"),
          expr("CAST(sum_dec AS DOUBLE) / n").as("hod_mean"),
          expr("(CAST(sum_dec AS DOUBLE) / n) / " +
            "(CAST(type_sum AS DOUBLE) / type_n)").as("season_ratio"))
    }),

    // ----- near-dup candidate graph DEGREE DISTRIBUTION: how connected
    // is the dup graph (mega-cluster early warning) — one narrow explode
    // + two aggregations, no self-join -----
    "q_degree_dist" -> ((s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      cand.select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    }),

    "q_cohort_retention" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
        .distinct()
      val cohorts = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort"))
      days.join(cohorts, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("age_days"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),

    // ----- value histogram (arithmetic bucketing; DuckDB 1.0 has no
    // width_bucket) with exact decimal stats per bucket -----
    "q_histogram" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("bucket", expr("CAST(floor(l_quantity / 5) AS BIGINT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))),

    // ----- cryptographic content hashes (content-addressing for corpus
    // snapshots; both engines emit lowercase hex) -----
    "q_crypto_hash" -> ((s, dir) =>
      t(s, dir, "documents").selectExpr("doc_id",
        "md5(encode(text, 'UTF-8')) AS md5_hex",
        "sha2(text, 256) AS sha256_hex")),

    // ----- token counting: whitespace vs BPE-ish subword regex -----
    // (the regex mimics a byte-pair-style pre-tokenizer: letter runs,
    // digit runs, or single punctuation marks)
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents").selectExpr("doc_id",
        s"CAST(size(${XFormulas.sparkTokens("text")}) AS BIGINT) AS ws_tokens",
        "CAST(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS bpe_tokens")),

    // ----- null-safe equality and null-generating expressions -----
    "q_null_semantics" -> ((s, dir) =>
      t(s, dir, "lineitem").selectExpr("l_orderkey", "l_linenumber",
        "nullif(l_returnflag, 'N') AS nflag",
        "l_returnflag <=> nullif(l_returnflag, 'N') AS nsafe_eq",
        "nullif(l_returnflag, 'N') IS NULL AS was_n")),

    // ----- GROUPING(): rollup-null vs data-null disambiguation -----
    "q_grouping_fn" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g"),
          count(lit(1)).as("n"))),

    // ----- date arithmetic: trunc, add_months, datediff, ISO weekday -----
    "q_date_arith" -> ((s, dir) =>
      t(s, dir, "orders").selectExpr("o_orderkey",
        "date_format(date_trunc('month', o_orderdate), 'yyyy-MM-dd') AS mo",
        "date_format(add_months(o_orderdate, 3), 'yyyy-MM-dd') AS plus3",
        "CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT) AS dd",
        "CAST(weekday(o_orderdate) + 1 AS BIGINT) AS isodow")),

    // ----- multiset intersection (INTERSECT ALL) -----
    "q_intersect_all" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_suppkey").as("sk"))
        .intersectAll(t(s, dir, "supplier").select(col("s_suppkey").as("sk")))),

    // ----- positional explode (token positions, 1-based both engines) -----
    "q_posexplode" -> ((s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "word")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("word"))),

    // ----- recursive CTE (Spark 4 WITH RECURSIVE) -----
    "q_recursive_cte" -> ((s, dir) =>
      s.sql(
        """WITH RECURSIVE s(n, f) AS (
             SELECT 1, CAST(1 AS BIGINT)
             UNION ALL
             SELECT n + 1, f * (n + 1) FROM s WHERE n < 15)
           SELECT n, f FROM s""")),

    // ----- TPC-H Q6 through the spark.sql entry point (temp view) -----
    "q6_forecast" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem_v
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
             AND l_discount >= 0.02 AND l_discount <= 0.06
             AND l_quantity < 24""")
    }),

    // ----- JSON extraction (round-trip through a JSON string column) -----
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "orders")
        .selectExpr("o_orderkey",
          """concat('{"status":"', o_orderstatus, '","price":',
                    CAST(o_totalprice AS STRING), '}') AS js""")
        .selectExpr("o_orderkey",
          "get_json_object(js, '$.status') AS status",
          "CAST(get_json_object(js, '$.price') AS DOUBLE) AS price")),

    // ----- custom typed Aggregator UDAF: shard-level MinHash union -----
    "q_minhash_union" -> ((s, dir) => {
      val sigs = Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")
      sigs.withColumn("shard", col("doc_id") % 10)
        .groupBy(col("shard"))
        .agg(graft.functions.SigAgg.minhashUnion(col("mh")).as("u"))
        .selectExpr("shard", "array_join(u, ',') AS union_sig")
    }),

    // ----- KMV cardinality sketch vs exact distinct, per group: the
    // calibration readout for bounded-memory distinct counting. The
    // sketch path alone needs NO pre-distinct (reduce dedups, state <=
    // k longs per group); the exact twin column is what forces the
    // distinct here — it is the comparison, as in q_lsh_quality. The
    // polyHash is finalized with a multiplicative mix mod P (a
    // bijection): raw polyHash of short strings stays near 0, and the
    // (k-1)·P/kth estimator needs hashes ~uniform on [0, P) -----
    "q_kmv_distinct" -> ((s, dir) => {
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
    }),

    // ----- KMV set-operation estimates: join cardinality WITHOUT the
    // join. Sketch each side's key set (256 longs however large the
    // side), re-merge the two sketches (k-min of the union = kmv of the
    // concatenation — the mergeability theorem), and estimate
    // |A∪B| from the union's k-th minimum and |A∩B| from the fraction
    // of the union sketch present in both sides. The exact twins ride
    // along as calibration — the "should this join broadcast, shuffle,
    // or be pre-filtered" planning readout -----
    "q_kmv_join_est" -> ((s, dir) => {
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
    }),

    // ----- IVM of a DISTINCT-COUNT sketch: the maintained path merges
    // the stored base-snapshot KMV sketch with the delta's sketch —
    // NEVER re-reading base keys — and is provably bit-equal to direct
    // recompute (k-min of k-mins = k-min of the union: KMV
    // mergeability; integral state + fixed hash family make it exact,
    // not approximate agreement). The q_ivm_counts sibling for the
    // metric GROUP BY can't maintain cheaply: COUNT(DISTINCT). At
    // 100 TB the base side is a per-group 64-long array however many
    // keys it summarizes. -----
    "q_ivm_kmv" -> ((s, dir) => {
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
    }),

    // ----- MRR@10 offline retrieval eval — the first-relevant-rank
    // companion to q_retrieval_ndcg (same brute-force ranking arm, same
    // label-match relevance): reciprocal ranks as fixed-point ppm
    // literals (floor(1e6/r)), so the score is engine-exact integer
    // arithmetic; queries with no relevant hit in the top 10 score 0. -----
    "q_retrieval_mrr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = Dedup.persistTracked(emb.filter(col("vec_id") < 10))
      val ranked = Similarity.bruteForceTopK(emb, q, "vec_id",
          "embedding", k = 10)
        .select(col("qid"), col("cid"), col("rank"))
      val labels = Dedup.persistTracked(
        emb.select(col("vec_id"), col("label")))
      val rrArr = "array(" +
        (1 to 10).map(r => s"${1000000L / r}L").mkString(", ") + ")"
      ranked
        .join(labels.select(col("vec_id").as("qid"), col("label").as("ql")),
          "qid")
        .join(labels.select(col("vec_id").as("cid"), col("label").as("cl")),
          "cid")
        .groupBy(col("qid"))
        .agg(min(when(col("ql") === col("cl"), col("rank"))).as("fr"))
        // element_at must NEVER see a nullable index: under ANSI the
        // optimizer infers the failOnError element_at non-nullable and
        // strips a wrapping coalesce, and the codegen'd null-index read
        // then returns garbage (observed: last array element) — guard
        // with a CASE on the already-coalesced rank instead
        .select(col("qid"), coalesce(col("fr"), lit(0L)).as("first_rel"))
        .withColumn("rr_ppm", when(col("first_rel") === 0L, lit(0L))
          .otherwise(element_at(expr(rrArr), col("first_rel").cast("int"))))
    }),

    // ----- window twin of q_topk_group: same rows via row_number, so
    // every bench round measures the custom operator against Spark's
    // WindowGroupLimit path on identical data -----
    "q_topk_group_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("rn"))
    }),

    // ----- max_by/arg_max with a deterministic composite tie-break -----
    "q_argmax" -> ((s, dir) => {
      // exact integer cents * 1e9 + orderkey: unique, so ties can't make
      // the arg_max engine-dependent
      val key = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "* 1000000000 + o_orderkey"
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(expr(s"max_by(o_orderkey, $key)").as("best_order"),
          max(dec(col("o_totalprice"))).cast("double").as("top_price"),
          count(lit(1)).as("n_orders"))
    }),

    // ----- FUZZY record linkage via native Jaro-Winkler: brand-blocked
    // part-name pairs scored by JaroWinklerSim (a codegen'd Catalyst
    // expression — Spark ships levenshtein but no JW; a UDF here would
    // box every pair and break whole-stage codegen). Blocking keeps the
    // pair space at sum(block²), never corpus²; the equi-keyed self-join
    // shuffles on the block key so each block's quadratic work is local
    // to one task (AQE splits an oversized block) -----
    "q_jaro_linkage" -> ((s, dir) => {
      // block on (brand, size): the bounded-fan-out discipline —
      // sum(block²) grows linearly when block sizes stay bounded, and
      // the O(len²) JW verify only ever runs inside a block
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("p_name"))
      val pairs = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("p1"), col("p_name").as("name1"))
        .join(p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("p2"), col("p_name").as("name2")),
          Seq("p_brand", "p_size"))
        .filter(col("p1") < col("p2"))
      pairs
        .withColumn("jw",
          GraftFunctions.jaroWinkler(col("name1"), col("name2")))
        .filter(col("jw") >= 0.88)
        .select(col("p_brand"), col("p1"), col("p2"), col("jw"))
    }),

    // ----- CDC SNAPSHOT DIFF: classify every key across two snapshot
    // versions (insert / delete / update / unchanged) with one full
    // outer join on the key — the standard change-data-capture reconcile.
    // Snapshots are carved deterministically from `orders` (key mod
    // classes), so both engines derive identical inputs. Exact DECIMAL
    // compare for the update test; the join shuffles on the key only -----
    "q_cdc_diff" -> ((s, dir) => {
      val cur = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val old = cur.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey").as("k_old"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("price_old"))
      val neu = cur.filter(col("o_orderkey") % 89 =!= 0)
        .select(col("o_orderkey").as("k_new"),
          col("o_totalprice").as("price_new"))
      old.join(neu, col("k_old") === col("k_new"), "full_outer")
        .select(
          when(col("k_old").isNull, lit("insert"))
            .when(col("k_new").isNull, lit("delete"))
            .when(dec(col("price_old")) =!= dec(col("price_new")),
              lit("update"))
            .otherwise(lit("unchanged")).as("op"),
          coalesce(col("k_old"), col("k_new")).as("k"))
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
    }),

    // ----- K-ANONYMITY audit over quasi-identifiers: group size per
    // (nation, segment) combination and an at-risk flag for groups
    // below k=10 — the governance check a training-data release runs
    // before shipping user-derived rows. One hash aggregation -----
    "q_k_anonymity" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          (col("n") < 10).as("at_risk"))
    }),

    // ----- parquet ROW-GROUP layout audit: per-group rows/chunks/bytes
    // read from footers only (executors open footers, never data pages —
    // a 100 TB layout audit costs one metadata read per file, fanned out
    // over the cluster). Oracle: DuckDB's parquet_metadata() on the SAME
    // footers — two independent parquet implementations agreeing on the
    // physical layout -----
    "q_parquet_meta" -> ((s, dir) =>
      graft.sources.ParquetMeta.rowGroups(s,
          Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet"))
        .select(col("file_name"), col("row_group_id"), col("n_rows"),
          col("n_chunks"), col("compressed_bytes"),
          col("uncompressed_bytes"))),

    // ----- MANIFEST ZONE MAPS (VersionedTable data skipping): orders
    // committed one immutable file per order-year with per-file
    // min/max/null stats recorded as manifest `# stat` lines; this
    // readout is the STORED metadata itself (zero data I/O after the
    // build) plus each file's prunability under a one-year reference
    // predicate. The oracle recomputes the same numbers from the raw
    // table grouped by year — the stats a 100 TB reader would trust
    // for file skipping must agree exactly with the data they
    // describe -----
    "q_skip_stats" -> ((s, dir) => {
      val path = buildSkipTable(s, dir, "shared")
      graft.sources.VersionedTable.fileStatsDf(s, path)
        .filter(col("col") === "o_orderdate")
        .select(col("n_rows"),
          expr("CAST(min_v AS BIGINT)").as("min_us"),
          expr("CAST(max_v AS BIGINT)").as("max_us"))
        .withColumn("may_96",
          col("min_us") < expr("unix_micros(timestamp'1997-01-01 00:00:00')") &&
            col("max_us") >= expr("unix_micros(timestamp'1996-01-01 00:00:00')"))
    }),
    // ----- DATA-SKIPPING READ: the same per-year clustered table
    // served through VersionedTable.readWhere — the manifest stats
    // prune six of the seven files BEFORE the scan is planned
    // (VersionedTableSkipSpec pins the file counts), and the exact
    // filter still applies, so the result is identical to a full scan
    // by construction. The oracle is the predicate over the raw table:
    // hash-equality here proves pruning never changed semantics, while
    // at 100 TB it changes the denominator — O(matching files) read
    // instead of O(table) -----
    "q_skip_read" -> ((s, dir) => {
      val path = buildSkipTable(s, dir, "shared")
      val pred = expr(
        "o_orderdate >= timestamp'1996-01-01 00:00:00' AND " +
          "o_orderdate < timestamp'1997-01-01 00:00:00' AND " +
          "o_totalprice > 150000.0D")
      graft.sources.VersionedTable.readWhere(s, path, pred)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double").as("total"))
    }),
    // ----- BLOOM-PRUNED POINT LOOKUP: the same year-clustered table,
    // but the predicate is an o_orderkey IN-list — the
    // right-to-be-forgotten / targeted-audit shape. Order keys
    // INTERLEAVE across the year files, so the min/max zone maps span
    // everything and prune NOTHING; the per-file manifest Bloom filters
    // (no false negatives) prove absence and cut the read to the files
    // that may hold the keys (VersionedTableSkipSpec pins the skip
    // counts and the conservatism contract). The oracle is the raw
    // predicate: pruning must never change semantics -----
    "q_skip_bloom" -> ((s, dir) => {
      val path = buildSkipTable(s, dir, "shared")
      graft.sources.VersionedTable.readWhere(s, path,
        col("o_orderkey").isin(3L, 777L, 1337L))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
    }),

    // ----- SPATIAL RADIUS SELF-JOIN via grid bucketing: deterministic
    // planar coordinates derived from customer keys, all pairs within
    // r=25 on a 1000x1000 plane. The naive plan is O(n^2); the grid
    // plan is ONE equi-shuffle on the cell key with a constant 3x3
    // probe fan-out, then an exact integer-squared-distance verify on
    // candidates only (Spatial.radiusJoin's scaladoc carries the
    // 100 TB argument). The oracle IS the naive all-pairs filter —
    // hash-equality proves the neighborhood join misses nothing -----
    "q_spatial_join" -> ((s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.radiusJoin(pts, "id", "x", "y", radius = 25L, cell = 50L)
    }),
    // ----- STREAMING SPATIAL GATE, driven as two micro-batches: the
    // even-key points arrive first (intra-batch pairs only), the odd
    // keys second (their pairs split across intra and cross-vs-stored
    // candidates; SpatialGate pins the pre-batch state snapshot on
    // replay). The cumulative pair table must equal the ONE-SHOT batch
    // radius join over all points — the same naive-quadratic oracle as
    // q_spatial_join; SpatialGateSpec asserts the prefix property per
    // batch and the exactly-once replays -----
    "q_spatial_gate" -> ((s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val statePath = "/tmp/graft_sgate_state_" + suffix
      val outPath = "/tmp/graft_sgate_out_" + suffix
      // reset the exactly-once state — see q_substr_gate's note
      freshFixtureDir(statePath)
      freshFixtureDir(outPath)
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      val snk = graft.streaming.SpatialGate.sink(statePath, outPath,
        "id", "x", "y", radius = 25L, cell = 25L)
      snk(pts.filter(col("id") % 2 === 0), 0L)
      snk(pts.filter(col("id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, outPath)
    }),
    // ----- SPATIAL DENSITY / hotspot audit: points per grid cell and
    // the k-or-more flag — both a standalone spatial aggregation and
    // the skew auditor behind q_spatial_join's cell-size choice -----
    "q_spatial_density" -> ((s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.density(pts, "x", "y", cell = 50L, hotspotAt = 8L)
    }),
    // ----- BIPARTITE radius join (points-to-facilities): customers
    // within r of a supplier — same one-shuffle grid mechanics, no
    // self-join ordering -----
    "q_spatial_near" -> ((s, dir) => {
      val cust = t(s, dir, "customer").selectExpr(
        "c_custkey AS cid",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      val supp = t(s, dir, "supplier").selectExpr(
        "s_suppkey AS sid",
        "(s_suppkey * 53) % 1000 AS x",
        "(s_suppkey * 17) % 1000 AS y")
      Spatial.radiusJoinWith(cust, "cid", "x", "y",
          supp, "sid", "x", "y", radius = 25L, cell = 50L)
        .withColumnRenamed("id_l", "cid").withColumnRenamed("id_r", "sid")
    }),
    // ----- NEAREST FACILITY: each customer's single nearest supplier
    // within r (rank window per customer, ties by supplier id) -----
    "q_spatial_nearest" -> ((s, dir) => {
      val cust = t(s, dir, "customer").selectExpr(
        "c_custkey AS cid",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      val supp = t(s, dir, "supplier").selectExpr(
        "s_suppkey AS sid",
        "(s_suppkey * 53) % 1000 AS x",
        "(s_suppkey * 17) % 1000 AS y")
      Spatial.nearestWithin(cust, "cid", "x", "y",
          supp, "sid", "x", "y", radius = 50L, cell = 50L, k = 1)
        .select(col("id_l").as("cid"), col("id_r").as("sid"),
          col("dist2"))
    }),
    // ----- SPATIAL kNN JOIN, radius-bounded: k nearest neighbors per
    // point among those within r. The radius bound is the exactness
    // contract — it confines candidates to the 3x3 grid neighborhood
    // (unbounded kNN has no exhaustive fixed neighborhood); the rank
    // window is PARTITIONED by point id, never global -----
    "q_spatial_knn" -> ((s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.knnWithin(pts, "id", "x", "y", radius = 25L, cell = 50L,
        k = 3)
    }),
    // ----- DBSCAN, made deterministic: clusters = connected components
    // of the core-point eps-graph (true CC via star contraction — the
    // oracle's recursive reachability closure is round-count-free, so
    // only a TRUE CC matches it), borders attach to the MIN neighboring
    // core cluster, noise gets -1. The eps-graph is the grid radius
    // join — at no stage does anything all-pairs run -----
    "q_spatial_dbscan" -> ((s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.dbscan(pts, "id", "x", "y", eps = 30L, minPts = 5L)
    }),

    // ----- l-diversity audit, the k-anonymity complement: a quasi-
    // identifier group is re-identifiable even at k>=10 members if a
    // SENSITIVE attribute (here the balance tercile) is near-constant
    // within it. One partial/final agg; distinct counted per group -----
    "q_l_diversity" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("acct_band",
          expr("CAST(floor(c_acctbal / 4000.0) AS BIGINT)"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("acct_band")).as("l_distinct"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("l_distinct"), (col("l_distinct") < 2).as("at_risk"))
    }),

    // ----- time-series RESAMPLE + FORWARD FILL: 10-minute buckets per
    // event type, dense spine via sequence-explode between each type's
    // min and max bucket (equi-keyed — a spine range join would nested-
    // loop), gaps carry the last observed value (last_value IGNORE
    // NULLS). Sums stay DECIMAL until the final cast so the fill value
    // is order-independent -----
    "q_resample_ffill" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .selectExpr("event_type", "(ts div 1000) div 600000000 AS bucket",
          "value")
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(dec(col("value"))).as("s"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"))).as("bucket"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      spine.join(hourly, Seq("event_type", "bucket"), "left")
        .select(col("event_type"), col("bucket"),
          col("s").isNull.as("filled"),
          last(col("s"), ignoreNulls = true).over(w)
            .cast("double").as("v"))
    }),

    // ----- GINI concentration of token mass per source: how unevenly
    // the corpus' tokens distribute over documents (a data-mixing
    // diagnostic). Entirely integer arithmetic via the rank identity
    // G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending x —
    // exact BIGINT sums, one final division, no order-dependent float
    // accumulation (tied x values contribute the same sum under any
    // tie order, so the rank tiebreak cannot leak in) -----
    "q_gini" -> ((s, dir) => {
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
    }),

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
    "q_sample_quantiles" -> ((s, dir) => {
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
    }),

    // ----- association RULES over the basket pairs (the directional
    // complement of q_basket_lift): confidence = P(consequent | ante),
    // support = P(pair) — exact single divisions over integer counts.
    // Same one-shuffle basket shape as q_basket_lift: each order's
    // sorted distinct brand set explodes ONCE into unordered pairs plus
    // per-brand sentinels, one groupBy serves pair AND antecedent
    // counts; rules fan both directions from the b1<b2 pair table
    // (vocab²-sized, persisted for its two readers) -----
    "q_assoc_rules" -> ((s, dir) => {
      val sets = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      val counts = graft.operators.Dedup.persistTracked(sets
        .select(explode(expr(
          "flatten(transform(bs, (x, i) -> concat(" +
            "array(struct(x AS b1, '' AS b2)), " +
            "transform(slice(bs, i + 2, size(bs)), " +
            "y -> struct(x AS b1, y AS b2)))))")).as("p"))
        .select(col("p.b1"), col("p.b2"))
        .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("n_ab")))
      val rules = counts.filter(col("b2") =!= "")
        .select(explode(array(
          struct(col("b1").as("antecedent"), col("b2").as("consequent"),
            col("n_ab")),
          struct(col("b2").as("antecedent"), col("b1").as("consequent"),
            col("n_ab")))).as("r"))
        .select(col("r.antecedent").as("antecedent"),
          col("r.consequent").as("consequent"), col("r.n_ab").as("n_ab"))
      val bc = counts.filter(col("b2") === "")
        .select(col("b1").as("antecedent"), col("n_ab").as("n_a"))
      val no = t(s, dir, "orders").agg(count(lit(1)).as("n_orders"))
      rules.join(broadcast(bc), "antecedent")
        .crossJoin(broadcast(no))
        .filter(col("n_ab") >= 40)
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          expr("CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)")
            .as("confidence"),
          expr("CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE)")
            .as("support"))
    }),

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
    "q_t_closeness" -> ((s, dir) => {
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
    }),

    // ----- Gini-Simpson token DIVERSITY per source: 1 − Σnᵢ(nᵢ−1) /
    // (N(N−1)) — the probability two random tokens differ. The log-free
    // diversity metric (Shannon entropy needs an engine-specific log):
    // exact BIGINT collision counts, ONE final division. Two narrow
    // aggregations; the token text never leaves the first -----
    "q_simpson_diversity" -> ((s, dir) => {
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
    }),

    // ----- HOLT double-exponential smoothing per event type: level +
    // trend with α = β = 1/2, one-step-ahead forecast. The recursion
    // state_t = f(state_{t-1}, x_t) is inherently SEQUENTIAL per
    // series — it runs as a single HOF fold over the series' values in
    // (ts, id) order after ONE shuffle groups each series; at 100 TB
    // you partition by series key and each series folds within its own
    // row (the standard per-entity time-series layout; cross-series
    // parallelism is unbounded, within-series is not — that's the
    // algorithm, not the engine). Power-of-two smoothing makes the
    // float recursion ENGINE-EXACT: halving is lossless in IEEE and
    // the fold order is pinned by the sort, so level/trend/forecast are
    // bit-identical across engines and reruns — a general α would
    // accumulate engine-specific rounding at every step. Accumulator
    // is a uniform [level, trend, n] double-array (both dialects lack
    // heterogeneous fold state) -----
    "q_holt_smoothing" -> ((s, dir) => {
      val step =
        "IF(element_at(acc, 3) = 0.0D, array(x, 0.0D, 1.0D), " +
          "array((x + element_at(acc, 1) + element_at(acc, 2)) / 2.0D, " +
          "((x + element_at(acc, 1) + element_at(acc, 2)) / 2.0D " +
          "- element_at(acc, 1)) / 2.0D + element_at(acc, 2) / 2.0D, " +
          "element_at(acc, 3) + 1.0D))"
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("aggregate(transform(sort_array(collect_list(" +
            "struct(ts, event_id, value))), s -> s.value), " +
            s"array(0.0D, 0.0D, 0.0D), (acc, x) -> $step)").as("st"))
        .select(col("event_type"), col("n"),
          expr("element_at(st, 1)").as("level"),
          expr("element_at(st, 2)").as("trend"),
          expr("element_at(st, 1) + element_at(st, 2)").as("forecast"))
    }),

    // ----- k-CORE of the near-dup candidate graph: nodes surviving 3
    // peel rounds of degree ≥ 2 — the "dense duplication community"
    // detector (a doc in the 2-core shares content with ≥2 docs that
    // each share with ≥2 others; boilerplate families, not chance
    // pairs). Bounded rounds, integer counting, per-round lineage cuts
    // — see Graph.kcore -----
    "q_kcore" -> ((s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.kcore(edges, "src", "dst", k = 2, rounds = 3)
        .withColumnRenamed("id", "doc_id")
    }),

    "q_bm25" -> ((s, dir) => {
      // ONE tokenize pass: per-doc length + query-term occurrences kept
      // as a tiny filtered array (≤3 distinct terms), persisted — tf,
      // document frequency, AND the corpus length stats all derive from
      // it instead of three separate text scans
      val docTok = graft.operators.Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            expr("filter(toks, w -> w IN ('join', 'hash', 'row'))")
              .as("ftoks")))
      val words = docTok.select(col("doc_id"), col("dl"),
        explode(col("ftoks")).as("word"))
      val tf = words
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
      val dfreq = words
        .select(col("word"), col("doc_id")).distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("dfq"))
      val corpus = docTok
        .agg(count(lit(1)).as("nd"), sum(col("dl")).as("sum_dl"))
      val w = Window.partitionBy(col("word"))
        .orderBy(col("score").desc, col("doc_id"))
      tf.join(dfreq, "word")
        .crossJoin(broadcast(corpus))
        .withColumn("score", expr(
          // e0 literals force DOUBLE in both engines (a bare 2.2 parses
          // as DECIMAL in Spark and DuckDB with engine-specific scale
          // arithmetic — measured a 1-ULP drift)
          "((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + (0.75e0 * dl) / " +
            "(CAST(sum_dl AS DOUBLE) / nd)))) * " +
            "((nd - dfq + 0.5e0) / (dfq + 0.5e0))"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("word"), col("doc_id"), col("score"), col("rn"))
    }),

    // ----- HYBRID RETRIEVAL with reciprocal-rank fusion: a BM25
    // lexical arm (term 'join') and an embedding-cosine semantic arm
    // (query = vector 0) each nominate their top-100; RRF fuses the
    // rank lists (1/(60+rank), the standard hybrid-search combiner —
    // rank-based, so no cross-modality score calibration needed). Both
    // arms are top-k-bounded BEFORE fusion: per-modality candidate
    // generation then a candidate-sized join, never a corpus-wide one -----
    // ----- RETRIEVAL QUALITY: nDCG@10 of cosine ranking against
    // label-match relevance (same-label candidate = relevant) — the
    // offline eval gate a retrieval stack runs before shipping an index
    // change. Discount weights are FIXED-POINT ppm literals of
    // 1/log2(i+1) (log() is engine-specific; a driver-side constant
    // table embedded in both dialects is exact), DCG/IDCG are BIGINT
    // sums, nDCG is one guarded division. -----
    "q_retrieval_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = Dedup.persistTracked(emb.filter(col("vec_id") < 10))
      val ranked = Similarity.bruteForceTopK(emb, q, "vec_id",
          "embedding", k = 10)
        .select(col("qid"), col("cid"), col("rank"))
      // persist the slim label projection: it feeds two label joins and
      // the per-label counts — one embeddings scan, not three more
      val labels = Dedup.persistTracked(
        emb.select(col("vec_id"), col("label")))
      val wCase = ndcgW.zipWithIndex
        .map { case (w, i) => s"WHEN rank = ${i + 1} THEN ${w}L" }
        .mkString("CASE ", " ", " ELSE 0L END")
      val cumArr = s"array(${ndcgCum.map(_ + "L").mkString(", ")})"
      // per-label candidate counts: R = same-label candidates besides
      // the query itself, capped at k — broadcast-tiny
      val labCnt = labels.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
      val scored = ranked
        .join(labels.select(col("vec_id").as("qid"), col("label").as("ql")), "qid")
        .join(labels.select(col("vec_id").as("cid"), col("label").as("cl")), "cid")
        .withColumn("relw",
          when(col("ql") === col("cl"), expr(wCase)).otherwise(lit(0L)))
        .groupBy(col("qid"), col("ql"))
        .agg(sum(col("relw")).as("dcg_ppm"))
      scored
        .join(broadcast(labCnt.select(col("label").as("ql"), col("n_lab"))), "ql")
        .withColumn("r_cap", least(col("n_lab") - 1, lit(10L)))
        .withColumn("idcg_ppm",
          when(col("r_cap") <= 0, lit(0L))
            .otherwise(element_at(expr(cumArr), col("r_cap").cast("int"))))
        .select(col("qid"), col("dcg_ppm"),
          col("idcg_ppm"),
          (col("dcg_ppm").cast("double") /
            nullif(col("idcg_ppm"), lit(0L))).as("ndcg"))
    }),

    "q_hybrid_rrf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docTok = Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            expr("CAST(size(filter(toks, w -> w = 'join')) AS BIGINT)")
              .as("tf")))
      val corpus = docTok
        .agg(count(lit(1)).as("nd"), sum(col("dl")).as("sum_dl"))
      val dfq = docTok.filter(col("tf") > 0)
        .agg(count(lit(1)).as("dfq"))
      val lex = docTok.filter(col("tf") > 0)
        .crossJoin(broadcast(corpus)).crossJoin(broadcast(dfq))
        .withColumn("score", expr(
          "((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + (0.75e0 * dl) / " +
            "(CAST(sum_dl AS DOUBLE) / nd)))) * " +
            "((nd - dfq + 0.5e0) / (dfq + 0.5e0))"))
        .transform(d => graft.plans.ParallelRank.rankedTopK(d, "lex_rank",
          100, col("score").desc, col("doc_id")))
        .select(col("doc_id"), col("lex_rank"))
      val qv = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv")))
      val sem = emb.filter(col("vec_id") =!= 0).crossJoin(qv)
        .select(col("vec_id").as("doc_id"), GraftFunctions
          .cosineSim(col("embedding"), col("qv")).as("cos"))
        .transform(d => graft.plans.ParallelRank.rankedTopK(d, "sem_rank",
          100, col("cos").desc, col("doc_id")))
        .select(col("doc_id"), col("sem_rank"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf", expr(
          "coalesce(1.0e0 / (60 + lex_rank), 0.0e0) + " +
            "coalesce(1.0e0 / (60 + sem_rank), 0.0e0)"))
        .transform(d => graft.plans.ParallelRank.rankedTopK(d, "rn", 15,
          col("rrf").desc, col("doc_id")))
    }),

    // ----- PARETO FRONTIER (skyline) selection: parts not dominated in
    // (minimize price, maximize size) — the multi-objective data-
    // selection shape (e.g. quality-vs-length corpus picks). A per-price
    // aggregate + the two-phase exclusive running max replace the
    // quadratic "exists dominator" self-join: m2 = same-price max for
    // equal-price strict dominance, m1 = max over strictly cheaper
    // prices. The skyline's inherent total order rides the parallel
    // range shuffle, not a single-partition window; rows never
    // self-join -----
    "q_pareto" -> ((s, dir) => {
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
    }),

    // ----- A/B test: two-proportion z-score between user cohorts
    // (deterministic split on user_id parity), conversion = reached a
    // 'purchase' event. All counts are exact BIGINTs; the z formula is
    // one fixed chain of IEEE ops (sqrt is correctly rounded), so the
    // doubles are engine-identical — the same discipline as the
    // seasonality/lift queries -----
    "q_ab_test" -> ((s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 144, 1L).otherwise(0L)).as("conv"))
        .withColumn("cohort", col("user_id") % 2)
      users.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
        .agg(
          sum(when(col("cohort") === 0, col("n"))).as("n_a"),
          sum(when(col("cohort") === 0, col("k"))).as("k_a"),
          sum(when(col("cohort") === 1, col("n"))).as("n_b"),
          sum(when(col("cohort") === 1, col("k"))).as("k_b"))
        .withColumn("z", expr(
          // e0 literals: see the q_bm25 note
          "(CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) / " +
            "sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) * " +
            "(1.0e0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) * " +
            "(1.0e0 / n_a + 1.0e0 / n_b))"))
        .withColumn("significant", abs(col("z")) > 1.96)
    }),

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
    "q_quantile_norm" -> ((s, dir) => {
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
    }),

    // ----- WILSON 95% CI per A/B arm — the interval readout behind
    // q_ab_test's yes/no: score intervals stay inside [0,1] and behave
    // at small k where the normal interval fails. z = 1.96 and
    // z² = 3.8416 ride as exact double literals; sqrt is the one
    // non-trivial function that is correctly rounded in both engines,
    // and every other step is a double op on identical operands — the
    // whole interval is engine-exact with no fixed-point scaffolding. -----
    "q_ab_wilson" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 144, 1L).otherwise(0L)).as("conv"))
        .withColumn("cohort", col("user_id") % 2)
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
        .withColumn("p_hat", expr("CAST(k AS DOUBLE) / n"))
        .withColumn("denom", expr("1.0e0 + 3.8416e0 / n"))
        .withColumn("center",
          expr("(p_hat + 3.8416e0 / (2.0e0 * n)) / denom"))
        .withColumn("half", expr(
          "1.96e0 * sqrt(p_hat * (1.0e0 - p_hat) / n + " +
            "3.8416e0 / (4.0e0 * n * n)) / denom"))
        .select(col("cohort"), col("n"), col("k"), col("p_hat"),
          expr("center - half").as("lo"), expr("center + half").as("hi"))
    }),

    // ----- LAST-TOUCH ATTRIBUTION: every purchase credited to the most
    // recent preceding non-purchase event of the same user (last_value
    // IGNORE NULLS over the ordered stream — one window shuffle on
    // user_id, never an event self-join), rolled up to conversions per
    // channel -----
    "q_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .selectExpr("user_id", "event_id", "event_type", "ts div 1000 AS t_us")
        .withColumn("channel",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("channel").isNotNull)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("conversions"),
          countDistinct(col("user_id")).as("buyers"))
    }),

    // ----- LINEAR multi-touch attribution, the last-touch complement:
    // each purchase's credit splits equally over every touch in its
    // journey (journey = run of events up to a purchase, segmented by a
    // running purchase count — one window, no event self-join). Credit
    // is FIXED-POINT ppm ((n_c * 1e6) div n_t summed as BIGINT): IEEE
    // double sums are order-dependent and could never hash-match -----
    "q_attribution_linear" -> ((s, dir) => {
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = Dedup.persistTracked(
        t(s, dir, "events")
          .selectExpr("user_id", "event_id", "event_type",
            "ts div 1000 AS t_us")
          .withColumn("journey",
            count(when(col("event_type") === "purchase", 1)).over(wPrev)))
      val touches = Dedup.persistTracked(
        ev.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("journey"),
            col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_c")))
      val totals = touches.groupBy(col("user_id"), col("journey"))
        .agg(sum(col("n_c")).as("n_t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("journey"))
        .agg(count(lit(1)).as("n_conv"))
      touches.join(totals, Seq("user_id", "journey"))
        .join(purchases, Seq("user_id", "journey"))
        .groupBy(col("channel"))
        .agg(sum(expr("n_conv * ((n_c * 1000000L) div n_t)"))
            .as("credit_ppm"),
          sum(col("n_conv")).as("conversions_touched"))
    }),

    // ----- ZONE-MAP pruning stats: per l_orderkey range zone, the
    // min/max/count needed for data skipping plus each zone's
    // prunability under a reference predicate — the layout diagnostic
    // behind parquet row-group / Z-order skipping. One aggregation;
    // the zone key is a pure projection of the clustering column -----
    "q_zone_map" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .selectExpr("l_orderkey div 1500 AS zone",
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c",
          "l_shipdate")
        .groupBy(col("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("price_c")).as("min_price_c"),
          max(col("price_c")).as("max_price_c"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .withColumn("prunable_price_gt_5000",
          col("max_price_c") <= lit(500000L))
    }),

    // ----- percent_rank / cume_dist windows: distribution position of
    // each customer's balance within its nation — both are exact small-
    // integer rationals ((rank-1)/(n-1), peers/n), so the doubles are
    // engine-identical -----
    "q_window_pctrank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("acct_c"), col("c_custkey"))
      t(s, dir, "customer")
        .selectExpr("c_custkey", "c_nationkey",
          "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acct_c")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_nationkey"), col("acct_c"),
          col("pr"), col("cd"))
    }),

    // ----- per-shard TABLE CHECKSUM (anti-entropy / Merkle-leaf shape):
    // order-independent SUM of per-row content hashes, sharded on a key
    // projection — two replicas (or a source and its CDC-applied copy)
    // compare shard digests and re-sync only the shards that differ.
    // Hash sums commute, so the digest is identical under ANY
    // partitioning or row order; rendering goes through exact
    // decimal/int casts (double formatting differs across engines) -----
    "q_table_checksum" -> ((s, dir) => {
      t(s, dir, "orders")
        .selectExpr("o_orderkey % 16 AS shard",
          "concat_ws('|', CAST(o_orderkey AS STRING), o_orderstatus, " +
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)) AS row_str")
        .select(col("shard"),
          GraftFunctions.polyHash(col("row_str")).as("h"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
    }),

    // ----- ANTI-ENTROPY SYNC PLAN: q_table_checksum executed against a
    // drifted replica — per-shard digests of the base and a replica
    // missing some rows, joined to the list of shards needing re-sync
    // (with row-count deltas). The repair job ships only those shards:
    // digest compare is metadata-sized however big the table. -----
    "q_sync_plan" -> ((s, dir) => {
      // persist: the hashed projection feeds the base digest AND the
      // replica digest (a filtered view of the same rows)
      val rows = Dedup.persistTracked(t(s, dir, "orders")
        .selectExpr("o_orderkey",
          "o_orderkey % 16 AS shard",
          "concat_ws('|', CAST(o_orderkey AS STRING), o_orderstatus, " +
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)) AS row_str")
        .select(col("o_orderkey"), col("shard"),
          GraftFunctions.polyHash(col("row_str")).as("h")))
      def digest(df: DataFrame) = df.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("cs"))
      val base = digest(rows)
      // the replica lost every 97th row (simulated partial CDC apply)
      val replica = digest(rows.filter(col("o_orderkey") % 97 =!= 0))
        .withColumnRenamed("n", "n_r").withColumnRenamed("cs", "cs_r")
      base.join(replica, Seq("shard"), "full_outer")
        .filter(!(col("cs") <=> col("cs_r")) || !(col("n") <=> col("n_r")))
        .select(col("shard"), col("n").as("n_base"),
          coalesce(col("n_r"), lit(0L)).as("n_replica"),
          (col("n") - coalesce(col("n_r"), lit(0L))).as("rows_to_ship"))
    }),

    // ----- INCREMENTAL VIEW MAINTENANCE: per-priority order counts
    // maintained from the OLD snapshot plus the CDC delta (inserts add,
    // deletes subtract; updates don't move counts between groups here
    // since the key's group is stable) — then proven equal to a direct
    // recompute over the NEW snapshot. The 100 TB point: the maintained
    // path touches only the delta, never rescans the snapshot -----
    "q_ivm_counts" -> ((s, dir) => {
      // persist barrier: the 2-col projection fans out to old/new filters
      // consumed by four aggregations — one orders scan, not four
      val cur = graft.operators.Dedup.persistTracked(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")))
      val old = cur.filter(col("o_orderkey") % 97 =!= 0)
      val neu = cur.filter(col("o_orderkey") % 89 =!= 0)
      val oldCounts = old.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_old"))
      val delta = old.select(col("o_orderkey").as("k_old"),
          col("o_orderpriority").as("p_old"))
        .join(neu.select(col("o_orderkey").as("k_new"),
          col("o_orderpriority").as("p_new")),
          col("k_old") === col("k_new"), "full_outer")
        .select(
          coalesce(col("p_old"), col("p_new")).as("o_orderpriority"),
          when(col("k_old").isNull, 1L)
            .when(col("k_new").isNull, -1L).otherwise(0L).as("d"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("d")).as("dn"))
      val maintained = oldCounts
        .join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n_old"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("maintained"))
      val direct = neu.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("direct"))
      maintained.join(direct, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"), col("maintained"), col("direct"),
          (col("maintained") === col("direct")).as("consistent"))
    }),

    // ----- MODE per group with a deterministic tie-break (highest count,
    // then lowest value — an undefined-tie mode is engine-dependent and
    // can never hash-match): most common order priority per customer
    // segment, two hash aggregations + one max_by -----
    "q_mode" -> ((s, dir) => {
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
    }),

    // ----- INT8 QUANTIZATION of embeddings: per-vector absmax scale,
    // floor-quantized codes, and the exact reconstruction MAE — the
    // compression step a serving/index build runs before shipping
    // vectors. floor() (not round()) because half-way rounding differs
    // between engines; every per-row fold is fixed left-to-right, and
    // nothing aggregates floats ACROSS rows -----
    "q_quantize_int8" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 50)
        .selectExpr("vec_id", "embedding",
          "aggregate(embedding, CAST(0 AS DOUBLE), " +
            "(m, v) -> greatest(m, abs(CAST(v AS DOUBLE)))) AS scale")
        .filter(col("scale") > 0)
        .selectExpr("vec_id", "scale",
          "transform(embedding, v -> " +
            "CAST(floor(CAST(v AS DOUBLE) / scale * 127) AS BIGINT)) AS codes")
        .selectExpr("vec_id", "scale",
          "aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + abs(c)) " +
            "AS code_mass",
          "aggregate(codes, CAST(0 AS BIGINT), " +
            "(a, c) -> greatest(a, abs(c))) AS max_code")
    }),

    // ----- SOURCE OVERLAP matrix: pairwise vocabulary Jaccard between
    // sources — the corpus diagnostic that flags two "different" feeds
    // as the same crawl. Distinct (source, token) pairs self-join on
    // the token (vocab-sized, never corpus-sized); counts stay integer
    // with one division per pair -----
    "q_source_overlap" -> ((s, dir) => {
      // persist barrier on the distinct (source, token) set (vocab-sized):
      // it feeds the per-source sizes AND both self-join sides — without
      // it the tokenize+explode+distinct subtree executes three times
      val st = graft.operators.Dedup.persistTracked(
        TextAnalysis.withTokens(t(s, dir, "documents"), "text")
          .select(col("source"), explode(col("toks")).as("token"))
          .distinct())
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = st.select(col("source").as("s1"), col("token"))
        .join(st.select(col("source").as("s2"), col("token")), "token")
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("n_both"))
      inter
        .join(sizes.select(col("source").as("s1"), col("n").as("n1")), "s1")
        .join(sizes.select(col("source").as("s2"), col("n").as("n2")), "s2")
        .select(col("s1"), col("s2"), col("n_both"),
          expr("CAST(n_both AS DOUBLE) / (n1 + n2 - n_both)")
            .as("vocab_jaccard"))
    }),

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
    "q_source_tvd" -> ((s, dir) => {
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
    }),

    // ----- pairwise HELLINGER distance between the same source unigram
    // distributions — the TVD companion that weights shared mass
    // geometrically (more sensitive to head-word reweighting, bounded
    // like TVD). sqrt() IS correctly rounded IEEE in both engines, so
    // each per-word term floor(sqrt(ca·cb·1e12/(na·nb))) is bit-
    // deterministic, and the fixed-point terms sum as BIGINTs —
    // order-free. Same inner-join-only shape as q_source_tvd (private
    // words contribute zero to the Bhattacharyya sum by definition). -----
    "q_source_hellinger" -> ((s, dir) => {
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
    }),

    // ----- two-sample KOLMOGOROV-SMIRNOV statistic between user-parity
    // cohorts' purchase values, in EXACT integer arithmetic: at every
    // observed value, |F1 - F2| = |c1*n2 - c2*n1| / (n1*n2), so the max
    // runs over integers and the single division happens once at the
    // end — no order-dependent float accumulation (the same discipline
    // as the A/B z-test). One sort-window over distinct values -----
    "q_ks_test" -> ((s, dir) => {
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
    }),

    // ----- LENGTH-DISTRIBUTION DRIFT between sources: the exact-integer
    // two-sample KS statistic over doc lengths, src0 vs src1 — catches a
    // feed whose extraction started truncating (vocab-overlap and TVD
    // look at WORDS; this is the shape-of-documents drift). Same
    // max|c1·n2 − c2·n1| construction as q_ks_test, one final
    // division. -----
    "q_len_drift_ks" -> ((s, dir) => {
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
    }),

    // ----- CONVERSION LATENCY BUCKETS: the q_time_to_convert rollup —
    // what share of first purchases land within 1h / 24h / 7d of the
    // first click (exact integer second buckets; shares as one division
    // each) — the attribution-window sizing readout. -----
    "q_conversion_window" -> ((s, dir) => {
      val ttc = t(s, dir, "events")
        .withColumn("t_us", expr("ts div 1000"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click", col("t_us")))
            .as("fc"),
          min(when(col("event_type") === "purchase", col("t_us")))
            .as("fp"))
        .filter(col("fc").isNotNull && col("fp").isNotNull &&
          col("fp") >= col("fc"))
        .select(expr("(fp - fc) div 1000000").as("secs"))
      ttc.agg(count(lit(1)).as("n_converted"),
          sum(when(col("secs") <= 3600L, 1L).otherwise(0L)).as("in_1h"),
          sum(when(col("secs") <= 86400L, 1L).otherwise(0L)).as("in_24h"),
          sum(when(col("secs") <= 604800L, 1L).otherwise(0L)).as("in_7d"))
        .select(col("n_converted"), col("in_1h"), col("in_24h"), col("in_7d"),
          expr("CAST(in_1h AS DOUBLE) / n_converted").as("share_1h"),
          expr("CAST(in_24h AS DOUBLE) / n_converted").as("share_24h"))
    }),

    // ----- DEDUP SAVINGS accounting: per source, how many documents and
    // characters the near-dup cluster policy would drop (everything but
    // each cluster's min-id representative) — the storage/compute
    // savings readout a dedup rollout is justified with. Reuses the
    // cluster labels; only ids and char counts ride the joins -----
    "q_dedup_savings" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val dropped = Dedup.clusters(cand, "doc_a", "doc_b")
        .filter(col("cluster") =!= col("doc_a"))
        .select(col("doc_a").as("doc_id"))
      // shuffle_hash: dropped = the duplicate fraction's ids (8 B/row,
      // per-partition bounded) — hash-build it instead of sorting the
      // whole docs side for the semi join (opt guide §3.1)
      docs.join(dropped.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_dropped"),
          sum(col("n_chars")).as("chars_saved"))
    }),

    // ----- HHI supplier concentration per part-type prefix: the
    // Herfindahl-Hirschman index from exact integer quantity sums —
    // HHI = sum(q_i^2) / (sum(q_i))^2 needs no per-share division, so
    // there is no order-dependent float accumulation anywhere. BIGINT
    // headroom: q_i^2 sums stay under 2^63 through sf100; beyond that
    // lift the squares to DECIMAL(38,0) on both engines -----
    "q_hhi" -> ((s, dir) => {
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
    }),

    // ----- WEIGHTED MEDIAN per group: the price point at which half the
    // QUANTITY mass of each return-flag class has shipped — ordinary
    // medians ignore weights; inventory/royalty math needs the mass-
    // weighted one. One window cumsum over exact DECIMAL weights, the
    // answer is the first row whose cumulative weight crosses half the
    // total (integer/decimal compares only, no float accumulation) -----
    "q_weighted_median" -> ((s, dir) => {
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
    }),

    // ----- TIME-BOUNDED FUNNEL: view -> click within 1h of the first
    // view -> purchase within 24h of that click. Unlike q_funnel's
    // unbounded ordering, each stage has a deadline — the shape real
    // conversion analysis uses. Three per-user aggregations, each a
    // conditional min over the already-grouped events; no self-join
    // of the event stream -----
    "q_funnel_windowed" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("user_id", "event_type", "ts div 1000 AS t_us")
      // persist barriers: v feeds the click join AND the final funnel
      // spine; c feeds the purchase join AND the spine — unpersisted,
      // each stage's aggregation re-executes per consumer (events x6)
      val v = graft.operators.Dedup.persistTracked(
        ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("t_us")).as("t_view")))
      val c = graft.operators.Dedup.persistTracked(
        ev.filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("t_us") > col("t_view") &&
            col("t_us") <= col("t_view") + expr("3600000000"))
          .groupBy(col("user_id"), col("t_view"))
          .agg(min(col("t_us")).as("t_click")))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("t_us") > col("t_click") &&
          col("t_us") <= col("t_click") + expr("86400000000"))
        .groupBy(col("user_id")).agg(min(col("t_us")).as("t_buy"))
      v.join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(
          when(col("t_buy").isNotNull, lit(3L))
            .when(col("t_click").isNotNull, lit(2L))
            .otherwise(lit(1L)).as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
    }),

    // ----- USER PATH analysis: each user's first three events as an
    // ordered path string, counted across users — the "top paths into
    // the product" readout. One window over the user partition (the
    // stream never self-joins); deterministic tie-break on event_id -----
    "q_user_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      t(s, dir, "events")
        .selectExpr("user_id", "event_id", "event_type", "ts div 1000 AS t_us")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"))
        // collect_list order is partition-dependent: sort the (rn, type)
        // structs (rn leads, so sort_array restores event order) before
        // building the path string — deterministic under any shuffle
        .agg(expr("concat_ws('>', transform(" +
          "sort_array(collect_list(struct(rn, event_type))), " +
          "x -> x.event_type))").as("path0"))
        .groupBy(col("path0").as("path"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // ----- TOKENIZER FERTILITY by language: tokens-per-100-chars — the
    // compression diagnostic that decides per-language byte budgets in
    // a multilingual mix. Exact integer sums, one final division -----
    "q_tokenizer_fertility" -> ((s, dir) => {
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .withColumn("tokens_per_100_chars",
          expr("CAST(n_tokens * 100 AS DOUBLE) / n_chars"))
    }),

    // ----- LSH CALIBRATION curve: per signature-agreement count (the
    // estimate is k-quantized, so the bucket key is an exact integer
    // 0..12), how many candidate pairs there are and their MICRO-
    // averaged exact Jaccard (sum of intersections over sum of unions —
    // exact BIGINT sums, ONE division per bucket; a mean of per-pair
    // doubles would be an order-dependent float sum). Exact verify runs
    // only on LSH candidates, never all pairs — the curve answers "does
    // the sketch estimate track truth?" bucket by bucket -----
    "q_lsh_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"),
          expr("CAST(round(est_jaccard * 12) AS BIGINT)").as("k_agree"))
      val toks = Dedup.persistTracked(docs.select(col("doc_id"),
        array_distinct(transform(
          GraftFunctions.shingles(col("text"), 3),
          sh => GraftFunctions.polyHash(sh))).as("hs")))
      cands
        .join(toks.select(col("doc_id").as("doc_a"), col("hs").as("t_a")),
          "doc_a")
        .join(toks.select(col("doc_id").as("doc_b"), col("hs").as("t_b")),
          "doc_b")
        .withColumn("ov", GraftFunctions.setOverlap(col("t_a"), col("t_b")))
        .withColumn("un", size(col("t_a")) + size(col("t_b")) - col("ov"))
        .groupBy(col("k_agree"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("ov")).as("sum_ov"),
          sum(col("un").cast("long")).as("sum_un"))
        .select(col("k_agree"), col("n_pairs"),
          expr("CAST(sum_ov AS DOUBLE) / sum_un").as("micro_jaccard"))
    }),

    // ----- LSH S-CURVE: analytic candidate-collision probability
    // 1 - (1 - s^r)^b for the deployed (r=3, b=4) banding across a
    // similarity spine — the design readout that says WHICH Jaccard a
    // bucket join will actually catch (complements q_lsh_quality's
    // empirical precision/recall). Powers are expanded to explicit
    // multiplication chains (pow() is not correctly-rounded and drifts
    // across engines; bare multiplication is IEEE-exact) -----
    "q_lsh_scurve" -> ((s, dir) => {
      s.range(1, 20).toDF("i")
        .withColumn("sim", expr("i / 20.0e0"))
        .withColumn("p_band", expr("sim * sim * sim"))
        .withColumn("q1", expr("1.0e0 - p_band"))
        .withColumn("p_collide", expr("1.0e0 - (q1 * q1 * q1 * q1)"))
        .select(col("i"), col("sim"), col("p_collide"))
    }),

    // ----- BLOOM-FILTER JOIN PRUNING: the fact side is pre-filtered
    // map-side (no shuffle, no extra scan) by a 64 KiB Bloom filter of
    // the dim keys; the exact join that follows removes false positives,
    // so the composed result — and therefore the oracle — is exactly the
    // unpruned join. The 100 TB case this models: dim too big to
    // broadcast exactly, Bloom of it broadcast-trivial. -----
    "q_bloom_prune" -> ((s, dir) => {
      val dim = t(s, dir, "supplier").filter(col("s_nationkey") < 5)
      Bloom.prunedJoin(t(s, dir, "lineitem"), "l_suppkey", dim, "s_suppkey")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("revenue"))
    }),
    // Filter quality readout: bits set, pass/match/false-positive counts
    // — every count exact integer math with a DuckDB-replicated filter.
    "q_bloom_stats" -> ((s, dir) =>
      Bloom.stats(t(s, dir, "lineitem"), "l_suppkey",
        t(s, dir, "supplier").filter(col("s_nationkey") < 5), "s_suppkey")),

    // ----- PER-DOMAIN QUOTA (Common-Crawl "max n pages per domain"):
    // two-phase — broadcast per-source counts drive a hash pre-filter,
    // then the exact per-source window ranks only the survivors. -----
    "q_domain_quota" -> ((s, dir) =>
      Sampling.domainQuota(t(s, dir, "documents"), "doc_id", "source",
        n = 3, margin = 2)),

    // ----- SOURCE-MIXTURE RESAMPLING: deterministic hash-threshold
    // selection at per-source rates w_s/max(w) — the "books 3x, web 1x"
    // training-mix knob as a single narrow map + tiny aggregate. -----
    "q_mixture_sample" -> ((s, dir) =>
      Sampling.mixtureCounts(t(s, dir, "documents"), "doc_id", "source",
        mixtureWeights)),

    // ----- LM DOC SCORE (CCNet-style): worst 25 documents by mean
    // bigram conditional probability under the corpus's own LM. -----
    "q_lm_doc_score" -> ((s, dir) =>
      TextAnalysis.bigramDocScores(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("avg_p"), col("doc_id")).limit(25)),

    // ----- CCNet QUALITY BINS: per-language terciles (head/middle/tail)
    // of the LM doc score — the bucketing CCNet uses to stratify a crawl
    // by fluency before sampling. NTILE over a total order (score, id)
    // is deterministic; bin stats are count/min/max only (no float
    // sums). -----
    "q_quality_bins" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sc = TextAnalysis.bigramDocScores(docs, "doc_id", "text")
      sc.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("bin", ntile(3).over(
          Window.partitionBy(col("lang"))
            .orderBy(col("avg_p"), col("doc_id"))).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_p")).as("lo"), max(col("avg_p")).as("hi"))
    }),

    // ----- DSIR IMPORTANCE WEIGHTS (Xie et al. 2023): top-50 raw docs
    // by hashed-bigram likelihood ratio against the English slice as the
    // target domain — the data-selection scorer; mean fixed-point ratio
    // instead of sum-of-logs for exact cross-engine arithmetic (see
    // TextAnalysis.dsirWeights). -----
    "q_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
        .orderBy(col("dsir_w").desc, col("doc_id")).limit(50)),

    // ----- PER-DOC NOVELTY: fraction of a doc's bigrams first seen in
    // that doc (ingest order) — the greedy-coverage proxy; near-dup and
    // boilerplate tails score ~0 (the per-SOURCE marginal-diversity twin
    // is q_ngram_novelty). -----
    "q_doc_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text")),

    // ----- HEAPS'-LAW CURVE: cumulative tokens vs cumulative distinct
    // word types in doc-id order — the vocabulary-saturation readout. -----
    "q_heaps_law" -> ((s, dir) =>
      TextAnalysis.heapsLaw(t(s, dir, "documents"), "doc_id", "text")),

    // ----- BLOCKLIST SCAN: per-(source, pattern) occurrence counts over a
    // fixed phrase blocklist in ONE Aho–Corasick pass per document — the
    // unsafe-content / compliance filter stage. The automaton rides the
    // generated code as a single reference object (MultiPatternCounts), so
    // the corpus is read ONCE however long the blocklist grows; the
    // m-×-regexp alternative reads 100 TB m times. Greedy-left non-overlap
    // semantics give every pattern an exact replace-count oracle; the list
    // includes a self-overlapping pattern ('a a') and a suffix pair
    // ('scan' ⊂ 'slow scan') to pin the automaton's dict-link and
    // non-overlap behavior differentially. -----
    "q_blocklist_scan" -> ((s, dir) => {
      val counted = t(s, dir, "documents").select(col("source"),
        GraftFunctions.multiCount(col("text"), blocklistPats).as("cnts"))
      counted.select(col("source"), posexplode(col("cnts")).as(Seq("idx", "n")))
        .groupBy(col("source"),
          element_at(array(blocklistPats.map(lit): _*),
            col("idx").cast("int") + 1).as("pattern"))
        .agg(sum(col("n")).as("hits"),
          sum(when(col("n") > 0, 1L).otherwise(0L)).as("docs_hit"))
    }),

    // ----- NFC NORMALIZATION DEDUP AUDIT: per source, how many distinct
    // raw strings collapse once canonically composed (UAX #15 NFC) — the
    // mixed-editor/OCR duplicate class exact dedup misses. Variants are
    // derived in-query (composed U+00E9 vs decomposed e+U+0301 suffixes)
    // since the synthetic corpus is ASCII; real corpora carry both forms
    // natively. Scale shape: raw-distinct FIRST (strings dedup before the
    // normalizer runs), then NFC over the already-distinct set — the
    // native graft_nfc map has an ASCII no-allocation fast path and runs
    // inside the scan stage. JVM Normalizer and DuckDB's utf8proc both
    // implement the Unicode spec, so the oracle is exact. -----
    "q_nfc_dedup" -> ((s, dir) => {
      val v = t(s, dir, "documents")
        .select(col("source"), explode(array(
          concat(col("text"), lit(" café")), // composed U+00E9
          concat(col("text"), lit(" café")))).as("variant")) // e + U+0301
      val dv = Dedup.persistTracked(
        v.groupBy(col("source"), col("variant")).agg(count(lit(1)).as("n")))
      val raw = dv.groupBy(col("source"))
        .agg(sum(col("n")).as("n_variants"),
          count(lit(1)).as("n_raw_distinct"))
      val nn = dv.select(col("source"),
          GraftFunctions.nfc(col("variant")).as("nv")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("n_nfc_distinct"))
      raw.join(nn, Seq("source"))
        .withColumn("collapsed",
          col("n_raw_distinct") - col("n_nfc_distinct"))
    }),

    // ----- TEMPERATURE-SCALED MIXTURE (α = 0.5): the multilingual-LM
    // sampling rule p_i^α / Σ p_j^α that upsamples small sources without
    // letting the head dominate. α = 0.5 makes the power a SQUARE ROOT —
    // the one power both engines round correctly (pow() is not correctly
    // rounded and engine-specific), and the sqrt is floor-quantized to
    // BIGINT before the cross-source sum so the total is order-exact.
    // One tiny aggregate + a 1-row scalar cross — nothing rescans. -----
    "q_mix_temperature" -> ((s, dir) => {
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
    }),

    // ----- SYSTEMATIC PPS SAMPLE (probability ∝ size, k = 25 per
    // source): one pass, NO RNG — item selected iff its cumulative-weight
    // interval crosses a multiple of total/k, all in exact BIGINT floor
    // division, so the sample is deterministic and engine-identical.
    // Items heavier than the step are certainty items (selected once).
    // The prefix sum is the PER-SOURCE window — parallel across sources,
    // never a global single-partition sort; at 100 TB swap in the
    // two-phase exclusive prefix sum (q_scan_plan's shape) if one source
    // outgrows a partition. -----
    "q_pps_sample" -> ((s, dir) => {
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
    }),

    // ----- LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT: the 8/1/1 split is keyed
    // on the near-dup CLUSTER representative, not the doc id — so a
    // document and its near-duplicates land in the SAME split and eval
    // isn't contaminated by a training-set twin. Docs in no cluster key
    // on their own id. The guarantee is exact for clusters that converge
    // within the 3 bounded propagation rounds (diameter ≤ 3 — run more
    // rounds for pathological chains; see Dedup.clusters). -----
    "q_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val cl = Dedup.clusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
      // shuffle_hash: cl = cluster members only (id, label — 16 B/row);
      // same sort-removal rationale as q_dedup_savings (guide §3.1)
      docs.select(col("doc_id"))
        .join(cl.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
        .withColumn("bucket", expr(
          s"(${XFormulas.sparkStrHash("concat('split#', CAST(rep AS STRING))")}) % 10"))
        .withColumn("split", expr(
          "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_groups"))
    }),

    // ----- N-GRAM NOVELTY per source (data-valuation readout): how many
    // of a source's distinct bigrams appear in NO other source — the
    // marginal diversity a source contributes to the training mix. -----
    "q_ngram_novelty" -> ((s, dir) => {
      val sb = Dedup.persistTracked(t(s, dir, "documents")
        .select(col("source"), graft.functions.GraftFunctions
          .shingleRows(col("text"), 2).as("bigram"))
        .distinct())
      val ns = sb.groupBy(col("bigram"))
        .agg(countDistinct(col("source")).as("ns"))
      sb.join(ns, "bigram")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("ns") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty", expr("CAST(n_unique AS DOUBLE) / n_bigrams"))
    }),

    // ----- DATA-QUALITY CONSTRAINT AUDIT: the expectation-suite battery
    // every warehouse runs before trusting a load — referential
    // integrity, key uniqueness, range/nullability/ordering sanity —
    // each constraint a tiny aggregate, unioned into one report. All
    // checks are anti-joins or narrow filters: nothing corpus-sized
    // shuffles, dims broadcast. -----
    "q_dq_checks" -> ((s, dir) => {
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
    }),

    // ----- FUNCTIONAL-DEPENDENCY audit (schema profiling): does the
    // determinant column fix the dependent? Per FD one groupBy on the
    // determinant counting distinct dependents — never a global
    // multi-distinct (the q_profile Expand-cascade lesson); the three
    // tiny reports union. holds = no group with >1 distinct dependent.
    // -----
    "q_fd_audit" -> ((s, dir) => {
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
    }),

    // ----- BENFORD first-significant-digit audit (the classic fraud /
    // synthetic-data smell test on a monetary column). Entirely in
    // exact integer space: digit counts are exact, the Benford expected
    // shares log10(1+1/d) enter as fixed ppm LITERALS (they sum to
    // exactly 1e6), and observed-vs-expected deltas are BIGINT ppm —
    // no engine-specific log() anywhere. floor() before the digit
    // extraction, never CAST-to-int: decimal casts round half-up in
    // DuckDB but truncate in Spark. One narrow scan + a 9-group
    // aggregate; scales like a count(*). -----
    "q_benford" -> ((s, dir) => {
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
    }),

    // ----- TOKEN-BUDGET MIXTURE PLAN: given a total training-token
    // budget and per-source weights, allocate tokens ∝ weight and
    // estimate document draws — the planning readout behind
    // q_mixture_sample's execution knob. Pure integer division on exact
    // BIGINT token sums: the plan is engine-exact. -----
    "q_mix_plan" -> ((s, dir) => {
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
    }),

    // ----- WATERFILL MIXTURE PLAN: q_mix_plan with per-source
    // availability caps — proportional shares saturate small sources,
    // and the leftover budget redistributes among the unsaturated ones
    // ∝ weight (two redistribution rounds, the fixed-point of a 5-source
    // mix). Pure BIGINT window sums + integer division: engine-exact.
    // The readout every over-weighted low-resource source needs before
    // a training run commits to a mixture. -----
    "q_mix_waterfill" -> ((s, dir) => {
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
    }),

    // ----- NEYMAN-ALLOCATION EVAL SAMPLE PLAN: split a human-eval /
    // annotation budget across sources ∝ N_h·S_h (stratum size times
    // stratum stddev — the allocation minimizing the estimator's
    // variance; uniform and proportional allocation both waste budget
    // on low-variance strata). Variance from exact BIGINT moments, the
    // one quantization is round(1e6·N·S), then pure integer floor-share
    // + LARGEST-REMAINDER rounding so the allocation sums to the budget
    // exactly — engine-exact end to end. -----
    "q_neyman_sample" -> ((s, dir) => {
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
    }),

    // ----- QUALITY-STRATIFIED SAMPLING (the CCNet knob composed end to
    // end): score every doc under the corpus LM, tercile it per language
    // (tail/middle/head), then keep head 100%, middle 50%, tail 10% by
    // deterministic hash threshold — the full "filter a crawl by fluency"
    // pipeline as one declarative plan with an exact oracle. -----
    "q_quality_sample" -> ((s, dir) => {
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
    }),

    // ----- BLOOM NOVELTY INGEST: exact-fingerprint dedup of an ingest
    // batch against the standing corpus. Rows failing the base-corpus
    // Bloom mask are DEFINITELY novel (no false negatives) and bypass
    // the anti join entirely; only the duplicate+FPP sliver pays the
    // exchange. Result == plain anti join == the oracle. -----
    "q_bloom_ingest" -> ((s, dir) => {
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
    }),

    // ----- DEDUP-AWARE TRAINING WEIGHTS (soft dedup): instead of
    // dropping near-duplicates, weight every doc by 1/|its near-dup
    // cluster| so each cluster contributes ~one document of mass.
    // Per-source effective size = sum of weights — the honest "how much
    // unique data does this source bring" number that raw row counts
    // overstate. Weights are fixed-pointed (round(1e9/size) as BIGINT)
    // before summing so the aggregate is associative and engine-exact. -----
    "q_cluster_weights" -> ((s, dir) => {
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
    }),

    // ----- IVM for a JOIN view (the q_ivm_counts big sibling): view =
    // per-priority lineitem counts THROUGH the orders join. CDC delta
    // arrives on the FACT side only, so maintenance = old aggregate +
    // (delta ⋈ dim) — the delta join costs |delta|, never |fact|; the
    // direct recompute it must equal re-joins everything. The readout a
    // 100 TB nightly-refresh pipeline checks before trusting maintained
    // aggregates. -----
    "q_ivm_join" -> ((s, dir) => {
      // persist barrier: the 2-col fact projection fans out to the
      // base/delta filters, each consumed by a join + aggregate
      val li = Dedup.persistTracked(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")))
      // ord feeds all three aggregation paths — persist or scan ×3
      val ord = Dedup.persistTracked(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")))
      val base = li.filter(col("l_orderkey") % 13 =!= 0)
      val delta = li.filter(col("l_orderkey") % 13 === 0)
      def agg(fact: DataFrame) = fact
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      val maintained = agg(base)
        .withColumnRenamed("n", "n_old").withColumnRenamed("qty", "q_old")
        .join(agg(delta)
          .withColumnRenamed("n", "dn").withColumnRenamed("qty", "dq"),
          Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n_old"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("maintained_n"),
          (coalesce(col("q_old"), lit(BigDecimal(0)).cast(DecimalType(18, 2))) +
            coalesce(col("dq"), lit(BigDecimal(0)).cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 2)).as("maintained_qty"))
      val direct = agg(li)
        .withColumnRenamed("n", "direct_n").withColumnRenamed("qty", "direct_qty")
      maintained.join(direct, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          col("maintained_n"), col("direct_n"),
          col("maintained_qty").cast("double").as("maintained_qty"),
          col("direct_qty").cast("double").as("direct_qty"),
          (col("maintained_n") === col("direct_n") &&
            col("maintained_qty") === col("direct_qty")).as("consistent"))
    }),

    // ----- SCAN-SPLIT PLANNING readout: how a maxPartitionBytes-style
    // coalescer packs each source's docs (ordered by doc_id, exclusive
    // prefix-sum of bytes, split = floor(prefix / target)) — the
    // small-files diagnosis a compaction job is sized from: splits per
    // source, files per split, bytes per split. Pure window arithmetic,
    // one shuffle on source. -----
    "q_scan_plan" -> ((s, dir) => {
      val target = 4096L
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("prefix", coalesce(
          sum(col("n_chars")).over(Window.partitionBy(col("source"))
            .orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        // integer division (`div`), NOT double-divide-then-cast: Spark's
        // double→long cast truncates while DuckDB's rounds — div/`//`
        // are exact and identical in both engines
        .withColumn("split_id", expr(s"prefix div $target"))
        .groupBy(col("source"), col("split_id"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_chars")).as("split_chars"))
    }),

    // ----- MATRYOSHKA-TRUNCATION recall: search quality if only the
    // first 16 of 64 embedding dims are indexed (MRL-style truncation —
    // 4× less index memory and ADC work). Per query: |top-5 on 16 dims
    // ∩ top-5 on full dims| — the dimension-budget sizing readout next
    // to q_ann_recall_report's nprobe/m one. -----
    "q_ann_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = Dedup.persistTracked(emb.filter(col("vec_id") < 10))
      val truth = Dedup.persistTracked(
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
          .select(col("qid"), col("cid")))
      val sliced = emb.withColumn("emb16", expr("slice(embedding, 1, 16)"))
      val qs = q.withColumn("emb16", expr("slice(embedding, 1, 16)"))
      val trunc = Similarity.bruteForceTopK(sliced, qs, "vec_id",
          "emb16", k = 5)
        .select(col("qid"), col("cid"))
      truth.groupBy(col("qid")).agg(count(lit(1)).as("n_truth"))
        .join(truth.join(trunc, Seq("qid", "cid"))
          .groupBy(col("qid")).agg(count(lit(1)).as("n_hit")),
          Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_truth")).as("recall"))
    }),

    // ----- SEMANTIC DECONTAMINATION: corpus vectors whose nearest
    // benchmark vector exceeds a cosine threshold — the embedding-level
    // complement of q_decontaminate's n-gram overlap (catches
    // paraphrased benchmark leakage n-grams miss). Benchmark side is
    // broadcast-sized; corpus side streams through one scan. -----
    "q_contam_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = broadcast(emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("bench_id"), col("embedding").as("bv")))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"))
      val scored = corpus.crossJoin(bench)
        .select(col("vec_id"), col("bench_id"),
          GraftFunctions.cosineSim(col("embedding"), col("bv")).as("cosine"))
        .filter(col("cosine") >= 0.35)
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cosine").desc, col("bench_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("bench_id"), col("cosine"))
    }),

    // ----- REAL IMAGE RESIZE: decode each synthesized 4×3 P6 PPM and
    // nearest-neighbor downsample to 2×2 on actual pixel math
    // (all-integer sampling: srcX = x·srcW div dw) — the pre-feature
    // downsample stage, oracle-replayed byte-for-byte from the padded
    // text. Output is the four resized grays as scalar columns. -----
    "q_media_resize" -> ((s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .selectExpr("doc_id",
          "encode(concat('P6', chr(10), '4 3', chr(10), '255', chr(10), " +
            "rpad(text, 36, 'x')), 'UTF-8') AS bytes")
        .as[(Long, Array[Byte])]
      graft.operators.Multimodal.ppmResizeGrays(payloads, 2, 2)
        .toDF()
        .select(col("id").as("doc_id"), col("src_w"), col("src_h"),
          expr("grays[0]").as("g00"), expr("grays[1]").as("g01"),
          expr("grays[2]").as("g10"), expr("grays[3]").as("g11"))
    }),

    // ----- PERCEPTUAL IMAGE DEDUP: decode each synthesized P6 PPM with
    // the REAL pixel parser, compute the classic average-hash (integer
    // grayscale vs image mean, one bit per pixel), and pair documents
    // with IDENTICAL aHash — image near-dup as a groupBy of longs, no
    // pairwise pixel compare ever. The oracle replays the byte math in
    // SQL. -----
    "q_media_phash" -> ((s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .selectExpr("doc_id",
          "encode(concat('P6', chr(10), '4 3', chr(10), '255', chr(10), " +
            "rpad(text, 36, 'x')), 'UTF-8') AS bytes")
        .as[(Long, Array[Byte])]
      // persist: the hash frame feeds both sides of the pair self-join —
      // without the barrier every consumer re-decodes the corpus
      val h = Dedup.persistTracked(
        graft.operators.Multimodal.ppmAHash(payloads)
          .select(col("id").as("doc_id"), col("ahash")).toDF())
      h.select(col("doc_id").as("doc_a"), col("ahash"))
        .join(h.select(col("doc_id").as("doc_b"), col("ahash")), Seq("ahash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("ahash"))
    }),

    // ----- perceptual-hash NEAR-dup at Hamming <= 1 via the pigeonhole
    // blocks (exact recall — the generic hammingPairsExact primitive on
    // the 12-bit aHash, 2 disjoint 6-bit blocks); the oracle is the
    // naive all-pairs Hamming truth, so hash-equality PROVES the block
    // join misses nothing. q_media_phash's exact-hash grouping is the
    // cheap stage; this catches one-bit-off re-encodes. Hamming <= 1 is
    // the semantically meaningful cut for a 12-bit hash — at <= 3 a
    // random pair matches 7% of the time and the join is output-bound
    // noise, not dedup -----
    "q_media_hamming" -> ((s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .selectExpr("doc_id",
          "encode(concat('P6', chr(10), '4 3', chr(10), '255', chr(10), " +
            "rpad(text, 36, 'x')), 'UTF-8') AS bytes")
        .as[(Long, Array[Byte])]
      val h = Dedup.persistTracked(
        graft.operators.Multimodal.ppmAHash(payloads)
          .select(col("id").as("doc_id"), col("ahash")).toDF())
      Dedup.hammingPairsExact(h, "doc_id", "ahash",
        bits = 12, maxHamming = 1)
    })
  )

  /** Training-mix weights for q_mixture_sample (sources absent from the
    * map get weight 0 and are dropped — counted in `total` only). */
  private val mixtureWeights: Map[String, Long] =
    Map("src0" -> 4L, "src1" -> 2L, "src2" -> 1L, "src3" -> 3L, "src4" -> 1L)

  /** nDCG@10 discount weights round(1e6/log2(i+1)), i = 1..10, and their
    * cumulative sums (= ideal DCG of the first R ranks). Driver-side
    * constants embedded as literals in BOTH dialects — log() is not
    * engine-portable, a literal table is. */
  private val ndcgW: Seq[Long] =
    (1 to 10).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  private val ndcgCum: Seq[Long] = ndcgW.scanLeft(0L)(_ + _).tail

  /** DuckDB-equivalent SQL per query (same table names; same column
    * aliases — the driver's compare sorts columns by name). Integer sums
    * are CAST to BIGINT (DuckDB SUM(int) yields HUGEINT); decimal-exact
    * double sums mirror the Spark side. */
  def oracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity AS qty FROM lineitem",
    "q_filter_eq" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag
         FROM lineitem WHERE l_returnflag = 'R'""",
    "q_filter_neq" ->
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'",
    "q_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         FROM lineitem
         WHERE l_quantity >= 30 AND l_discount < 0.05 AND l_tax <= 0.05""",
    "q_filter_date" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'""",
    "q_join_equi" ->
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "q_join_theta_neq" ->
      """SELECT n_name, r_name
         FROM nation JOIN region ON n_regionkey <> r_regionkey""",
    "q_join_range" ->
      """SELECT a.s_suppkey AS richer, b.s_suppkey AS poorer
         FROM supplier a JOIN supplier b ON a.s_acctbal > b.s_acctbal""",
    "q_join_self" ->
      """SELECT n1.n_name AS nation_a, n2.n_name AS nation_b
         FROM nation n1 JOIN nation n2
           ON n1.n_regionkey = n2.n_regionkey
          AND n1.n_nationkey < n2.n_nationkey""",
    "q_join_compound" ->
      """SELECT p_brand, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part
           ON l_partkey = p_partkey AND l_quantity > p_size
         GROUP BY p_brand""",
    "q_range_join" ->
      """SELECT p_brand, COUNT(*) AS n_pairs
         FROM lineitem JOIN part ON abs(l_quantity - p_size) <= 2
         GROUP BY p_brand""",
    "q_range_join_auto" ->
      """SELECT p_brand, COUNT(*) AS n_pairs
         FROM lineitem JOIN part ON abs(l_quantity - p_size) <= 2
         GROUP BY p_brand""",
    "q_range_join_band" ->
      """SELECT p_brand, COUNT(*) AS n_pairs
         FROM lineitem JOIN part
           ON l_quantity >= p_size - 1 AND l_quantity <= p_size + 3
         GROUP BY p_brand""",
    "q_range_join_interval" ->
      """SELECT p_brand, COUNT(*) AS n_pairs
         FROM lineitem JOIN part
           ON l_quantity >= p_size AND l_quantity <= p_size + 5
         GROUP BY p_brand""",
    "q_join_multi" ->
      """SELECT r_name, n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue,
                COUNT(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q3_shipping" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1996-06-30'
         GROUP BY o_orderkey, odate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty,
                quantile_cont(l_quantity, 0.9) AS p90_qty
         FROM lineitem GROUP BY l_returnflag""",
    "q_group_having" ->
      """SELECT o_custkey, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12""",
    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_agg_global" ->
      """SELECT COUNT(*) AS cnt, COUNT(DISTINCT l_partkey) AS n_parts,
                MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
         FROM lineitem""",
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3"""
  ) ++ extensionOracleSql

  // DuckDB twins of the extension queries, generated from the same
  // XFormulas primitives as the Spark side (same hashes, same fold
  // order, same IEEE expression trees — bit-identical by construction).
  private def extensionOracleSql: Map[String, String] = {
    import XFormulas._
    val stop = duckStopHits("toks")
    // shared candidate-generation CTE chain for the shingle family
    val shingleCtes =
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
         sh AS (SELECT doc_id, list_distinct(${duckShingles("toks", 3)}) AS shingles FROM tk),
         hs AS (SELECT doc_id, ${duckWordHashes("shingles")} AS hs FROM sh)"""
    val minhashCtes =
      s"""$shingleCtes,
         sigs AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM hs),
         buckets AS (SELECT doc_id, mh, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                     FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands)"""
    // the all-pairs planar radius truth (the q_spatial_join oracle; the
    // streaming gate's cumulative pair table must reproduce it too)
    val spatialPairsTruth =
      """WITH p AS (SELECT c_custkey AS id, (c_custkey * 37) % 1000 AS x,
                           (c_custkey * 91) % 1000 AS y FROM customer)
         SELECT a.id AS id_a, b.id AS id_b,
                CAST((a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
         FROM p a JOIN p b ON a.id < b.id
         WHERE (a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y) <= 625"""
    // naive-scan exact-substring truth: ALL 30-grams of every doc,
    // matched by content, grouped into maximal diagonal runs — the
    // brute formulation of Dedup.duplicatedSubstrings' reduction.
    // `where` restricts the corpus (the streaming gate's slice).
    def substrRunCtes(where: String) =
      s"""WITH g AS (
           SELECT doc_id, pos, substr(text, CAST(pos AS INT), 30) AS gram
           FROM (SELECT doc_id, text,
                 unnest(generate_series(1, length(text) - 29)) AS pos
                 FROM documents$where)),
         m AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.pos AS pa, b.pos AS pb
           FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         r AS (
           SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
                  pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                          ORDER BY pa) AS isl
           FROM m),
         runs AS (
           SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
                  CAST(COUNT(*) + 29 AS BIGINT) AS len
           FROM r GROUP BY doc_a, doc_b, diag, isl)"""
    val substrCtes = substrRunCtes("")
    // deterministic partition-local next-fit packing, stepped by a
    // recursive CTE (one item per split per iteration, breadth-first
    // across splits) — the exact relational replay of Packing.nextFit
    val packCtes =
      s"""WITH RECURSIVE tk AS (
           SELECT doc_id, CAST(len(${duckTokens("text")}) AS BIGINT)
                    AS n_tokens
           FROM documents),
         it AS (SELECT doc_id, n_tokens, doc_id % 8 AS split,
                       ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                                          ORDER BY doc_id) AS rn
                FROM tk),
         pack AS (
           SELECT split, rn, doc_id, n_tokens,
                  CAST(0 AS BIGINT) AS bin, n_tokens AS used
           FROM it WHERE rn = 1
           UNION ALL
           SELECT i.split, i.rn, i.doc_id, i.n_tokens,
                  CASE WHEN p.used > 0 AND p.used + i.n_tokens > 512
                       THEN p.bin + 1 ELSE p.bin END,
                  CASE WHEN p.used > 0 AND p.used + i.n_tokens > 512
                       THEN i.n_tokens ELSE p.used + i.n_tokens END
           FROM pack p JOIN it i
             ON i.split = p.split AND i.rn = p.rn + 1)"""
    // bipartite twin (train slice x benchmark slice, no id ordering)
    val substrContamCtes =
      s"""WITH g AS (
           SELECT doc_id, pos, substr(text, CAST(pos AS INT), 30) AS gram
           FROM (SELECT doc_id, text,
                 unnest(generate_series(1, length(text) - 29)) AS pos
                 FROM documents)),
         m AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.pos AS pa, b.pos AS pb
           FROM (SELECT * FROM g WHERE doc_id % 10 <> 0) a
           JOIN (SELECT * FROM g WHERE doc_id % 10 = 0) b
             ON a.gram = b.gram),
         r AS (
           SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
                  pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                          ORDER BY pa) AS isl
           FROM m),
         runs AS (
           SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
                  CAST(COUNT(*) + 29 AS BIGINT) AS len
           FROM r GROUP BY doc_a, doc_b, diag, isl)"""
    // the naive positional phrase truth shared by the stored-index and
    // HOF-scan plans ('slow hash batch', 1-based positions)
    val phraseOracle =
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
         w AS (SELECT doc_id, unnest(toks) AS word,
                      generate_subscripts(toks, 1) AS pos FROM tk),
         a AS (SELECT doc_id, pos AS p FROM w WHERE word = 'slow'),
         b AS (SELECT doc_id, pos - 1 AS p FROM w WHERE word = 'hash'),
         c AS (SELECT doc_id, pos - 2 AS p FROM w WHERE word = 'batch'),
         m AS (SELECT doc_id, p FROM a
               JOIN b USING (doc_id, p) JOIN c USING (doc_id, p))
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
                CAST(MIN(p) AS BIGINT) AS first_pos
         FROM m GROUP BY doc_id"""
    // unrolled Lloyd k-means rounds (the label-propagation trick),
    // shared by the learned-IVF and SemDeDup oracles: assignN = nearest
    // centroid by squared-L2 with ties to the lowest cell; centroid
    // update = floor-quantized 1e-12 BIGINT per-position mean cast back
    // to DOUBLE (order- AND engine-independent — the IVF-PQ oracle
    // consumes centroid VALUES, not just assignments); empty
    // cells inherit the previous centroid via COALESCE. The chain ends
    // at c2 (the 2-round codebook) and cc (the final assignment).
    def kmAssign(cents: String, alias: String, filter: String) =
      s"""$alias AS (SELECT vec_id, v, cell FROM (
            SELECT d.vec_id, d.v, i.cell,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id
                     ORDER BY ${duckSqDist("i.c", "d.v", 64)}, i.cell) AS rn
            FROM dv d CROSS JOIN $cents i) WHERE rn = 1$filter)"""
    def kmUpdate(assigned: String, prev: String, alias: String) =
      s"""${alias}s AS (SELECT cell, j AS pos,
              CAST(SUM(CAST(floor(v[j] * 1e12) AS BIGINT)) AS DOUBLE)
                / COUNT(*) / 1e12 AS cv
            FROM $assigned CROSS JOIN (SELECT unnest(range(1, 65)) AS j) js
            GROUP BY cell, j),
          $alias AS (SELECT i.cell, COALESCE(n.c, i.c) AS c
            FROM $prev i LEFT JOIN (SELECT cell, list(cv ORDER BY pos) AS c
                                    FROM ${alias}s GROUP BY cell) n
              ON i.cell = n.cell)"""
    val kmeansChain =
      s"""dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                        embedding FROM embeddings),
         init AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                  FROM dv ORDER BY vec_id LIMIT 8),
         ${kmAssign("init", "a1", "")},
         ${kmUpdate("a1", "init", "c1")},
         ${kmAssign("c1", "a2", "")},
         ${kmUpdate("a2", "c1", "c2")},
         ${kmAssign("c2", "cc", "")}"""
    // shared by q_ann_ivf2 and q_ann_ivf_stored (the stored index is
    // result-transparent: same codebook, same probes, same tie-break)
    val ivf2Oracle =
      s"""WITH $kmeansChain,
         qq AS (SELECT vec_id, cell FROM (
                  SELECT d.vec_id, i.cell,
                         ROW_NUMBER() OVER (PARTITION BY d.vec_id
                           ORDER BY ${duckSqDist("i.c", "d.v", 64)}, i.cell) AS rn
                  FROM dv d CROSS JOIN c2 i) WHERE rn <= 2 AND vec_id < 10),
         scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                           ${duckCosine("qe.embedding", "ce.embedding")} AS cosine
                    FROM qq q JOIN cc c ON q.cell = c.cell AND q.vec_id <> c.vec_id
                    JOIN embeddings qe ON qe.vec_id = q.vec_id
                    JOIN embeddings ce ON ce.vec_id = c.vec_id),
         r AS (SELECT qid, cid, cosine,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
               FROM scored)
         SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 3"""
    // one unrolled per-subspace Lloyd round over a CTE `v` (vec_id, dv):
    // assign codes with the previous book, per-(subspace, code, dim)
    // floor-quantized means, empty cells keep the previous codeword —
    // mirrors Similarity.pqTrainCodebook exactly. Shared by the flat
    // trained-PQ oracle (v = raw vectors) and the IVF-PQ oracle (v =
    // coarse-cell residuals); CTE names are parameterized so the chain
    // can coexist with kmeansChain's a1/a2.
    def pqRound(prev: String, aN: String, mN: String, fN: String,
        cbN: String): String =
      s"""$aN AS (SELECT dv, ${duckPqCodes("dv", "cb", 8, 16, 8)} AS codes
            FROM v CROSS JOIN $prev),
       ${aN}e AS (SELECT jj.j AS j, codes[CAST(jj.j + 1 AS INT)] AS c,
              pp.p AS p, dv[CAST(jj.j * 8 + pp.p + 1 AS INT)] AS val
            FROM $aN,
              (SELECT unnest(range(0, 8)) AS j) jj,
              (SELECT unnest(range(0, 8)) AS p) pp),
       $mN AS (SELECT j, c, p,
              CAST(SUM(CAST(floor(val * 1e12) AS BIGINT)) AS DOUBLE)
                / COUNT(*) / 1e12 AS cv
            FROM ${aN}e GROUP BY j, c, p),
       $fN AS (SELECT cs.c AS c, gp.gp AS gp,
              COALESCE($mN.cv,
                $prev.cb[CAST(cs.c + 1 AS INT)][CAST(gp.gp + 1 AS INT)]) AS val
            FROM (SELECT unnest(range(0, 16)) AS c) cs
            CROSS JOIN (SELECT unnest(range(0, 64)) AS gp) gp
            CROSS JOIN $prev
            LEFT JOIN $mN ON $mN.c = cs.c AND $mN.j = gp.gp // 8
              AND $mN.p = gp.gp % 8),
       $cbN AS (SELECT list(vec ORDER BY c) AS cb FROM
            (SELECT c, list(val ORDER BY gp) AS vec FROM $fN GROUP BY c))"""
    // one BPE training round over dictionary `prev` (cnt, syms):
    // weighted adjacent-pair counts, lexicographic-tie top pair, greedy
    // left-to-right rewrite — mirrors TextAnalysis.bpeTrain exactly.
    // Shared by the merge-table and compression-readout oracles.
    def bpeRound(prev: String, pN: String, tN: String, wN: String) =
      s"""$pN AS (SELECT struct_extract(pr, 'l') AS lsym,
              struct_extract(pr, 'r') AS rsym,
              CAST(SUM(cnt) AS BIGINT) AS freq
            FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
                    i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS pr
                  FROM $prev) GROUP BY 1, 2),
       $tN AS (SELECT lsym, rsym, freq FROM $pN
            ORDER BY freq DESC, lsym, rsym LIMIT 1),
       $wN AS (SELECT cnt, list_reduce(list_transform(syms, s -> [s]),
              (acc, x) -> CASE WHEN acc[-1] = $tN.lsym AND x[1] = $tN.rsym
                THEN list_append(acc[1:len(acc) - 1], $tN.lsym || $tN.rsym)
                ELSE list_concat(acc, x) END) AS syms
            FROM $prev CROSS JOIN $tN)"""
    // IVF-PQ: coarse k-means chain → per-vector residuals → 2 trained
    // PQ rounds on residuals → probe-2 ADC serving. Shared by the
    // in-memory and stored-index queries (storage is result-transparent).
    val ivfpqOracle =
      s"""WITH $kmeansChain,
         res AS (SELECT cc.vec_id, cc.cell,
                list_transform(range(1, 65), i -> cc.v[i] - ct.c[i]) AS dv
              FROM cc JOIN c2 ct ON cc.cell = ct.cell),
         v AS (SELECT vec_id, dv FROM res),
         cb0 AS (SELECT list(dv ORDER BY vec_id) AS cb FROM v
              WHERE vec_id % 31 = 0 AND vec_id < 496),
         ${pqRound("cb0", "pa1", "pm1", "pf1", "pcb1")},
         ${pqRound("pcb1", "pa2", "pm2", "pf2", "pcb2")},
         enc AS (SELECT r.vec_id, r.cell, cb,
                ${duckPqCodes("r.dv", "cb", 8, 16, 8)} AS codes
              FROM res r CROSS JOIN pcb2),
         qq AS (SELECT vec_id, cell FROM (
                SELECT d.vec_id, i.cell,
                       ROW_NUMBER() OVER (PARTITION BY d.vec_id
                         ORDER BY ${duckSqDist("i.c", "d.v", 64)}, i.cell) AS rn
                FROM dv d CROSS JOIN c2 i) WHERE rn <= 2 AND vec_id < 10),
         qres AS (SELECT q.vec_id AS qid, q.cell,
                list_transform(range(1, 65), i -> d.v[i] - ct.c[i]) AS qv
              FROM qq q JOIN dv d ON d.vec_id = q.vec_id
              JOIN c2 ct ON ct.cell = q.cell),
         scored AS (SELECT q.qid, e.vec_id AS cid,
                ${duckPqAdc("q.qv", "e.codes", "e.cb", 8, 8)} AS adc
              FROM qres q JOIN enc e ON q.cell = e.cell AND q.qid <> e.vec_id),
         r AS (SELECT qid, cid, adc,
                CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cid) AS BIGINT) AS rnk
               FROM scored)"""
    val ivfpqOracleTop5 =
      s"""$ivfpqOracle
         SELECT qid, cid, adc, rnk FROM r WHERE rnk <= 5"""
    // refine funnel: ADC top-20 shortlist, exact cosine re-rank to 5
    val ivfpqRefinedOracle =
      s"""$ivfpqOracle,
         sl AS (SELECT qid, cid FROM r WHERE rnk <= 20),
         ex AS (SELECT s.qid, s.cid,
                ${duckCosine("qe.embedding", "ce.embedding")} AS cosine
              FROM sl s JOIN embeddings qe ON qe.vec_id = s.qid
              JOIN embeddings ce ON ce.vec_id = s.cid),
         r2 AS (SELECT qid, cid, cosine,
                CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY cosine DESC, cid) AS BIGINT) AS "rank"
               FROM ex)
         SELECT qid, cid, cosine, "rank" FROM r2 WHERE "rank" <= 5"""
    val bpeChain =
      s"""tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
         wd AS (SELECT unnest(toks) AS word FROM tk),
         wc AS (SELECT word, COUNT(*) AS cnt FROM wd GROUP BY word),
         w0 AS (SELECT cnt, list_transform(range(1, length(word) + 1),
                i -> word[i:i]) AS syms FROM wc),
         ${bpeRound("w0", "p1", "t1", "w1")},
         ${bpeRound("w1", "p2", "t2", "w2")},
         ${bpeRound("w2", "p3", "t3", "w3")}"""
    Map(
      "q_text_stats" ->
        s"""WITH tk AS (SELECT doc_id, text, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(length(text) AS BIGINT) AS text_len,
                  CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) AS avg_token_len,
                  CAST($stop AS BIGINT) AS stop_hits
           FROM tk""",
      "q_text_lang" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, CASE WHEN $stop >= 2 THEN 'en'
                               WHEN $stop >= 1 THEN 'maybe_en'
                               ELSE 'other' END AS lang_guess
           FROM tk""",
      "q_langid_confusion" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id, CASE WHEN $stop >= 2 THEN 'en'
                               WHEN $stop >= 1 THEN 'maybe_en'
                               ELSE 'other' END AS lang_guess
                 FROM tk),
           cells AS (SELECT d.lang, g.lang_guess,
                            CAST(COUNT(*) AS BIGINT) AS n_docs
                     FROM documents d JOIN g USING (doc_id)
                     GROUP BY d.lang, g.lang_guess),
           t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
                 FROM cells GROUP BY lang)
           SELECT cells.lang, lang_guess, n_docs,
                  CAST(n_docs AS DOUBLE) / n_lang AS cell_rate
           FROM cells JOIN t ON cells.lang = t.lang""",
      "q_text_quality" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id,
                  0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
                  0.3 * (CAST($stop AS DOUBLE) / len(toks)) +
                  0.3 * (CAST(len(list_filter(toks, w -> length(w) <= 5)) AS DOUBLE) / len(toks)) AS quality
           FROM tk""",
      "q_text_fingerprint" ->
        s"""SELECT doc_id, ${duckStrHash("text")} AS fp FROM documents""",
      "q_dedup_exact" ->
        "SELECT text, MIN(doc_id) AS keeper, COUNT(*) AS n_copies FROM documents GROUP BY text",
      "q_segment_dedup" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ex AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS pos
                FROM tk WHERE len(toks) >= 1),
           ch AS (SELECT doc_id, pos,
                  array_to_string(toks[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS chunk
                FROM ex),
           rk AS (SELECT doc_id, pos, chunk,
                  ROW_NUMBER() OVER (PARTITION BY chunk
                    ORDER BY doc_id, pos) AS rn
                FROM ch)
           SELECT doc_id,
                  COALESCE(array_to_string(
                    list(chunk ORDER BY pos) FILTER (WHERE rn = 1), ' '),
                    '') AS clean_text,
                  COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
                  COUNT(*) FILTER (WHERE rn > 1) AS n_dropped
           FROM rk GROUP BY doc_id""",
      "q_boilerplate" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ex AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS pos
                FROM tk WHERE len(toks) >= 1),
           ch AS (SELECT doc_id, pos,
                  array_to_string(toks[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS chunk
                FROM ex),
           hs AS (SELECT doc_id, pos, chunk, ${duckStrHash("chunk")} AS h FROM ch),
           bo AS (SELECT h FROM hs GROUP BY h
                  HAVING COUNT(DISTINCT doc_id) >= 3),
           fl AS (SELECT hs.doc_id, hs.pos, hs.chunk,
                  (bo.h IS NOT NULL) AS boiler
                FROM hs LEFT JOIN bo ON hs.h = bo.h)
           SELECT doc_id,
                  COALESCE(array_to_string(
                    list(chunk ORDER BY pos) FILTER (WHERE NOT boiler), ' '),
                    '') AS clean_text,
                  CAST(COUNT(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
                  CAST(COUNT(*) FILTER (WHERE boiler) AS BIGINT) AS n_boiler
           FROM fl GROUP BY doc_id""",
      // streaming prefix fold: per-(hash, batch) distinct-doc counts
      // summed cumulatively; each doc judged at ITS batch's support
      "q_boilerplate_gate" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ex AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS pos
                FROM tk WHERE len(toks) >= 1),
           ch AS (SELECT doc_id, pos,
                  array_to_string(toks[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS chunk
                FROM ex),
           hs AS (SELECT doc_id, pos, chunk, ${duckStrHash("chunk")} AS h,
                  doc_id % 3 AS b FROM ch),
           hb AS (SELECT h, b, COUNT(DISTINCT doc_id) AS c
                  FROM hs GROUP BY 1, 2),
           cum AS (SELECT h, b, SUM(c) OVER (PARTITION BY h ORDER BY b) AS sup
                   FROM hb),
           fl AS (SELECT hs.doc_id, hs.pos, hs.chunk,
                  (cum.sup >= 3) AS boiler
                FROM hs JOIN cum ON hs.h = cum.h AND hs.b = cum.b)
           SELECT doc_id,
                  COALESCE(array_to_string(
                    list(chunk ORDER BY pos) FILTER (WHERE NOT boiler), ' '),
                    '') AS clean_text,
                  CAST(COUNT(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
                  CAST(COUNT(*) FILTER (WHERE boiler) AS BIGINT) AS n_boiler
           FROM fl GROUP BY doc_id""",
      // takedown: forgotten rows (batch <= 1, doc_id % 5 = 0) deleted
      // from the output; batch-2 docs judged at the cumulative support
      // MINUS the forgotten docs' contributions (the CRDT negation)
      "q_boilerplate_forget" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ex AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS pos
                FROM tk WHERE len(toks) >= 1),
           ch AS (SELECT doc_id, pos,
                  array_to_string(toks[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS chunk
                FROM ex),
           hs AS (SELECT doc_id, pos, chunk, ${duckStrHash("chunk")} AS h,
                  doc_id % 3 AS b FROM ch),
           hb AS (SELECT h, b, COUNT(DISTINCT doc_id) AS c
                  FROM hs GROUP BY 1, 2),
           cum AS (SELECT h, b, SUM(c) OVER (PARTITION BY h ORDER BY b) AS sup
                   FROM hb),
           fb AS (SELECT h, COUNT(DISTINCT doc_id) AS fc FROM hs
                  WHERE doc_id % 5 = 0 AND b < 2 GROUP BY h),
           fl AS (SELECT hs.doc_id, hs.pos, hs.chunk,
                  (cum.sup - CASE WHEN hs.b = 2 THEN COALESCE(fb.fc, 0)
                             ELSE 0 END >= 3) AS boiler
                FROM hs JOIN cum ON hs.h = cum.h AND hs.b = cum.b
                LEFT JOIN fb ON hs.h = fb.h)
           SELECT doc_id,
                  COALESCE(array_to_string(
                    list(chunk ORDER BY pos) FILTER (WHERE NOT boiler), ' '),
                    '') AS clean_text,
                  CAST(COUNT(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
                  CAST(COUNT(*) FILTER (WHERE boiler) AS BIGINT) AS n_boiler
           FROM fl
           WHERE NOT (doc_id % 5 = 0 AND doc_id % 3 < 2)
           GROUP BY doc_id""",
      "q_boilerplate_stats" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ex AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS pos
                FROM tk WHERE len(toks) >= 1),
           ch AS (SELECT doc_id, pos,
                  array_to_string(toks[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS chunk
                FROM ex),
           hs AS (SELECT doc_id, pos, ${duckStrHash("chunk")} AS h FROM ch),
           bo AS (SELECT h FROM hs GROUP BY h
                  HAVING COUNT(DISTINCT doc_id) >= 3)
           SELECT CAST(COUNT(*) FILTER (WHERE bo.h IS NOT NULL) AS BIGINT)
                    AS n_boiler_occ,
                  CAST(COUNT(*) AS BIGINT) AS n_segments,
                  CAST(COUNT(*) FILTER (WHERE bo.h IS NOT NULL) AS DOUBLE) /
                    COUNT(*) AS boiler_frac
           FROM hs LEFT JOIN bo ON hs.h = bo.h""",
      "q_sql_global_rank" ->
        """SELECT o_orderkey,
          |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS rn,
          |  CAST(rank() OVER (ORDER BY o_orderpriority) AS BIGINT) AS rk,
          |  CAST(dense_rank() OVER (ORDER BY o_orderpriority)
          |    AS BIGINT) AS dr,
          |  CAST(ntile(7) OVER (ORDER BY o_totalprice DESC, o_orderkey)
          |    AS BIGINT) AS nt,
          |  percent_rank() OVER (ORDER BY o_orderpriority) AS pr
          |FROM orders""".stripMargin,
      "q_cdc_segments" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           tok AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos
                 FROM tk WHERE len(toks) >= 1),
           tw AS (SELECT doc_id, pos, toks[pos + 1] AS tok,
                  array_to_string(toks[greatest(pos + 2 - 3, 1):(pos + 1)], ' ')
                    AS wtext
                FROM tok),
           bf AS (SELECT doc_id, pos, tok,
                  CASE WHEN ${duckStrHash("wtext")} % 8 = 0
                    THEN 1 ELSE 0 END AS b
                FROM tw),
           sg AS (SELECT doc_id, pos, tok,
                  SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b
                    AS seg
                FROM bf),
           st AS (SELECT doc_id, seg,
                  string_agg(tok, ' ' ORDER BY pos) AS seg_text,
                  COUNT(*) AS seg_tokens
                FROM sg GROUP BY doc_id, seg),
           hs AS (SELECT doc_id, ${duckStrHash("seg_text")} AS seg_hash,
                  seg_tokens FROM st)
           SELECT seg_hash,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                  CAST(COUNT(*) AS BIGINT) AS n_occ,
                  CAST(MIN(seg_tokens) AS BIGINT) AS seg_tokens
           FROM hs GROUP BY seg_hash
           HAVING COUNT(DISTINCT doc_id) >= 2""",
      "q_sql_running" ->
        """SELECT o_orderkey,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS run_rev,
          |  count(*) OVER (ORDER BY o_orderdate, o_orderkey) AS run_n,
          |  max(o_totalprice)
          |    OVER (ORDER BY o_orderdate, o_orderkey) AS run_max,
          |  cume_dist() OVER (ORDER BY o_orderpriority) AS cd
          |FROM orders""".stripMargin,
      "q_sql_share" ->
        """SELECT o_orderkey,
          |  CAST(o_totalprice AS DOUBLE) /
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER ()
          |      AS DOUBLE) AS price_share,
          |  count(*) OVER () AS n_total,
          |  max(o_totalprice) OVER () AS max_price
          |FROM orders""".stripMargin,
      "q_dedup_minhash_lsh" ->
        s"""$minhashCtes
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM buckets a JOIN buckets b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""",
      "q_dedup_thresholds" ->
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
                  CAST(SUM(CASE WHEN est >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_03,
                  CAST(SUM(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_05,
                  CAST(SUM(CASE WHEN est >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_07
           FROM cand""",
      "q_dedup_source_matrix" ->
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT least(da.source, db.source) AS src1,
                  greatest(da.source, db.source) AS src2,
                  CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM cand
           JOIN documents da ON cand.doc_a = da.doc_id
           JOIN documents db ON cand.doc_b = db.doc_id
           WHERE est >= 0.5
           GROUP BY 1, 2""",
      "q_contrastive_pairs" ->
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           pos AS (SELECT doc_a AS anchor, doc_b AS positive FROM cand WHERE est >= 0.5),
           nd AS (SELECT MAX(doc_id) AS mx FROM documents),
           wn AS (SELECT anchor, positive,
                    ((anchor * 2654435761 + positive * 97) % 1000000007) % (mx + 1) AS negative
                  FROM pos CROSS JOIN nd)
           SELECT anchor, positive, negative FROM wn
           WHERE negative <> anchor AND negative <> positive
             AND NOT EXISTS (SELECT 1 FROM cand c
               WHERE least(anchor, negative) = c.doc_a
                 AND greatest(anchor, negative) = c.doc_b)""",
      // char 6-gram MinHash: grams are positional char-window hashes of
      // the lowercased text (character-indexed substr, same polyHash
      // fold), deduped before the signature
      "q_dedup_char_ngram" ->
        s"""WITH chs AS (SELECT doc_id, list_distinct(list_transform(
                   range(1, length(lower(text)) - 4),
                   i -> ${duckStrHash("substr(lower(text), CAST(i AS INT), 6)")})) AS hs
                 FROM documents),
           sigs AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM chs),
           buckets AS (SELECT doc_id, mh, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                       FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands)
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM buckets a JOIN buckets b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""",
      "q_dedup_capped" ->
        s"""$minhashCtes,
           capped AS (SELECT doc_id, mh, band, bucket FROM (
                        SELECT doc_id, mh, band, bucket,
                               COUNT(*) OVER (PARTITION BY band, bucket) AS bucket_n
                        FROM buckets)
                      WHERE bucket_n <= 8)
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM capped a JOIN capped b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""",
      "q_substr_dup" ->
        s"""$substrCtes
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs""",
      // partition-local next-fit replayed as a recursive CTE stepping
      // one item per split per iteration — the same fold, relationally
      "q_pack_nextfit" ->
        s"""$packCtes
           SELECT doc_id, n_tokens, split AS pack_split,
                  CAST(split * 1000000 + bin AS BIGINT) AS pack_bin
           FROM pack""",
      "q_pack_stats" ->
        s"""$packCtes,
           bins AS (SELECT split, bin, COUNT(*) AS n_items,
                           CAST(SUM(n_tokens) AS BIGINT) AS fill
                    FROM pack GROUP BY split, bin)
           SELECT split AS pack_split, CAST(COUNT(*) AS BIGINT) AS n_bins,
                  CAST(SUM(n_items) AS BIGINT) AS n_items,
                  CAST(SUM(fill) AS BIGINT) AS total_weight,
                  CAST(SUM(GREATEST(0, 512 - fill)) AS BIGINT)
                    AS padding_waste
           FROM bins GROUP BY split""",
      // the streaming gate's cumulative table vs the one-shot truth
      // over the SAME deterministic slice the gate streams
      "q_substr_gate" ->
        s"""${substrRunCtes(" WHERE doc_id % 3 = 0")}
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs""",
      // mid-stream bucket migration is result-invisible: same dense
      // truth, different slice (the gate streams doc_id % 3 = 2)
      "q_substr_gate_rebucket" ->
        s"""${substrRunCtes(" WHERE doc_id % 3 = 2")}
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs""",
      // takedown mid-stream: the served output equals the dense truth
      // over the slice MINUS the forgotten docs (doc_id % 5 = 0) —
      // pairs from emitted history, forgotten-stored-vs-new-arrival,
      // and forgotten-new-arrival are all excluded
      "q_substr_forget" ->
        s"""${substrRunCtes(" WHERE doc_id % 3 = 1 AND doc_id % 5 <> 0")}
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs""",
      // sampled-anchor mode: the dense truth filtered to the documented
      // reporting bound (len >= minLen + w - 1 = 37)
      "q_substr_dup_sampled" ->
        s"""$substrCtes
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs
           WHERE len >= 37""",
      // cross-snapshot diff: replay the fixture's two logical snapshots
      // (old = ids < 450; new = ids >= 30 with 60-70 edited) and
      // classify per doc, counting token drift over the diff sets only
      "q_corpus_diff" ->
        s"""WITH o0 AS (SELECT doc_id, source, text FROM documents
                        WHERE doc_id < 450),
           n0 AS (SELECT doc_id, source,
                         CASE WHEN doc_id BETWEEN 60 AND 70
                              THEN text || ' v2' ELSE text END AS text
                  FROM documents WHERE doc_id >= 30),
           j AS (SELECT COALESCE(n.source, o.source) AS source,
                        CASE WHEN o.doc_id IS NULL THEN 'added'
                             WHEN n.doc_id IS NULL THEN 'removed'
                             WHEN o.text <> n.text THEN 'changed'
                             ELSE 'unchanged' END AS k,
                        CASE WHEN o.doc_id IS NULL THEN 0
                             ELSE len(${duckTokens("o.text")}) END AS ot,
                        CASE WHEN n.doc_id IS NULL THEN 0
                             ELSE len(${duckTokens("n.text")}) END AS nt
                 FROM o0 o FULL OUTER JOIN n0 n ON o.doc_id = n.doc_id)
           SELECT source,
                  CAST(SUM(CASE WHEN k = 'added' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_added,
                  CAST(SUM(CASE WHEN k = 'removed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed,
                  CAST(SUM(CASE WHEN k = 'changed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_changed,
                  CAST(SUM(CASE WHEN k = 'added' THEN nt
                                WHEN k = 'removed' THEN -ot
                                ELSE nt - ot END) AS BIGINT)
                    AS token_delta
           FROM j WHERE k <> 'unchanged' GROUP BY source""",
      // bipartite: train grams x benchmark grams, same islands grouping
      "q_substr_contam" ->
        s"""$substrContamCtes
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs""",
      // decontamination excise: spans land on the TRAIN (doc_a) side
      "q_substr_decon" ->
        s"""$substrContamCtes,
           sp AS (SELECT DISTINCT doc_a AS doc_id, start_a AS s,
                         start_a + len AS e FROM runs),
           o AS (
             SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                 ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS ng
             FROM sp),
           grp AS (SELECT doc_id, s, e,
                          SUM(ng) OVER (PARTITION BY doc_id ORDER BY s, e) AS gid
                   FROM o),
           mg AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e
                  FROM grp GROUP BY doc_id, gid),
           seg AS (
             SELECT doc_id,
                    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s),
                             1) AS ks,
                    s AS ke
             FROM mg
             UNION ALL
             SELECT mg.doc_id, MAX(mg.e) AS ks, MAX(length(d.text)) + 1 AS ke
             FROM mg JOIN documents d USING (doc_id) GROUP BY mg.doc_id)
           SELECT seg.doc_id, CAST(length(d.text) AS BIGINT) AS orig_len,
                  CAST(string_agg(substr(d.text, CAST(ks AS INT),
                    CAST(ke - ks AS INT)), '' ORDER BY ks) AS VARCHAR)
                    AS clean_text
           FROM seg JOIN documents d USING (doc_id)
           GROUP BY seg.doc_id, d.text""",
      // excise: merge the higher-id docs' spans (running-max islands),
      // then stitch the kept gaps back together with string_agg —
      // including the fully-excised docs (clean_text = '')
      "q_substr_excise" ->
        s"""$substrCtes,
           sp AS (SELECT DISTINCT doc_b AS doc_id, start_b AS s,
                         start_b + len AS e FROM runs),
           o AS (
             SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                 ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS ng
             FROM sp),
           grp AS (SELECT doc_id, s, e,
                          SUM(ng) OVER (PARTITION BY doc_id ORDER BY s, e) AS gid
                   FROM o),
           mg AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e
                  FROM grp GROUP BY doc_id, gid),
           seg AS (
             SELECT doc_id,
                    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s),
                             1) AS ks,
                    s AS ke
             FROM mg
             UNION ALL
             SELECT mg.doc_id, MAX(mg.e) AS ks, MAX(length(d.text)) + 1 AS ke
             FROM mg JOIN documents d USING (doc_id) GROUP BY mg.doc_id)
           SELECT seg.doc_id, CAST(length(d.text) AS BIGINT) AS orig_len,
                  CAST(string_agg(substr(d.text, CAST(ks AS INT),
                    CAST(ke - ks AS INT)), '' ORDER BY ks) AS VARCHAR)
                    AS clean_text
           FROM seg JOIN documents d USING (doc_id)
           GROUP BY seg.doc_id, d.text""",
      // DuckDB's levenshtein is the same classic character-level DP as
      // Spark's (ASCII corpus — no code-unit ambiguity); candidates are
      // the shared LSH blocking
      "q_dedup_edit" ->
        s"""$minhashCtes,
           cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM buckets a JOIN buckets b
                       ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id)
           SELECT c.doc_a, c.doc_b,
                  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
           FROM cands c
           JOIN documents da ON da.doc_id = c.doc_a
           JOIN documents db ON db.doc_id = c.doc_b
           WHERE levenshtein(da.text, db.text) <= 20""",
      "q_dedup_jaccard" ->
        s"""$minhashCtes,
           cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM buckets a JOIN buckets b
                       ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT * FROM (
             SELECT c.doc_a, c.doc_b,
                    ${duckJaccard("sa.shingles", "sb.shingles")} AS jaccard
             FROM cands c
             JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
           WHERE jaccard >= 0.2""",
      "q_ingest_dedup" ->
        s"""$minhashCtes
           SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> n.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM (SELECT * FROM buckets WHERE doc_id % 10 = 0) n
           JOIN (SELECT * FROM buckets WHERE doc_id % 10 <> 0) b
             ON n.band = b.band AND n.bucket = b.bucket""",
      "q_lsh_index" ->
        s"""$minhashCtes
           SELECT doc_id, band, bucket FROM buckets
           WHERE doc_id % 10 <> 0""",
      // the stored-index roundtrip is value-preserving (longs through
      // parquet), so the oracle is the same join as q_ingest_dedup
      "q_ingest_dedup2" ->
        s"""$minhashCtes
           SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> n.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM (SELECT * FROM buckets WHERE doc_id % 10 = 0) n
           JOIN (SELECT * FROM buckets WHERE doc_id % 10 <> 0) b
             ON n.band = b.band AND n.bucket = b.bucket""",
      // the incremental path must equal the FULL recompute: true CC
      // over the whole corpus's candidate graph (bucket membership is
      // per-doc, so base-base ∪ cross ∪ intra IS the full pair set)
      "q_ingest_clusters" ->
        s"""WITH RECURSIVE ${minhashCtes.stripPrefix("WITH ")},
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           reach AS (
             SELECT id, id AS r FROM nodes
             UNION
             SELECT e.src AS id, reach.r FROM edges e
             JOIN reach ON e.dst = reach.id)
           SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id""",
      // iterated incremental + a VersionedTable hop must still equal
      // the one-shot full recompute
      "q_ingest_clusters2" ->
        s"""WITH RECURSIVE ${minhashCtes.stripPrefix("WITH ")},
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           reach AS (
             SELECT id, id AS r FROM nodes
             UNION
             SELECT e.src AS id, reach.r FROM edges e
             JOIN reach ON e.dst = reach.id)
           SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id""",
      // both ingests join the PINNED base version (doc_id % 10 >= 2):
      // increment A's appended buckets must NOT appear as base_ids, so
      // the oracle's base side is exactly the v_base corpus slice
      "q_ingest_dedup3" ->
        s"""$minhashCtes
           SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> n.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM (SELECT * FROM buckets WHERE doc_id % 10 IN (0, 1)) n
           JOIN (SELECT * FROM buckets WHERE doc_id % 10 >= 2) b
             ON n.band = b.band AND n.bucket = b.bucket""",
      "q_dedup_containment" ->
        s"""$minhashCtes,
           cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM buckets a JOIN buckets b
                       ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT * FROM (
             SELECT c.doc_a, c.doc_b,
                    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / nullif(len(sa.shingles), 0) AS contain_a,
                    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / nullif(len(sb.shingles), 0) AS contain_b
             FROM cands c
             JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
           WHERE greatest(contain_a, contain_b) >= 0.4""",
      "q_span_dup" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           wh AS (SELECT doc_id,
                         unnest(list_distinct(list_transform(${duckShingles("toks", 8)}, s -> ${duckStrHash("s")}))) AS wh
                  FROM tk),
           dw AS (SELECT wh, COUNT(*) AS ndocs FROM wh GROUP BY wh)
           SELECT doc_id, COUNT(*) AS n_windows,
                  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
                  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
           FROM wh JOIN dw USING (wh) GROUP BY doc_id""",
      "q_setsim_prefix" ->
        s"""WITH tkk AS (SELECT doc_id, ${duckTokens("text")} AS tok0 FROM documents),
           tk AS (SELECT doc_id, list_distinct(list_transform(${duckShingles("tok0", 3)}, s -> ${duckStrHash("s")})) AS toks FROM tkk),
           dt AS (SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS tok FROM tk),
           tdf AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok),
           pf AS (SELECT doc_id, tok FROM (
                    SELECT d.doc_id, d.tok, d.n_toks,
                           ROW_NUMBER() OVER (PARTITION BY d.doc_id ORDER BY t.df, d.tok) AS rn
                    FROM dt d JOIN tdf t ON d.tok = t.tok)
                  WHERE rn <= n_toks - CAST(ceil(0.3 * n_toks) AS BIGINT) + 1),
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id)
           SELECT doc_a, doc_b, jaccard FROM (
             SELECT c.doc_a, c.doc_b,
                    ${duckJaccard("ta.toks", "tb.toks")} AS jaccard
             FROM cand c JOIN tk ta ON ta.doc_id = c.doc_a
             JOIN tk tb ON tb.doc_id = c.doc_b)
           WHERE jaccard >= 0.3""",
      "q_dedup_simhash" ->
        s"""$shingleCtes,
           sigs AS (SELECT doc_id, ${duckSimhash("hs")} AS sh2 FROM hs),
           blk AS (SELECT doc_id, sh2, (sh2 >> 24) AS blk FROM sigs)
           SELECT * FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(bit_count(xor(a.sh2, b.sh2)) AS BIGINT) AS hamming
             FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id)
           WHERE hamming <= 6""",
      "q_dedup_simhash_exact" ->
        // the oracle is the DEFINITION (exact all-pairs Hamming), not a
        // mirror of the pigeonhole index — recall exactness is what the
        // hash-match proves
        s"""$shingleCtes,
           sigs AS (SELECT doc_id, ${duckSimhash("hs")} AS sh FROM hs)
           SELECT * FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
             FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
           WHERE hamming <= 3""",
      "q_dedup_embedding" ->
        s"""WITH sigs AS (SELECT vec_id, embedding, ${duckSimSig("embedding", 8, 64)} AS sig FROM embeddings)
           SELECT * FROM (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    ${duckCosine("a.embedding", "b.embedding")} AS cosine
             FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
           WHERE cosine >= 0.35""",
      "q_ann_topk" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           scored AS (SELECT qid, cid, ${duckCosine("qv", "cv")} AS cosine
                      FROM q CROSS JOIN c WHERE qid <> cid),
           r AS (SELECT qid, cid, cosine,
                        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
                 FROM scored)
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 5""",
      "q_ann_lsh" ->
        s"""WITH s AS (SELECT vec_id, embedding, ${duckSimSig("embedding", 8, 64)} AS sig FROM embeddings),
           scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                             ${duckCosine("q.embedding", "c.embedding")} AS cosine
                      FROM s q JOIN s c ON q.sig = c.sig AND q.vec_id <> c.vec_id
                      WHERE q.vec_id < 10),
           r AS (SELECT qid, cid, cosine,
                        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
                 FROM scored)
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 3""",
      "q_ann_lsh_multiprobe" ->
        s"""WITH s AS (SELECT vec_id, embedding, ${duckSimSig("embedding", 8, 64)} AS sig0 FROM embeddings),
           q AS (SELECT vec_id, embedding,
                        unnest(list_prepend(sig0, list_transform(range(0, 8), b -> xor(sig0, 1::BIGINT << b)))) AS sig
                 FROM s WHERE vec_id < 10),
           scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                             ${duckCosine("q.embedding", "c.embedding")} AS cosine
                      FROM q JOIN s c ON q.sig = c.sig0 AND q.vec_id <> c.vec_id),
           r AS (SELECT qid, cid, cosine,
                        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
                 FROM scored)
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 3""",
      "q_ann_ivf" ->
        s"""WITH cells AS (SELECT vec_id, embedding,
                  ${duckIvfCell(duckIvfScores("embedding", 16, 64))} AS cell
                FROM embeddings),
           scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                             ${duckCosine("q.embedding", "c.embedding")} AS cosine
                      FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
                      WHERE q.vec_id < 10),
           r AS (SELECT qid, cid, cosine,
                        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
                 FROM scored)
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 3""",
      "q_ann_ivf2" -> ivf2Oracle,
      // the stored index round-trips the same assignments through
      // parquet; results are identical by construction
      "q_ann_ivf_stored" -> ivf2Oracle,
      "q_sem_dedup" ->
        s"""WITH $kmeansChain,
           pairs AS (SELECT b.vec_id AS id_b, MIN(a.vec_id) AS dup_of
                     FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
                     JOIN dv ae ON ae.vec_id = a.vec_id
                     JOIN dv be ON be.vec_id = b.vec_id
                     WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3
                     GROUP BY b.vec_id)
           SELECT c.vec_id, c.cell, p.dup_of, p.dup_of IS NULL AS keep
           FROM cc c LEFT JOIN pairs p ON c.vec_id = p.id_b""",
      // the streaming semantic gate's truth: the SAME unrolled Lloyd
      // chain, but over UNIT vectors and trained on the EVEN half (the
      // stream's first batch — the frozen quantizer), assignment over
      // everyone, then ALL within-cell pairs above the cosine
      // threshold (raw-vector cosine). The gate's PQ-ADC screen is
      // provably conservative + exact-refined, so the oracle never
      // replays the PQ.
      "q_sem_gate" ->
        s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 0),
           init AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                    FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init", "a1", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1", "init", "c1")},
           ${kmAssign("c1", "a2", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2", "c1", "c2")},
           ${kmAssign("c2", "cc", "")}
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  ${duckCosine("ae.embedding", "be.embedding")} AS cosine
           FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
           JOIN dv ae ON ae.vec_id = a.vec_id
           JOIN dv be ON be.vec_id = b.vec_id
           WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3""",
      // takedown mid-stream: the SAME Lloyd chain (the quantizer was
      // trained on batch 0 including the soon-forgotten ids — a forget
      // never retrains a frozen codebook), with the forgotten ids
      // (vec_id % 7 = 0) excluded from the pair truth only
      "q_sem_forget" ->
        s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 2),
           init AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                    FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init", "a1", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1", "init", "c1")},
           ${kmAssign("c1", "a2", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2", "c1", "c2")},
           ${kmAssign("c2", "cc", "")}
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  ${duckCosine("ae.embedding", "be.embedding")} AS cosine
           FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
           JOIN dv ae ON ae.vec_id = a.vec_id
           JOIN dv be ON be.vec_id = b.vec_id
           WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3
             AND a.vec_id % 7 <> 0 AND b.vec_id % 7 <> 0""",
      // the epoch-roll gate's cross-epoch truth: chain OLD = quantizer
      // trained on batch 0 (even ids), assigned over the PRE-ROLL
      // prefix (% 4 <> 3); chain NEW = quantizer retrained at the roll
      // on that prefix (init = its 8 lowest ids), assigned over
      // EVERYONE; output = within-cell pairs of either chain, UNIONed
      // (identical rows dedup — a pair both codebooks co-locate has one
      // cosine). The gate streams vec_id % 3 = 1.
      "q_sem_gate_roll" ->
        s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 1),
           init_o AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_o", "a1o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1o", "init_o", "c1o")},
           ${kmAssign("c1o", "a2o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2o", "c1o", "c2o")},
           ${kmAssign("c2o", "cco", " AND vec_id % 4 <> 3")},
           init_n AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 4 <> 3 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_n", "a1n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a1n", "init_n", "c1n")},
           ${kmAssign("c1n", "a2n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a2n", "c1n", "c2n")},
           ${kmAssign("c2n", "ccn", "")},
           po AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM cco a JOIN cco b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3),
           pn AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM ccn a JOIN ccn b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3)
           SELECT id_a, id_b, cosine FROM po
           UNION
           SELECT id_a, id_b, cosine FROM pn""",
      // epoch attribution over the same two chains: a pair the OLD
      // codebook co-locates over the pre-roll prefix was emitted
      // before the roll -> epoch 0; the NEW codebook's remaining pairs
      // (catch-up + post-roll stream) -> epoch 1. EXCEPT on the full
      // row is sound: a pair both codebooks find has ONE cosine.
      "q_sem_gate_epochs" ->
        s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 1),
           init_o AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_o", "a1o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1o", "init_o", "c1o")},
           ${kmAssign("c1o", "a2o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2o", "c1o", "c2o")},
           ${kmAssign("c2o", "cco", " AND vec_id % 4 <> 3")},
           init_n AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 4 <> 3 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_n", "a1n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a1n", "init_n", "c1n")},
           ${kmAssign("c1n", "a2n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a2n", "c1n", "c2n")},
           ${kmAssign("c2n", "ccn", "")},
           po AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM cco a JOIN cco b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3),
           pn AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM ccn a JOIN ccn b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3)
           SELECT id_a, id_b, cosine, CAST(0 AS BIGINT) AS epoch FROM po
           UNION ALL
           SELECT id_a, id_b, cosine, CAST(1 AS BIGINT) AS epoch
           FROM (SELECT * FROM pn EXCEPT SELECT * FROM po)""",
      "q_dedup_agreement" ->
        s"""WITH $kmeansChain,
           epairs AS (SELECT b.vec_id AS id_b
                      FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
                      JOIN dv ae ON ae.vec_id = a.vec_id
                      JOIN dv be ON be.vec_id = b.vec_id
                      WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3
                      GROUP BY b.vec_id),
           emb_flag AS (SELECT c.vec_id AS id, (p.id_b IS NOT NULL) AS emb_dup
                        FROM cc c LEFT JOIN epairs p ON c.vec_id = p.id_b),
           tk2 AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           sh2 AS (SELECT doc_id, list_distinct(${duckShingles("toks", 3)}) AS shingles FROM tk2),
           hs2 AS (SELECT doc_id, ${duckWordHashes("shingles")} AS hs FROM sh2),
           sigs2 AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM hs2),
           b2 AS (SELECT doc_id, mh, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                  FROM sigs2 CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands),
           tdup AS (SELECT DISTINCT b.doc_id AS id
                    FROM b2 a JOIN b2 b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
                    WHERE CAST(len(list_filter(range(1, 13),
                        i -> a.mh[i] = b.mh[i])) AS DOUBLE) / 12 >= 0.3)
           SELECT (t.id IS NOT NULL) AS text_dup, e.emb_dup, COUNT(*) AS n
           FROM emb_flag e LEFT JOIN tdup t ON e.id = t.id
           GROUP BY 1, 2""",
      "q_ann_pq" ->
        s"""WITH cbt AS (SELECT list(embedding ORDER BY vec_id) AS cb
                FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 496),
           enc AS (SELECT vec_id, embedding, cb,
                  ${duckPqCodes("embedding", "cb", 8, 16, 8)} AS codes
                FROM embeddings CROSS JOIN cbt),
           qs AS (SELECT vec_id AS qid, embedding AS qv FROM enc WHERE vec_id < 10),
           scored AS (SELECT q.qid, e.vec_id AS cid,
                  ${duckPqAdc("q.qv", "e.codes", "e.cb", 8, 8)} AS adc
                FROM enc e CROSS JOIN qs q WHERE e.vec_id <> q.qid),
           r AS (SELECT qid, cid, adc,
                  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cid) AS BIGINT) AS rnk
                 FROM scored)
           SELECT qid, cid, adc, rnk FROM r WHERE rnk <= 5""",
      "q_ann_pq2" ->
        s"""WITH v AS (SELECT vec_id,
                  list_transform(embedding, x -> x::DOUBLE) AS dv
                FROM embeddings),
           cb0 AS (SELECT list(dv ORDER BY vec_id) AS cb FROM v
                WHERE vec_id % 31 = 0 AND vec_id < 496),
           ${pqRound("cb0", "a1", "m1", "f1", "cb1")},
           ${pqRound("cb1", "a2", "m2", "f2", "cb2")},
           enc AS (SELECT vec_id, dv, cb,
                  ${duckPqCodes("dv", "cb", 8, 16, 8)} AS codes
                FROM v CROSS JOIN cb2),
           qs AS (SELECT vec_id AS qid, dv AS qv FROM enc WHERE vec_id < 10),
           scored AS (SELECT q.qid, e.vec_id AS cid,
                  ${duckPqAdc("q.qv", "e.codes", "e.cb", 8, 8)} AS adc
                FROM enc e CROSS JOIN qs q WHERE e.vec_id <> q.qid),
           r AS (SELECT qid, cid, adc,
                  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cid) AS BIGINT) AS rnk
                 FROM scored)
           SELECT qid, cid, adc, rnk FROM r WHERE rnk <= 5""",
      "q_ann_ivfpq" -> ivfpqOracleTop5,
      "q_bitext_margin" ->
        s"""WITH src AS (SELECT vec_id AS src_id, embedding AS sv FROM embeddings
                  WHERE vec_id % 2 = 0 AND vec_id < 100),
           tgt AS (SELECT vec_id AS tgt_id, embedding AS tv FROM embeddings
                  WHERE vec_id % 2 = 1),
           sc AS (SELECT src_id, tgt_id,
                  CAST(ROUND(1000000000 * (${duckCosine("sv", "tv")})) AS BIGINT) AS qc
                FROM src CROSS JOIN tgt),
           rs AS (SELECT src_id, tgt_id, qc,
                  ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY qc DESC, tgt_id) AS r_s,
                  ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY qc DESC, src_id) AS r_t
                 FROM sc),
           sx AS (SELECT src_id, CAST(SUM(qc) AS BIGINT) AS sx FROM rs
                 WHERE r_s <= 4 GROUP BY src_id),
           sy AS (SELECT tgt_id, CAST(SUM(qc) AS BIGINT) AS sy FROM rs
                 WHERE r_t <= 4 GROUP BY tgt_id),
           m AS (SELECT sc.src_id, sc.tgt_id,
                  CAST(8 * qc AS DOUBLE) / nullif(CAST(sx + sy AS DOUBLE), 0.0) AS margin
                FROM sc JOIN sx USING (src_id) JOIN sy USING (tgt_id)),
           r AS (SELECT src_id, tgt_id, margin,
                  ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rk
                 FROM m)
           SELECT src_id, tgt_id, margin FROM r WHERE rk = 1""",
      // the stored index round-trips (cell, codes) + the codebook row
      // through parquet; results are identical by construction
      "q_ann_ivfpq_stored" -> ivfpqOracleTop5,
      // the versioned two-step serve is result-identical by the pin
      // contract: decoys land in vN+1, both batches read vN
      "q_ann_ivfpq_versioned" -> ivfpqOracleTop5,
      "q_ann_ivfpq_refined" -> ivfpqRefinedOracle,
      "q_ann_recall_report" ->
        s"""$ivfpqOracle,
           bq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                WHERE vec_id < 10),
           bc AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           bs AS (SELECT qid, cid, ${duckCosine("qv", "cv")} AS cosine
                FROM bq CROSS JOIN bc WHERE qid <> cid),
           bt AS (SELECT qid, cid FROM (SELECT qid, cid,
                  ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, cid) AS brk FROM bs)
                WHERE brk <= 5),
           ap AS (SELECT qid, cid FROM r WHERE rnk <= 5),
           hit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
                FROM bt JOIN ap ON bt.qid = ap.qid AND bt.cid = ap.cid)
           SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bt) AS n_truth,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM ap) AS n_approx,
                  n_hit,
                  CAST(n_hit AS DOUBLE) /
                    (SELECT COUNT(*) FROM bt) AS recall
           FROM hit""",
      "q_events_tumbling" ->
        """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           FROM events GROUP BY 1, 2""",
      // CUSUM in scaled BIGINTs: dev_fx = D*cum - idx*total ==
      // D * sum_{i<=idx}(n_i - total/D), no float mean anywhere
      "q_cusum" ->
        """WITH d AS (SELECT event_type,
                    epoch_us(ts) // 86400000000 AS day,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM events GROUP BY 1, 2),
           w AS (SELECT event_type, day, n,
                    COUNT(*) OVER (PARTITION BY event_type) AS dd,
                    SUM(n) OVER (PARTITION BY event_type) AS total,
                    SUM(n) OVER (PARTITION BY event_type
                                 ORDER BY day) AS cum,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS idx
                 FROM d)
           SELECT event_type, day, n,
                  CAST(dd * cum - idx * total AS BIGINT) AS dev_fx,
                  abs(dd * cum - idx * total) =
                    MAX(abs(dd * cum - idx * total))
                      OVER (PARTITION BY event_type) AS is_peak
           FROM w""",
      // takedown on the CUSUM gate's CRDT state: the negation wipes
      // error/signup history from batches 0-1; batch 2's re-arrivals
      // of those keys count fresh — so the truth is all events except
      // the forgotten keys' pre-forget (batch 0/1) slice
      "q_changepoint_forget" ->
        """WITH d AS (SELECT event_type,
                    epoch_us(ts) // 86400000000 AS day,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM events
             WHERE event_type NOT IN ('error', 'signup')
                OR event_id % 3 = 2
             GROUP BY 1, 2),
           w AS (SELECT event_type, day, n,
                    COUNT(*) OVER (PARTITION BY event_type) AS dd,
                    SUM(n) OVER (PARTITION BY event_type) AS total,
                    SUM(n) OVER (PARTITION BY event_type
                                 ORDER BY day) AS cum,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS idx
                 FROM d)
           SELECT event_type, day, n,
                  CAST(dd * cum - idx * total AS BIGINT) AS dev_fx,
                  abs(dd * cum - idx * total) =
                    MAX(abs(dd * cum - idx * total))
                      OVER (PARTITION BY event_type) AS is_peak
           FROM w""",
      "q_changepoint_gate" ->
        """WITH d AS (SELECT event_type,
                    epoch_us(ts) // 86400000000 AS day,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM events GROUP BY 1, 2),
           w AS (SELECT event_type, day, n,
                    COUNT(*) OVER (PARTITION BY event_type) AS dd,
                    SUM(n) OVER (PARTITION BY event_type) AS total,
                    SUM(n) OVER (PARTITION BY event_type
                                 ORDER BY day) AS cum,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS idx
                 FROM d)
           SELECT event_type, day, n,
                  CAST(dd * cum - idx * total AS BIGINT) AS dev_fx,
                  abs(dd * cum - idx * total) =
                    MAX(abs(dd * cum - idx * total))
                      OVER (PARTITION BY event_type) AS is_peak
           FROM w""",
      "q_events_sliding" ->
        """SELECT ((epoch_us(ts) // 1800000000) - k) * 1800 AS wstart_s,
                  event_type, COUNT(*) AS n_events
           FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offs
           GROUP BY 1, 2""",
      "q_events_session" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
           l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
           m AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
           sess AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m)
           SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           FROM sess GROUP BY user_id, sid""",
      "q_union_all" ->
        "SELECT r_name AS name FROM region UNION ALL SELECT n_name AS name FROM nation",
      "q_intersect" ->
        "SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey AS nk FROM supplier",
      "q_except" ->
        "SELECT o_orderkey AS ok FROM orders EXCEPT SELECT l_orderkey AS ok FROM lineitem",
      "q_union_distinct" ->
        """SELECT c_nationkey AS nk FROM customer
           UNION SELECT s_nationkey AS nk FROM supplier""",
      "q_except_all" ->
        """SELECT l_suppkey AS sk FROM lineitem
           EXCEPT ALL SELECT s_suppkey AS sk FROM supplier""",
      "q_outer_join" ->
        """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey""",
      "q_semi_join" ->
        """SELECT c_custkey, c_name FROM customer
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 300000)""",
      "q_anti_join" ->
        """SELECT c_custkey, c_name FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",
      "q_cube" ->
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
      "q_grouping_sets" ->
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
      "q_rollup" ->
        """SELECT r_name, n_name, COUNT(*) AS n
           FROM nation JOIN region ON n_regionkey = r_regionkey
           GROUP BY ROLLUP(r_name, n_name)""",
      "q_pivot_flags" ->
        """SELECT l_linestatus,
                  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r,
                  COUNT(*) AS n
           FROM lineitem GROUP BY l_linestatus""",
      "q_string_funcs" ->
        """SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 5) AS t5,
                  CAST(length(p_brand) AS BIGINT) AS blen,
                  concat(p_brand, '#', p_type) AS tag
           FROM part""",
      "q_date_funcs" ->
        """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(month(o_orderdate) AS BIGINT) AS mo,
                  strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n
           FROM orders GROUP BY 1, 2, 3""",
      "q_window_running" ->
        """SELECT o_custkey, o_orderkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
           FROM orders""",
      "q_lag_lead" ->
        """SELECT o_custkey, o_orderkey,
                  lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
                  lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
           FROM orders""",
      "q_ntile" ->
        """SELECT o_orderkey,
                  CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS tile
           FROM orders""",
      "q_scalar_subquery" ->
        """SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)""",
      "q_asof_join" ->
        """WITH o AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS t,
                             MAX(o_orderkey) AS ref
                      FROM orders GROUP BY 1, 2),
           e AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id FROM events)
           SELECT e.event_id, e.k AS user_id, o.ref AS o_orderkey
           FROM e ASOF JOIN o ON e.k = o.k AND e.t >= o.t""",
      "q_asof_forward" ->
        """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS t,
                             MAX(event_id) AS ref
                      FROM events GROUP BY 1, 2),
           o AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS t, o_orderkey
                 FROM orders)
           SELECT o.o_orderkey, o.k AS o_custkey, e.ref AS event_id
           FROM o ASOF JOIN e ON o.k = e.k AND o.t <= e.t""",
      "q_asof_tolerance" ->
        """WITH p AS (SELECT user_id AS k, epoch_us(ts) AS t,
                             MAX(event_id) AS ref
                      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
           c AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id FROM events
                 WHERE event_type = 'click')
           SELECT event_id, k AS user_id, ref AS p_id FROM (
             SELECT c.event_id, c.k, p.ref, c.t AS ct, p.t AS pt
             FROM c ASOF JOIN p ON c.k = p.k AND c.t >= p.t)
           WHERE ct - pt <= 3600000000""",
      "q_asof_payload" ->
        """WITH o AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS t,
                             MAX(o_orderkey) AS ref
                      FROM orders GROUP BY 1, 2),
           o2 AS (SELECT o.k, o.t, o.ref, orders.o_totalprice, orders.o_orderstatus
                  FROM o JOIN orders ON orders.o_orderkey = o.ref),
           e AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id FROM events)
           SELECT e.event_id, e.k AS user_id, o2.ref AS o_orderkey,
                  o2.o_totalprice, o2.o_orderstatus
           FROM e ASOF JOIN o2 ON e.k = o2.k AND e.t >= o2.t""",
      "q_corpus_clean" ->
        s"""WITH base AS (SELECT doc_id, text, ${duckTokens("text")} AS toks FROM documents),
           scored AS (
             SELECT doc_id, text, toks,
                    ${duckStopHits("toks")} AS stop_hits,
                    0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
                    0.3 * (CAST(${duckStopHits("toks")} AS DOUBLE) / len(toks)) +
                    0.3 * (CAST(len(list_filter(toks, w -> length(w) <= 5)) AS DOUBLE) / len(toks)) AS quality,
                    ${duckStrHash("text")} AS fp
             FROM base),
           filtered AS (SELECT * FROM scored WHERE stop_hits >= 1 AND quality >= 0.5),
           keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM filtered GROUP BY fp),
           survivors AS (SELECT f.doc_id, f.fp, f.quality, f.toks
                         FROM filtered f JOIN keepers k
                           ON f.fp = k.fp AND f.doc_id = k.doc_id),
           sh AS (SELECT doc_id, list_distinct(${duckShingles("toks", 3)}) AS shingles FROM survivors),
           hs AS (SELECT doc_id, ${duckWordHashes("shingles")} AS hs FROM sh),
           sigs AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM hs),
           buckets AS (SELECT doc_id, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                       FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands),
           losers AS (SELECT DISTINCT b.doc_id FROM buckets a JOIN buckets b
                        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT s.doc_id, s.fp, s.quality FROM survivors s
           WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)""",
      "q_pivot_api" ->
        """SELECT l_linestatus,
                  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
           FROM lineitem GROUP BY l_linestatus""",
      "q_collect_agg" ->
        """SELECT o_orderstatus, COUNT(*) AS n,
                  array_to_string(list_sort(list(o_orderkey))[1:5], ',') AS first5,
                  CAST(len(list_distinct(list(o_custkey))) AS BIGINT) AS n_cust
           FROM orders GROUP BY o_orderstatus""",
      "q_inverted_index" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT doc_id, unnest(toks) AS word FROM tk)
           SELECT word, COUNT(DISTINCT doc_id) AS df,
                  array_to_string(list_sort(list_distinct(list(doc_id)))[1:10], ',') AS postings10
           FROM w GROUP BY word ORDER BY df DESC, word LIMIT 50""",
      "q_zipf" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT unnest(toks) AS word FROM tk),
           f AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM w
                 GROUP BY word),
           r AS (SELECT freq, CAST(row_number() OVER (
                   ORDER BY freq DESC, word) AS BIGINT) AS rank FROM f)
           SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS octave,
                  CAST(COUNT(*) AS BIGINT) AS n_words,
                  CAST(SUM(freq) AS BIGINT) AS total_freq,
                  MAX(freq) AS max_freq, MIN(freq) AS min_freq
           FROM r GROUP BY 1""",
      "q_phrase_search" -> phraseOracle,
      // the index-join plan and the HOF scan must agree to the hash
      "q_phrase_scan" -> phraseOracle,
      // phrase matching is per-document, so the pinned base scope must
      // equal the full truth RESTRICTED to base docs — any increment
      // doc in 'base' is a pin leak
      "q_phrase_index_ingest" ->
        s"""WITH tk AS (SELECT doc_id, ${XFormulas.duckTokens("text")} AS toks FROM documents),
           w AS (SELECT doc_id, unnest(toks) AS word,
                        generate_subscripts(toks, 1) AS pos FROM tk),
           a AS (SELECT doc_id, pos AS p FROM w WHERE word = 'slow'),
           b AS (SELECT doc_id, pos - 1 AS p FROM w WHERE word = 'hash'),
           c AS (SELECT doc_id, pos - 2 AS p FROM w WHERE word = 'batch'),
           m AS (SELECT doc_id, p FROM a
                 JOIN b USING (doc_id, p) JOIN c USING (doc_id, p)),
           hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
                           CAST(MIN(p) AS BIGINT) AS first_pos
                    FROM m GROUP BY doc_id)
           SELECT 'base' AS scope, doc_id, n_hits, first_pos FROM hits
           WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT 'full', doc_id, n_hits, first_pos FROM hits""",
      "q_tfidf_like" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT doc_id, unnest(toks) AS word FROM tk),
           tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
           dfq AS (SELECT word, COUNT(DISTINCT doc_id) AS dfq FROM w GROUP BY 1),
           nd AS (SELECT COUNT(*) AS nd FROM documents),
           scored AS (SELECT tf.doc_id, tf.word,
                             CAST(tf.tf * nd.nd AS DOUBLE) / dfq.dfq AS score
                      FROM tf JOIN dfq ON tf.word = dfq.word CROSS JOIN nd
                      WHERE tf.doc_id < 20),
           r AS (SELECT doc_id, word, score,
                        ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, word) AS rn
                 FROM scored)
           SELECT doc_id, word, score, rn FROM r WHERE rn <= 3""",
      "q_shingle_freq" ->
        s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           sh AS (SELECT list_distinct(${duckShingles("toks", 3)}) AS shingles FROM tk),
           w AS (SELECT unnest(shingles) AS shingle FROM sh)
           SELECT shingle, COUNT(*) AS n FROM w
           GROUP BY shingle ORDER BY n DESC, shingle LIMIT 20""",
      "q_corpus_clean2" -> {
        val rounds = (1 to 3).map { i =>
          s"""l$i AS (SELECT n.id, least(n.label, coalesce(m.nm, n.label)) AS label
                FROM l${i - 1} n LEFT JOIN (
                  SELECT e.src, MIN(l.label) AS nm FROM edges e
                  JOIN l${i - 1} l ON e.dst = l.id GROUP BY e.src) m
                ON n.id = m.src)"""
        }.mkString(",\n")
        s"""WITH base AS (SELECT doc_id, text, ${duckTokens("text")} AS toks FROM documents),
           scored AS (
             SELECT doc_id, text, toks,
                    ${duckStopHits("toks")} AS stop_hits,
                    0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
                    0.3 * (CAST(${duckStopHits("toks")} AS DOUBLE) / len(toks)) +
                    0.3 * (CAST(len(list_filter(toks, w -> length(w) <= 5)) AS DOUBLE) / len(toks)) AS quality,
                    ${duckStrHash("text")} AS fp
             FROM base),
           filtered AS (SELECT * FROM scored WHERE stop_hits >= 1 AND quality >= 0.5),
           keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM filtered GROUP BY fp),
           survivors AS (SELECT f.doc_id, f.fp, f.quality, f.toks
                         FROM filtered f JOIN keepers k
                           ON f.fp = k.fp AND f.doc_id = k.doc_id),
           sh AS (SELECT doc_id, list_distinct(${duckShingles("toks", 3)}) AS shingles FROM survivors),
           hs AS (SELECT doc_id, ${duckWordHashes("shingles")} AS hs FROM sh),
           sigs AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM hs),
           buckets AS (SELECT doc_id, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                       FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands),
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           l0 AS (SELECT id, id AS label FROM nodes),
           $rounds
           SELECT s.doc_id, s.fp, s.quality FROM survivors s
           LEFT JOIN l3 ON s.doc_id = l3.id
           WHERE l3.label IS NULL OR l3.label = s.doc_id"""
      },
      "q_corpus_clean3" -> {
        val rounds = (1 to 3).map { i =>
          s"""l$i AS (SELECT n.id, least(n.label, coalesce(m.nm, n.label)) AS label
                FROM l${i - 1} n LEFT JOIN (
                  SELECT e.src, MIN(l.label) AS nm FROM edges e
                  JOIN l${i - 1} l ON e.dst = l.id GROUP BY e.src) m
                ON n.id = m.src)"""
        }.mkString(",\n")
        s"""WITH base AS (SELECT doc_id, text, ${duckTokens("text")} AS toks FROM documents WHERE doc_id >= 20),
           rep AS (SELECT doc_id, text, toks,
                          len(toks) AS n_tokens,
                          CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0) AS distinct_ratio,
                          CAST(list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / nullif(len(toks), 0) AS top_share
                   FROM base),
           gated AS (SELECT doc_id, text, toks, ${duckStrHash("text")} AS fp FROM rep
                     WHERE n_tokens >= 20 AND n_tokens <= 90
                       AND distinct_ratio >= 0.45 AND top_share <= 0.12),
           gg AS (SELECT doc_id, unnest(list_distinct(list_transform(${duckShingles("toks", 5)}, s -> ${duckStrHash("s")}))) AS gh FROM gated),
           bb AS (SELECT doc_id, unnest(list_distinct(list_transform(${duckShingles("toks2", 5)}, s -> ${duckStrHash("s")}))) AS gh
                  FROM (SELECT doc_id, ${duckTokens("text")} AS toks2 FROM documents WHERE doc_id < 20)),
           contaminated AS (SELECT DISTINCT g.doc_id FROM gg g JOIN bb b USING (gh)),
           clean0 AS (SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
           keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM clean0 GROUP BY fp),
           survivors AS (SELECT c.doc_id, c.fp, c.toks
                         FROM clean0 c JOIN keepers k
                           ON c.fp = k.fp AND c.doc_id = k.doc_id),
           sh AS (SELECT doc_id, list_distinct(${duckShingles("toks", 3)}) AS shingles FROM survivors),
           hs AS (SELECT doc_id, ${duckWordHashes("shingles")} AS hs FROM sh),
           sigs AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM hs),
           buckets AS (SELECT doc_id, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                       FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands),
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           l0 AS (SELECT id, id AS label FROM nodes),
           $rounds
           SELECT s.doc_id, s.fp FROM survivors s
           LEFT JOIN l3 ON s.doc_id = l3.id
           WHERE l3.label IS NULL OR l3.label = s.doc_id"""
      },

      // Same CTE chain as q_corpus_clean3; the head swaps the survivor
      // projection for one count per pipeline stage.
      "q_corpus_funnel" -> {
        val rounds = (1 to 3).map { i =>
          s"""l$i AS (SELECT n.id, least(n.label, coalesce(m.nm, n.label)) AS label
                FROM l${i - 1} n LEFT JOIN (
                  SELECT e.src, MIN(l.label) AS nm FROM edges e
                  JOIN l${i - 1} l ON e.dst = l.id GROUP BY e.src) m
                ON n.id = m.src)"""
        }.mkString(",\n")
        s"""WITH base AS (SELECT doc_id, text, ${duckTokens("text")} AS toks FROM documents WHERE doc_id >= 20),
           rep AS (SELECT doc_id, text, toks,
                          len(toks) AS n_tokens,
                          CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0) AS distinct_ratio,
                          CAST(list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / nullif(len(toks), 0) AS top_share
                   FROM base),
           gated AS (SELECT doc_id, text, toks, ${duckStrHash("text")} AS fp FROM rep
                     WHERE n_tokens >= 20 AND n_tokens <= 90
                       AND distinct_ratio >= 0.45 AND top_share <= 0.12),
           gg AS (SELECT doc_id, unnest(list_distinct(list_transform(${duckShingles("toks", 5)}, s -> ${duckStrHash("s")}))) AS gh FROM gated),
           bb AS (SELECT doc_id, unnest(list_distinct(list_transform(${duckShingles("toks2", 5)}, s -> ${duckStrHash("s")}))) AS gh
                  FROM (SELECT doc_id, ${duckTokens("text")} AS toks2 FROM documents WHERE doc_id < 20)),
           contaminated AS (SELECT DISTINCT g.doc_id FROM gg g JOIN bb b USING (gh)),
           clean0 AS (SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
           keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM clean0 GROUP BY fp),
           survivors AS (SELECT c.doc_id, c.fp, c.toks
                         FROM clean0 c JOIN keepers k
                           ON c.fp = k.fp AND c.doc_id = k.doc_id),
           sh AS (SELECT doc_id, list_distinct(${duckShingles("toks", 3)}) AS shingles FROM survivors),
           hs AS (SELECT doc_id, ${duckWordHashes("shingles")} AS hs FROM sh),
           sigs AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM hs),
           buckets AS (SELECT doc_id, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                       FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands),
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           l0 AS (SELECT id, id AS label FROM nodes),
           $rounds,
           final AS (SELECT s.doc_id FROM survivors s
                     LEFT JOIN l3 ON s.doc_id = l3.id
                     WHERE l3.label IS NULL OR l3.label = s.doc_id)
           SELECT CAST(0 AS BIGINT) AS stage_ord, 'ingest' AS stage, COUNT(*) AS n_docs FROM base
           UNION ALL SELECT 1, 'quality_gate', COUNT(*) FROM gated
           UNION ALL SELECT 2, 'decontaminated', COUNT(*) FROM clean0
           UNION ALL SELECT 3, 'exact_dedup', COUNT(*) FROM keepers
           UNION ALL SELECT 4, 'near_dedup', COUNT(*) FROM final"""
      },
      "q_media_meta" ->
        """SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                  CAST(ord(substr(text, 1, 1)) AS BIGINT) AS first_byte
           FROM documents""",
      "q_media_frames" ->
        """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                      FROM documents),
           f AS (SELECT doc_id, n_bytes,
                        unnest(range(0, (n_bytes + 255) // 256)) AS frame_idx
                 FROM m)
           SELECT doc_id, frame_idx, frame_idx * 256 AS frame_off,
                  least(256, n_bytes - frame_idx * 256) AS frame_len
           FROM f""",
      "q_media_features" ->
        """WITH img AS (SELECT doc_id, rpad(text, 36, 'x') AS body FROM documents),
           pix AS (SELECT doc_id, i, ord(substr(body, CAST(i AS INT), 1)) AS v
                   FROM img CROSS JOIN (SELECT unnest(range(1, 37)) AS i) ii)
           SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
                  CAST(255 AS BIGINT) AS maxval,
                  CAST(SUM(CASE WHEN (i - 1) % 3 = 0 THEN v ELSE 0 END) AS DOUBLE) / 12 AS mean_r,
                  CAST(SUM(CASE WHEN (i - 1) % 3 = 1 THEN v ELSE 0 END) AS DOUBLE) / 12 AS mean_g,
                  CAST(SUM(CASE WHEN (i - 1) % 3 = 2 THEN v ELSE 0 END) AS DOUBLE) / 12 AS mean_b
           FROM pix GROUP BY doc_id""",
      "q_media_embed_dedup" ->
        s"""WITH img AS (SELECT doc_id, rpad(text, 36, 'x') AS body FROM documents),
           g AS (SELECT doc_id, list_transform(range(0, 12), k ->
                   (ord(substr(body, CAST(3*k+1 AS INT), 1)) +
                    ord(substr(body, CAST(3*k+2 AS INT), 1)) +
                    ord(substr(body, CAST(3*k+3 AS INT), 1))) // 3) AS gray
                 FROM img),
           feat AS (SELECT doc_id, list_transform(gray, x ->
                      CAST(CAST(x AS DOUBLE) -
                           CAST(list_sum(gray) AS DOUBLE) / 12.0 AS FLOAT)) AS fv
                    FROM g),
           sigs AS (SELECT doc_id, fv, ${duckSimSig("fv", 8, 12)} AS sig FROM feat)
           SELECT * FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    ${duckCosine("a.fv", "b.fv")} AS cosine
             FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id)
           WHERE cosine >= 0.99""",
      "q18_big_orders" ->
        """WITH big AS (SELECT l_orderkey,
                               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                        FROM lineitem GROUP BY l_orderkey
                        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250)
           SELECT c_name, o_orderkey, o_totalprice, sum_qty
           FROM big
           JOIN orders   ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey
           ORDER BY sum_qty DESC, o_orderkey LIMIT 100""",
      "q5_region_volume" ->
        """SELECT n_name,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation   ON s_nationkey = n_nationkey
           JOIN region   ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
           GROUP BY n_name""",
      "q10_returns" ->
        """SELECT c_custkey, c_name, n_name,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
           FROM customer
           JOIN orders   ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN nation   ON c_nationkey = n_nationkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-07-01'
           GROUP BY c_custkey, c_name, n_name
           ORDER BY revenue DESC, c_custkey LIMIT 20""",
      "q_approx_agg" ->
        """SELECT l_returnflag,
                  COUNT(DISTINCT l_partkey) AS exact_parts,
                  abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE) /
                      COUNT(DISTINCT l_partkey) - 1) < 0.1 AS cd_ok,
                  abs(approx_quantile(l_quantity, 0.5) /
                      quantile_cont(l_quantity, 0.5) - 1) <= 0.05 AS med_ok
           FROM lineitem GROUP BY l_returnflag""",
      "q_merge_upsert" ->
        """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
           upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
                          CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DOUBLE) AS o_totalprice
                   FROM base WHERE o_orderkey % 7 = 0),
           ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                          'I' AS o_orderstatus, o_totalprice
                   FROM base WHERE o_orderkey % 11 = 0),
           delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
           SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
                  coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
                  coalesce(d.o_totalprice, b.o_totalprice) AS o_totalprice
           FROM base b FULL JOIN delta d ON b.o_orderkey = d.o_orderkey""",
      "q_unpivot" ->
        """WITH p AS (SELECT l_linestatus,
                  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
           FROM lineitem GROUP BY l_linestatus)
           SELECT l_linestatus, 'qty_a' AS flag, qty_a AS qty FROM p WHERE qty_a IS NOT NULL
           UNION ALL
           SELECT l_linestatus, 'qty_n' AS flag, qty_n AS qty FROM p WHERE qty_n IS NOT NULL
           UNION ALL
           SELECT l_linestatus, 'qty_r' AS flag, qty_r AS qty FROM p WHERE qty_r IS NOT NULL""",
      "q_word_freq" ->
        s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT unnest(toks) AS word FROM tk)
           SELECT word, COUNT(*) AS n FROM w
           GROUP BY word ORDER BY n DESC, word LIMIT 20""",
      "q_bpe_merges" ->
        s"""WITH $bpeChain
           SELECT CAST(1 AS BIGINT) AS merge_round, lsym, rsym, freq FROM t1
           UNION ALL
           SELECT CAST(2 AS BIGINT), lsym, rsym, freq FROM t2
           UNION ALL
           SELECT CAST(3 AS BIGINT), lsym, rsym, freq FROM t3""",
      "q_bpe_compression" ->
        s"""WITH $bpeChain
           SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM w0) AS total_words,
                  (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM w0)
                    AS syms_before,
                  CAST(SUM(cnt * len(syms)) AS BIGINT) AS syms_after
           FROM w3""",
      "q_text_lang_ngram" ->
        s"""WITH tg AS (SELECT doc_id, ${duckCharTrigrams("lower(text)")} AS tris FROM documents)
           SELECT doc_id,
                  CAST(${duckTrigramHits("tris")} AS DOUBLE) / len(tris) AS tri_score,
                  CASE WHEN CAST(${duckTrigramHits("tris")} AS DOUBLE) / len(tris) >= 0.05 THEN 'en'
                       WHEN CAST(${duckTrigramHits("tris")} AS DOUBLE) / len(tris) >= 0.02 THEN 'maybe_en'
                       ELSE 'other' END AS lang3
           FROM tg""",
      "q_repetition" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           tr AS (SELECT doc_id, toks, ${duckShingles("toks", 3)} AS tri FROM tk)
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0) AS distinct_ratio,
                  CAST(list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / nullif(len(toks), 0) AS top_share,
                  CAST(len(list_distinct(tri)) AS DOUBLE) / nullif(len(tri), 0) AS tri_ratio
           FROM tr""",
      "q_quality_gate" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           r AS (SELECT doc_id,
                        len(toks) AS n_tokens,
                        CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0) AS distinct_ratio,
                        CAST(list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / nullif(len(toks), 0) AS top_share
                 FROM tk)
           SELECT doc_id,
                  (n_tokens >= 20 AND n_tokens <= 90) AS flag_len,
                  (distinct_ratio >= 0.45) AS flag_diverse,
                  (top_share <= 0.12) AS flag_rep,
                  (n_tokens >= 20 AND n_tokens <= 90 AND distinct_ratio >= 0.45
                   AND top_share <= 0.12) AS pass
           FROM r""",
      "q_decontaminate" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id,
                        unnest(list_distinct(list_transform(${duckShingles("toks", 5)}, s -> ${duckStrHash("s")}))) AS gh
                 FROM tk),
           c AS (SELECT doc_id AS doc_id_c, gh FROM g WHERE doc_id >= 20),
           b AS (SELECT doc_id AS bench_id, gh FROM g WHERE doc_id < 20)
           SELECT doc_id_c AS doc_id,
                  COUNT(DISTINCT gh) AS n_shared_ngrams,
                  COUNT(DISTINCT bench_id) AS n_bench_docs
           FROM c JOIN b USING (gh) GROUP BY doc_id_c""",
      "q_contam_matrix" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id,
                        unnest(list_distinct(list_transform(${duckShingles("toks", 5)}, s -> ${duckStrHash("s")}))) AS gh
                 FROM tk),
           ng AS (SELECT DISTINCT c.doc_id FROM
                    (SELECT doc_id, gh FROM g WHERE doc_id >= 20) c
                    JOIN (SELECT doc_id AS bid, gh FROM g WHERE doc_id < 20) b
                    USING (gh)),
           ex AS (SELECT DISTINCT d.doc_id FROM documents d
                  JOIN documents b2 ON d.text = b2.text AND b2.doc_id < 20
                  WHERE d.doc_id >= 20),
           sem AS (SELECT DISTINCT v.vec_id AS doc_id
                   FROM embeddings v CROSS JOIN embeddings bv
                   WHERE v.vec_id >= 20 AND bv.vec_id < 20
                     AND ${duckCosine("v.embedding", "bv.embedding")} >= CAST(0.35 AS DOUBLE)),
           sp AS (SELECT doc_id FROM documents WHERE doc_id >= 20)
           SELECT COALESCE(e.h, FALSE) AS exact_hit,
                  COALESCE(n.h, FALSE) AS ngram_hit,
                  COALESCE(s2.h, FALSE) AS sem_hit,
                  CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM sp
           LEFT JOIN (SELECT doc_id, TRUE AS h FROM ex) e USING (doc_id)
           LEFT JOIN (SELECT doc_id, TRUE AS h FROM ng) n USING (doc_id)
           LEFT JOIN (SELECT doc_id, TRUE AS h FROM sem) s2 USING (doc_id)
           GROUP BY 1, 2, 3""",
      "q_contam_spans" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           sh AS (SELECT doc_id,
                         list_transform(${duckShingles("toks", 5)}, s -> ${duckStrHash("s")}) AS ghs
                  FROM tk),
           g AS (SELECT doc_id, unnest(ghs) AS gh,
                        unnest(range(1, len(ghs) + 1)) AS pos
                 FROM sh WHERE doc_id >= 20),
           bg AS (SELECT DISTINCT unnest(ghs) AS gh FROM sh WHERE doc_id < 20)
           SELECT doc_id,
                  array_to_string(list(pos ORDER BY pos), ',') AS positions,
                  COUNT(*) AS n_hits
           FROM g JOIN bg USING (gh) GROUP BY doc_id""",
      // Kept token i survives iff no flagged 5-gram start p covers it
      // (p <= i <= p+4, 1-based on both engines).
      "q_contam_excise" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           sh AS (SELECT doc_id,
                         list_transform(${duckShingles("toks", 5)}, s -> ${duckStrHash("s")}) AS ghs
                  FROM tk),
           g AS (SELECT doc_id, unnest(ghs) AS gh,
                        unnest(range(1, len(ghs) + 1)) AS pos
                 FROM sh WHERE doc_id >= 20),
           bg AS (SELECT DISTINCT unnest(ghs) AS gh FROM sh WHERE doc_id < 20),
           spans AS (SELECT doc_id, list(pos ORDER BY pos) AS ps
                     FROM g JOIN bg USING (gh) GROUP BY doc_id),
           rebuilt AS (SELECT t.doc_id, t.toks,
                              list_filter(t.toks, (x, i) ->
                                len(list_filter(coalesce(s.ps, []),
                                  p -> p <= i AND i <= p + 4)) = 0) AS kept
                       FROM tk t LEFT JOIN spans s USING (doc_id)
                       WHERE t.doc_id >= 20)
           SELECT doc_id,
                  coalesce(array_to_string(kept, ' '), '') AS clean_text,
                  CAST(len(toks) - len(kept) AS BIGINT) AS n_tokens_removed
           FROM rebuilt""",

      "q_winnow_pairs" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           sh AS (SELECT doc_id,
                         list_transform(${duckShingles("toks", 3)}, s -> ${duckStrHash("s")}) AS ghs
                  FROM tk),
           g AS (SELECT doc_id, unnest(ghs) AS gh,
                        unnest(range(1, len(ghs) + 1)) AS pos,
                        len(ghs) AS n
                 FROM sh),
           sel AS (SELECT doc_id, pos, n,
                          MIN(gh * 1048576 + (1048575 - pos)) OVER
                            (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS skey
                   FROM g),
           fp AS (SELECT DISTINCT doc_id, skey // 1048576 AS fp
                  FROM sel WHERE pos <= n - 3),
           capped AS (SELECT doc_id, fp FROM
                        (SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS bsz FROM fp)
                      WHERE bsz <= 64)
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2""",
      "q_bigram_lm" ->
        s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           bg AS (SELECT unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           bw AS (SELECT bigram, string_split(bigram, ' ')[1] AS w1 FROM bg),
           c2 AS (SELECT w1, bigram, COUNT(*) AS n FROM bw GROUP BY 1, 2),
           c1 AS (SELECT w1, COUNT(*) AS n1 FROM bw GROUP BY 1)
           SELECT bigram, c2.n AS n, CAST(c2.n AS DOUBLE) / c1.n1 AS p
           FROM c2 JOIN c1 USING (w1)
           ORDER BY n DESC, bigram LIMIT 20""",
      "q_word_cooccur" ->
        s"""WITH tk AS (SELECT doc_id, list_distinct(${duckTokens("text")}) AS ws FROM documents),
           w AS (SELECT doc_id, unnest(ws) AS word FROM tk),
           pairs AS (SELECT a.word AS w1, b.word AS w2, COUNT(*) AS n_ab
                     FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.word < b.word
                     GROUP BY 1, 2),
           wc AS (SELECT word, COUNT(*) AS n_w FROM w GROUP BY 1),
           nd AS (SELECT COUNT(*) AS nd FROM documents)
           SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
                  CAST(n_ab * nd.nd AS DOUBLE) / CAST(a.n_w * b.n_w AS DOUBLE) AS lift
           FROM pairs JOIN wc a ON pairs.w1 = a.word
                      JOIN wc b ON pairs.w2 = b.word
                      CROSS JOIN nd
           WHERE n_ab >= 20
           ORDER BY n_ab DESC, w1, w2 LIMIT 20""",
      "q_rfm" ->
        """WITH cust AS (SELECT o_custkey, MAX(epoch_us(o_orderdate)) AS last_us,
                                COUNT(*) AS freq,
                                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
                         FROM orders GROUP BY o_custkey),
           q AS (SELECT o_custkey, freq, monetary,
                        CAST(NTILE(4) OVER (ORDER BY last_us DESC, o_custkey) AS BIGINT) AS rq,
                        CAST(NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS fq,
                        CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS mq
                 FROM cust)
           SELECT o_custkey, freq, monetary, rq, fq, mq,
                  concat(rq, fq, mq) AS segment
           FROM q""",
      "q_outliers" ->
        """WITH s AS (SELECT event_type AS st,
                             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
                             CAST(SUM(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS mean_sq
                      FROM events GROUP BY 1),
           st AS (SELECT st, mean, sqrt(greatest(mean_sq - mean * mean, 0)) AS std FROM s)
           SELECT e.event_type,
                  CAST(SUM(CASE WHEN abs(e.value - st.mean) > 3 * st.std THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                  COUNT(*) AS n_total
           FROM events e JOIN st ON e.event_type = st.st
           GROUP BY e.event_type""",
      "q_exact_median" ->
        """SELECT event_type,
                  percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS median_value,
                  percentile_cont(0.9) WITHIN GROUP (ORDER BY value) AS p90_value,
                  COUNT(*) AS n
           FROM events GROUP BY event_type""",
      "q_mad_outliers" ->
        """WITH med AS (SELECT event_type AS g,
                  percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
                FROM events GROUP BY 1),
           dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
                   FROM events e JOIN med m ON e.event_type = m.g),
           mad AS (SELECT event_type AS g2,
                  percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
                FROM dev GROUP BY 1)
           SELECT d.event_type, MIN(d.med) AS median_value, MIN(md.mad) AS mad,
                  CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                  COUNT(*) AS n
           FROM dev d JOIN mad md ON d.event_type = md.g2
           GROUP BY d.event_type""",
      "q_salted_agg" ->
        """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                  COUNT(*) AS n_events
           FROM events GROUP BY event_type""",
      "q_hll_sketch" ->
        """WITH per AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
                               abs(CAST(approx_count_distinct(user_id) AS DOUBLE) /
                                   COUNT(DISTINCT user_id) - 1) < 0.05 AS hll_ok
                        FROM events GROUP BY 1),
           g AS (SELECT COUNT(DISTINCT user_id) AS exact_all,
                        abs(CAST(approx_count_distinct(user_id) AS DOUBLE) /
                            COUNT(DISTINCT user_id) - 1) < 0.05 AS merge_ok
                 FROM events)
           SELECT event_type, exact_users, hll_ok, exact_all, merge_ok
           FROM per CROSS JOIN g""",
      "q_zorder_key" ->
        """SELECT l_orderkey, l_linenumber, x, y,
                  CAST(list_sum(list_transform(range(0, 10), b ->
                    ((x >> b) & 1) * (1::BIGINT << (2 * b)) +
                    ((y >> b) & 1) * (1::BIGINT << (2 * b + 1)))) AS BIGINT) AS z
           FROM (SELECT l_orderkey, l_linenumber,
                        l_orderkey % 1024 AS x, l_partkey % 1024 AS y
                 FROM lineitem)
           ORDER BY z, l_orderkey, l_linenumber LIMIT 100""",
      "q_hilbert_key" -> {
        // the same XFormulas.hilbert* fragments, stacked as CTE levels
        val n = 1024
        val levels = (0 until 10).map { i =>
          val s2 = n >> (i + 1)
          s"""h${i + 1} AS (SELECT l_orderkey, l_linenumber, ox, oy,
             ${XFormulas.hilbertX(s2, n)} AS x,
             ${XFormulas.hilbertY(s2, n)} AS y,
             ${XFormulas.hilbertD(s2)} AS d FROM h$i)"""
        }.mkString(",\n           ")
        s"""WITH h0 AS (SELECT l_orderkey, l_linenumber,
             l_orderkey % 1024 AS ox, l_partkey % 1024 AS oy,
             l_orderkey % 1024 AS x, l_partkey % 1024 AS y,
             CAST(0 AS BIGINT) AS d FROM lineitem),
           $levels
           SELECT l_orderkey, l_linenumber, ox AS x, oy AS y, d AS h
           FROM h10 ORDER BY h, l_orderkey, l_linenumber LIMIT 100"""
      },
      "q_layout_compare" -> {
        val n = 1024
        val zSql = (0 until 10).map(b =>
          s"((ox >> $b) & 1) * (1::BIGINT << ${2 * b}) + " +
            s"((oy >> $b) & 1) * (1::BIGINT << ${2 * b + 1})").mkString(" + ")
        val levels = (0 until 10).map { i =>
          val s2 = n >> (i + 1)
          s"""h${i + 1} AS (SELECT okey, lnum, ox, oy,
             ${XFormulas.hilbertX(s2, n)} AS x,
             ${XFormulas.hilbertY(s2, n)} AS y,
             ${XFormulas.hilbertD(s2)} AS d FROM h$i)"""
        }.mkString(",\n           ")
        def zone(key: String, layout: String) =
          s"""(SELECT '$layout' AS layout, COUNT(*) AS n_rows,
             CASE WHEN MIN(ox) <= 199 AND MAX(ox) >= 100 AND
                       MIN(oy) <= 399 AND MAX(oy) >= 300 THEN 1 ELSE 0 END AS hit
           FROM (SELECT ox, oy, (ROW_NUMBER() OVER (ORDER BY $key, okey, lnum) - 1) // 256 AS chunk
                 FROM keyed)
           GROUP BY chunk)"""
        s"""WITH h0 AS (SELECT l_orderkey AS okey, l_linenumber AS lnum,
             l_orderkey % 1024 AS ox, l_partkey % 1024 AS oy,
             l_orderkey % 1024 AS x, l_partkey % 1024 AS y,
             CAST(0 AS BIGINT) AS d FROM lineitem),
           $levels,
           keyed AS (SELECT okey, lnum, ox, oy,
             CAST($zSql AS BIGINT) AS z, d AS h FROM h10),
           m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_match FROM keyed
                 WHERE ox BETWEEN 100 AND 199 AND oy BETWEEN 300 AND 399),
           u AS (SELECT * FROM ${zone("z", "zorder")}
                 UNION ALL SELECT * FROM ${zone("h", "hilbert")})
           SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                  CAST(SUM(hit) AS BIGINT) AS n_hit_chunks,
                  CAST(SUM(CASE WHEN hit = 1 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
                  n_match
           FROM u CROSS JOIN m GROUP BY layout, n_match"""
      },
      "q_word_dropout" -> {
        val wh = XFormulas.duckStrHash("(toks)[CAST(i AS INT)]")
        s"""WITH tk AS (SELECT doc_id, ${XFormulas.duckTokens("text")} AS toks FROM documents),
           k AS (SELECT doc_id, toks,
                   list_filter(list_transform(range(1, len(toks) + 1), i ->
                     CASE WHEN (($wh * 1103515245 + doc_id * 12345 + i * 7919)
                       % 1000000007) % 10 = 0 THEN NULL
                       ELSE (toks)[CAST(i AS INT)] END), w -> w IS NOT NULL) AS kept
                 FROM tk)
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(kept) AS BIGINT) AS n_kept,
                  array_to_string(kept, ' ') AS aug_text
           FROM k"""
      },
      "q_time_to_convert" ->
        """SELECT user_id,
                  (first_purchase_us - first_click_us) // 1000000 AS secs_to_convert
           FROM (SELECT user_id,
                        MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
                        MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
                 FROM events GROUP BY user_id)
           WHERE first_click_us IS NOT NULL AND first_purchase_us IS NOT NULL
             AND first_purchase_us >= first_click_us""",
      "q_event_transitions" ->
        """WITH s AS (SELECT event_type AS from_type,
                             LEAD(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS to_type
                      FROM events),
           c AS (SELECT from_type, to_type, COUNT(*) AS n
                 FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
           SELECT from_type, to_type, n,
                  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
           FROM c""",
      "q_label_probe" ->
        s"""WITH dv AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
           cm AS (SELECT lbl, j AS pos,
                  CAST(SUM(CAST(floor(v[j] * 1e12) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) / 1e12 AS cv
                FROM dv CROSS JOIN (SELECT unnest(range(1, 65)) AS j) js
                GROUP BY 1, 2),
           cvec AS (SELECT lbl, list(cv ORDER BY pos) AS c FROM cm
                GROUP BY lbl),
           pr AS (SELECT d.lbl AS label, cv.lbl AS pred,
                  ROW_NUMBER() OVER (PARTITION BY d.vec_id
                    ORDER BY ${duckSqDist("cv.c", "d.v", 64)}, cv.lbl) AS rn
                FROM dv d CROSS JOIN cvec cv)
           SELECT label, pred, COUNT(*) AS n FROM pr WHERE rn = 1
           GROUP BY 1, 2""",
      "q_embedding_stats" ->
        """WITH v AS (SELECT CAST(j - 1 AS BIGINT) AS pos,
                             CAST(embedding[j] AS DOUBLE) AS v
                      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS j) js),
           q AS (SELECT pos, v,
                        CAST(floor(v * 1000000.0) AS BIGINT) AS q1,
                        CAST(floor(v * v * 1000000000000.0) AS BIGINT) AS q2
                 FROM v),
           s AS (SELECT pos,
                        CAST(SUM(q1) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean,
                        CAST(SUM(q2) AS DOUBLE) / COUNT(*) / 1000000000000.0 AS mean_sq,
                        MIN(v) AS vmin, MAX(v) AS vmax
                 FROM q GROUP BY pos)
           SELECT pos, mean, mean_sq, vmin, vmax,
                  sqrt(greatest(mean_sq - mean * mean, 0)) AS std
           FROM s""",
      "q_embedding_cov" ->
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
           FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i""",
      "q_cov_corr_pairs" ->
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
           ORDER BY abs(corr) DESC, p.i, p.j LIMIT 10""",
      "q_stratified_sample" ->
        """SELECT l_returnflag, l_orderkey, l_linenumber, rn FROM (
             SELECT l_returnflag, l_orderkey, l_linenumber,
                    ROW_NUMBER() OVER (PARTITION BY l_returnflag
                      ORDER BY (l_orderkey * 2654435761 + l_linenumber * 40503) % 1000000007,
                               l_orderkey, l_linenumber) AS rn
             FROM lineitem) WHERE rn <= 50""",
      "q_window_range_frame" ->
        """SELECT o_custkey, o_orderkey,
                  COUNT(*) OVER w AS n_trailing,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_trailing
           FROM (SELECT *, epoch_us(o_orderdate) AS t_us FROM orders)
           WINDOW w AS (PARTITION BY o_custkey ORDER BY t_us
                        RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)""",
      "q2_top_supplier" ->
        """SELECT s_suppkey, s_name, s_nationkey FROM supplier s
           WHERE s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                              WHERE s2.s_nationkey = s.s_nationkey)""",
      "q7_nation_volume" ->
        """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                  CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
           GROUP BY supp_nation, cust_nation, yr""",
      "q22_quiet_rich" ->
        """SELECT c_custkey, c_acctbal FROM customer
           WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                              FROM customer WHERE c_acctbal > 0)
             AND NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey AND o_totalprice > 250000)""",
      "q_window_firstlast" ->
        """SELECT o_custkey, o_orderkey,
                  first_value(o_orderkey) OVER w AS first_ok,
                  last_value(o_orderkey) OVER w AS last_ok,
                  nth_value(o_orderkey, 2) OVER w AS second_ok
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
      "q_share_of_total" ->
        """SELECT o_orderkey, o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) /
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS share
           FROM orders""",
      "q_multi_distinct" ->
        """SELECT l_returnflag,
                  COUNT(DISTINCT l_partkey) AS n_parts,
                  COUNT(DISTINCT l_suppkey) AS n_supps,
                  COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag""",
      "q_values_join" ->
        """SELECT status_name, COUNT(*) AS n
           FROM orders
           JOIN (VALUES ('O', 'open'), ('F', 'fulfilled'), ('P', 'pending'))
                AS dim(code, status_name)
             ON o_orderstatus = code
           GROUP BY status_name""",
      "q_moving_avg" ->
        """SELECT o_custkey, o_orderkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                    / COUNT(*) OVER w AS mavg4
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""",
      "q_rank_ties" ->
        """SELECT o_orderkey,
                  CAST("rank"() OVER w AS BIGINT) AS rnk,
                  CAST(dense_rank() OVER w AS BIGINT) AS drnk
           FROM orders
           WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate)""",
      "q_window_ranks2" ->
        """SELECT o_orderkey,
                  CAST(dense_rank() OVER w AS BIGINT) AS drank,
                  percent_rank() OVER w AS prank,
                  cume_dist() OVER w AS cdist
           FROM orders
           WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""",
      "q_array_funcs" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
                  array_to_string(list_sort(toks)[1:3], ',') AS first3,
                  list_contains(toks, 'the') AS has_the,
                  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
           FROM tk""",
      "q_regexp" ->
        """SELECT doc_id,
                  regexp_extract(text, '([a-z]+a[a-z]*)', 1) AS first_a_word,
                  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS novowel_len,
                  CAST(len(regexp_extract_all(text, '(ta[a-z]+)', 0)) AS BIGINT) AS n_ta
           FROM documents""",
      "q_conditional" ->
        """SELECT l_orderkey, l_linenumber,
                  CASE WHEN l_quantity >= 40 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS bucket,
                  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag2,
                  least(l_quantity, l_discount * 1000) AS lo,
                  greatest(l_quantity, l_tax * 100) AS hi
           FROM lineitem""",
      "q_cross_join" ->
        "SELECT r_name, n_name FROM region CROSS JOIN nation",
      "q4_order_priority" ->
        """SELECT o_orderpriority, COUNT(*) AS n_orders
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-04-01'
             AND EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey
                           AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
           GROUP BY o_orderpriority""",
      "q14_promo_share" ->
        """WITH f AS (SELECT * FROM lineitem JOIN part ON l_partkey = p_partkey
                      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
                        AND l_shipdate < TIMESTAMP '1996-04-01'),
           a AS (SELECT
             CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev
             FROM f)
           SELECT promo_rev, total_rev, 100 * promo_rev / total_rev AS promo_pct
           FROM a""",
      "q19_disjunctive" ->
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                  AND l_quantity BETWEEN 1 AND 30)
              OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                  AND l_quantity BETWEEN 10 AND 40)""",
      "q_events_props" ->
        """SELECT event_type,
                  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                  COUNT(*) AS n
           FROM events GROUP BY event_type""",
      "q_triangles" ->
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT COUNT(*) AS n_triangles
           FROM cand ab
           JOIN cand bc ON ab.b = bc.a
           JOIN cand ac ON ab.a = ac.a AND bc.b = ac.b""",
      "q_padding_waste" ->
        s"""WITH tk AS (SELECT CAST(len(${duckTokens("text")}) AS BIGINT) AS n_toks FROM documents),
           b AS (SELECT n_toks, (n_toks - 1) // 64 AS bucket FROM tk WHERE n_toks > 0)
           SELECT bucket, COUNT(*) AS n_docs,
                  CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
                  CAST(COUNT(*) * (bucket + 1) * 64 AS BIGINT) AS padded_tokens,
                  1.0e0 - CAST(SUM(n_toks) AS DOUBLE) / (COUNT(*) * (bucket + 1) * 64) AS padding_frac
           FROM b GROUP BY bucket""",

      "q_dedup_norm" -> {
        val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
        s"""WITH n AS (SELECT doc_id, ${duckStrHash(norm)} AS nfp FROM documents)
           SELECT nfp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
           FROM n GROUP BY nfp HAVING COUNT(*) > 1"""
      },

      "q_dedup_keep_best" -> {
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
           bg AS (SELECT doc_id, unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           bw AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM bg),
           c2 AS (SELECT w1, bigram, COUNT(*) AS n FROM bw GROUP BY 1, 2),
           c1 AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
           sc AS (SELECT doc_id,
                         CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE) * 1000000000 / n1) AS BIGINT)) AS BIGINT) AS s,
                         COUNT(*) AS nb
                  FROM bw JOIN c2 USING (w1, bigram) JOIN c1 USING (w1)
                  GROUP BY doc_id),
           mem AS (SELECT d.doc_id, l3.label AS cluster
                   FROM documents d JOIN l3 ON d.doc_id = l3.id),
           scj AS (SELECT m.cluster, m.doc_id,
                          COALESCE(CAST(s AS DOUBLE) / nb / 1000000000, 0.0) AS score
                   FROM mem m LEFT JOIN sc ON sc.doc_id = m.doc_id),
           rk AS (SELECT cluster, doc_id, score,
                         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id DESC) AS rk,
                         COUNT(*) OVER (PARTITION BY cluster) AS n_members
                  FROM scj)
           SELECT cluster, doc_id AS keeper, CAST(n_members AS BIGINT) AS n_members, score AS best_p
           FROM rk WHERE rk = 1"""
      },

      "q_dedup_keep_longest" -> {
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
           $rounds
           SELECT l3.label AS cluster,
                  arg_max(d.doc_id, CAST(length(d.text) AS BIGINT) * 10000000000 + d.doc_id) AS keeper,
                  COUNT(*) AS n_members,
                  MAX(CAST(length(d.text) AS BIGINT)) AS max_len
           FROM l3 JOIN documents d ON l3.id = d.doc_id
           GROUP BY l3.label"""
      },
      "q_dedup_clusters" -> {
        // 3 unrolled min-label-propagation rounds — same fixed iteration
        // count as Dedup.clusters, so results are hash-identical
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
           $rounds
           SELECT id AS doc_id, label AS cluster FROM l3"""
      },
      // TRUE connected components via recursive reachability closure
      // (min reachable node per node) — star contraction's exact target,
      // independent of any round count.
      "q_dedup_clusters_star" ->
        s"""WITH RECURSIVE ${minhashCtes.stripPrefix("WITH ")},
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           reach AS (
             SELECT id, id AS r FROM nodes
             UNION
             SELECT e.src AS id, reach.r FROM edges e
             JOIN reach ON e.dst = reach.id)
           SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id""",

      "q_budget_trim" ->
        s"""WITH tk AS (SELECT doc_id, source, ${duckTokens("text")} AS toks FROM documents),
           s AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS ntok,
                  0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
                  0.3 * (CAST($stop AS DOUBLE) / nullif(len(toks), 0)) +
                  0.3 * (CAST(len(list_filter(toks, w -> length(w) <= 5)) AS DOUBLE) / nullif(len(toks), 0)) AS quality
                 FROM tk),
           c AS (SELECT source, ntok,
                        SUM(ntok) OVER (PARTITION BY source
                          ORDER BY quality DESC, doc_id) AS cum
                 FROM s)
           SELECT source,
                  CAST(SUM(CASE WHEN cum <= 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                  CAST(SUM(CASE WHEN cum <= 20000 THEN ntok ELSE 0 END) AS BIGINT) AS tok_kept,
                  CAST(SUM(CASE WHEN cum > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
           FROM c GROUP BY source""",
      "q_emb_norms" -> {
        val normQ = "CAST(round(sqrt(list_reduce(list_prepend(0::DOUBLE, " +
          "list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), " +
          "(acc, v) -> acc + v)) * 1000000000.0) AS BIGINT)"
        s"""WITH n AS (SELECT vec_id, $normQ AS norm_q FROM embeddings),
           lo AS (SELECT vec_id, norm_q, 'smallest' AS tail FROM n
                  ORDER BY norm_q, vec_id LIMIT 5),
           hi AS (SELECT vec_id, norm_q, 'largest' AS tail FROM n
                  ORDER BY norm_q DESC, vec_id LIMIT 5)
           SELECT vec_id, norm_q, tail,
                  norm_q < 100000000 OR norm_q > 100000000000 AS suspicious
           FROM (SELECT * FROM lo UNION ALL SELECT * FROM hi)"""
      },
      "q_shard_plan" ->
        """WITH r AS (SELECT doc_id, n_chars,
                  ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank
                 FROM documents),
           p AS (SELECT (rank - 1) % 8 AS shard,
                        CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(SUM(n_chars) AS BIGINT) AS bytes
                 FROM r GROUP BY (rank - 1) % 8),
           t AS (SELECT CAST(SUM(bytes) AS BIGINT) AS tb FROM p)
           SELECT shard, n_docs, bytes,
                  CAST(8 * bytes AS DOUBLE) / tb AS load_vs_perfect
           FROM p CROSS JOIN t""",
      "q_user_lifetime" ->
        // Spark ts is epoch-nanos; DuckDB micros: day = us // 86400e6
        // equals nanos div 86400e9, and span uses the same equivalence
        """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
           a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                        CAST(COUNT(DISTINCT us // 86400000000) AS BIGINT) AS active_days,
                        MIN(us) AS first_us, MAX(us) AS last_us
                 FROM e GROUP BY user_id)
           SELECT user_id, n_events, active_days,
                  CAST((last_us - first_us) // 86400000000 AS BIGINT) AS span_days,
                  CAST(n_events AS DOUBLE) / active_days AS events_per_day
           FROM a ORDER BY n_events DESC, user_id LIMIT 100""",
      "q_interarrival" ->
        // both sides floor each ts to MICROS per value and difference
        // in micros (the raw-Δnanos form is NOT equivalent on a
        // nanos-typed events variant: difference-of-floors !=
        // floor-of-difference)
        """WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id FROM events),
           g AS (SELECT event_type,
                   (us - lag(us) OVER (PARTITION BY event_type
                      ORDER BY us, event_id)) // 1000000 AS gap_s
                 FROM e),
           a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                        CAST(SUM(gap_s) AS BIGINT) AS sx,
                        CAST(SUM(gap_s * gap_s) AS BIGINT) AS sxx
                 FROM g WHERE gap_s IS NOT NULL GROUP BY event_type),
           b AS (SELECT event_type, n_gaps,
                        CAST(sx AS DOUBLE) / n_gaps AS mean_gap_s,
                        sqrt(greatest(CAST(n_gaps AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0)) / n_gaps AS std_gap_s
                 FROM a)
           SELECT event_type, n_gaps, mean_gap_s, std_gap_s,
                  (std_gap_s - mean_gap_s) /
                    nullif(std_gap_s + mean_gap_s, 0.0) AS burstiness
           FROM b""",
      "q_last_digit" ->
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
           FROM x GROUP BY n""",
      "q_seasonal_dow" ->
        // DuckDB dayofweek: Sunday = 0; Spark dayofweek: Sunday = 1 —
        // the Spark side subtracts 1 so both emit the same dow
        """WITH cells AS (SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(value AS DECIMAL(18,2))) AS sv
                FROM events GROUP BY event_type, dayofweek(ts)),
           o AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_all,
                        SUM(sv) AS sv_all
                 FROM cells GROUP BY event_type)
           SELECT cells.event_type, dow, n,
                  CAST(sv AS DOUBLE) / n AS mean_v,
                  (CAST(sv AS DOUBLE) / n) /
                    (CAST(sv_all AS DOUBLE) / n_all) AS ratio,
                  ((CAST(sv AS DOUBLE) / n) /
                    (CAST(sv_all AS DOUBLE) / n_all)) > CAST(1.2 AS DOUBLE)
                  OR ((CAST(sv AS DOUBLE) / n) /
                    (CAST(sv_all AS DOUBLE) / n_all)) < CAST(0.8 AS DOUBLE)
                    AS seasonal
           FROM cells JOIN o ON cells.event_type = o.event_type""",
      "q_ewma" ->
        """SELECT event_id, user_id, value,
                  list_reduce(list_prepend(0::DOUBLE, list_transform(range(0, len(vs)), i ->
                    vs[i + 1] / ((1::BIGINT << (len(vs) - 1 - i))::DOUBLE))), (acc, x) -> acc + x) /
                  list_reduce(list_prepend(0::DOUBLE, list_transform(range(0, len(vs)), i ->
                    1.0 / ((1::BIGINT << i)::DOUBLE))), (acc, x) -> acc + x) AS ewma
           FROM (SELECT event_id, user_id, value,
                   list(value) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vs
                 FROM events)""",
      "q_impute" ->
        """WITH ev AS (SELECT event_id, event_type,
                  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
               FROM events),
           m AS (SELECT event_type AS g,
                  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS grp_mean
                 FROM ev GROUP BY 1)
           SELECT e.event_id, e.event_type,
                  coalesce(e.v, m.grp_mean) AS v_imputed,
                  e.v IS NULL AS was_missing
           FROM ev e JOIN m ON e.event_type = m.g""",
      "q_winsorize" ->
        """WITH pct AS (SELECT event_type AS g,
                  percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p05,
                  percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95
                FROM events GROUP BY 1)
           SELECT e.event_id, e.event_type, e.value,
                  least(greatest(e.value, p.p05), p.p95) AS clipped
           FROM events e JOIN pct p ON e.event_type = p.g""",
      "q_corpus_report" ->
        s"""WITH tk AS (SELECT doc_id, source, ${duckTokens("text")} AS toks FROM documents),
           q AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_toks,
                  0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
                  0.3 * (CAST($stop AS DOUBLE) / len(toks)) +
                  0.3 * (CAST(len(list_filter(toks, w -> length(w) <= 5)) AS DOUBLE) / len(toks)) AS quality
                 FROM tk),
           fpc AS (SELECT source, ${duckStrHash("text")} AS fp, COUNT(*) AS c
                   FROM documents GROUP BY source, 2),
           dup AS (SELECT source AS s2,
                     CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
                   FROM fpc GROUP BY 1),
           agg AS (SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
                     CAST(SUM(CAST(floor(quality * 1e6) AS BIGINT)) AS BIGINT) AS qsum,
                     CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
                   FROM q GROUP BY source)
           SELECT a.source, n_docs, total_tokens,
                  CAST(total_tokens AS DOUBLE) / n_docs AS avg_tokens,
                  (CAST(qsum AS DOUBLE) / n_docs) / 1e6 AS avg_quality,
                  n_quality_pass, n_dup_docs
           FROM agg a JOIN dup d ON a.source = d.s2""",
      "q_upsample" ->
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
           FROM r WHERE rep > 0""",
      "q_doc_chunks" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ch AS (SELECT doc_id, toks,
                    unnest(range(0, CAST(greatest(ceil((len(toks) - 16) / 8.0), 0) AS BIGINT) + 1)) AS chunk_id
                  FROM tk WHERE len(toks) > 0)
           SELECT doc_id, chunk_id,
                  array_to_string(toks[chunk_id * 8 + 1 : chunk_id * 8 + 16], ' ') AS chunk_text,
                  CAST(len(toks[chunk_id * 8 + 1 : chunk_id * 8 + 16]) AS BIGINT) AS n_chunk_toks
           FROM ch""",
      "q_seq_pack" ->
        s"""WITH tk AS (SELECT doc_id, source, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_toks FROM documents),
           c AS (SELECT doc_id, source, n_toks,
                   CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                 FROM tk)
           SELECT source, (cum - n_toks) // 256 AS bin,
                  COUNT(*) AS n_docs,
                  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
                  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
           FROM c GROUP BY source, (cum - n_toks) // 256""",
      "q8_market_share" ->
        """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                  CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN
                    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
                  CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN
                    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           GROUP BY 1""",
      "q9_profit" ->
        """SELECT n_name AS nation,
                  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2))) -
                           CAST(p_retailprice AS DECIMAL(18,2)) *
                           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
           FROM lineitem
           JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation   ON s_nationkey = n_nationkey
           GROUP BY 1, 2""",
      "q13_custdist" ->
        """SELECT c_count, COUNT(*) AS custdist FROM (
             SELECT c_custkey, COUNT(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             GROUP BY c_custkey)
           GROUP BY c_count""",
      "q16_supplier_cnt" ->
        """SELECT p_brand, p_type, p_size,
                  COUNT(DISTINCT l_suppkey) AS supplier_cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand <> 'Brand#1'
             AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
           GROUP BY 1, 2, 3""",
      "q17_small_qty" ->
        """WITH a AS (SELECT l_partkey AS ap_key,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#3' GROUP BY l_partkey)
           SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
                  COUNT(*) AS n_lines
           FROM lineitem JOIN a ON l_partkey = ap_key
           WHERE l_quantity < 0.2 * avg_qty""",
      "q21_lonely_return" ->
        """WITH multi AS (SELECT l_orderkey FROM lineitem
                          GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2),
           ret AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                   WHERE l_returnflag = 'R')
           SELECT s_name, COUNT(*) AS numwait
           FROM ret r
           JOIN multi USING (l_orderkey)
           JOIN supplier ON r.l_suppkey = s_suppkey
           WHERE NOT EXISTS (SELECT 1 FROM ret o
                             WHERE o.l_orderkey = r.l_orderkey
                               AND o.l_suppkey <> r.l_suppkey)
           GROUP BY s_name
           ORDER BY numwait DESC, s_name LIMIT 10""",
      "q_seasonality" ->
        """WITH h AS (SELECT event_type,
                  (epoch_us(ts) // 3600000000) % 24 AS hod,
                  COUNT(*) AS n,
                  SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
                FROM events GROUP BY 1, 2),
           w AS (SELECT *, SUM(sum_dec) OVER (PARTITION BY event_type) AS type_sum,
                        CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS type_n
                 FROM h)
           SELECT event_type, hod, n,
                  CAST(sum_dec AS DOUBLE) / n AS hod_mean,
                  (CAST(sum_dec AS DOUBLE) / n) /
                  (CAST(type_sum AS DOUBLE) / type_n) AS season_ratio
           FROM w""",
      "q_degree_dist" ->
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           deg AS (SELECT id, COUNT(*) AS degree FROM (
                     SELECT doc_a AS id FROM cand
                     UNION ALL SELECT doc_b AS id FROM cand)
                   GROUP BY id)
           SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree""",
      "q_running_distinct" ->
        """WITH fd AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS day
                       FROM events GROUP BY user_id),
           nd AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY day)
           SELECT day, new_users,
                  CAST(SUM(new_users) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
           FROM nd""",
      "q_dau_wau" ->
        """WITH ud AS (SELECT DISTINCT user_id,
                              epoch_us(ts) // 86400000000 AS day FROM events),
           spine AS (SELECT DISTINCT day AS d FROM ud),
           w AS (SELECT s.d, COUNT(DISTINCT u.user_id) AS wau
                 FROM spine s JOIN ud u ON u.day BETWEEN s.d - 6 AND s.d
                 GROUP BY s.d),
           da AS (SELECT day AS d, COUNT(DISTINCT user_id) AS dau
                  FROM ud GROUP BY day)
           SELECT w.d AS day, da.dau, w.wau FROM w JOIN da USING (d)""",
      "q_basket_lift" ->
        """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand
                       FROM lineitem JOIN part ON l_partkey = p_partkey),
           p AS (SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS n_ab
                 FROM ob a JOIN ob b ON a.okey = b.okey AND a.p_brand < b.p_brand
                 GROUP BY 1, 2),
           bc AS (SELECT p_brand, COUNT(*) AS n_b FROM ob GROUP BY p_brand),
           no AS (SELECT COUNT(*) AS n_orders FROM orders)
           SELECT b1, b2, n_ab,
                  CAST(n_ab * n_orders AS DOUBLE) /
                  CAST(n1.n_b * n2.n_b AS DOUBLE) AS lift
           FROM p JOIN bc n1 ON p.b1 = n1.p_brand
                  JOIN bc n2 ON p.b2 = n2.p_brand
                  CROSS JOIN no
           WHERE n_ab >= 50""",
      "q_vocab_coverage" ->
        s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT unnest(toks) AS token FROM tk),
           c AS (SELECT token, COUNT(*) AS n FROM w GROUP BY token),
           r AS (SELECT token, n,
                        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS "rank",
                        CAST(SUM(n) OVER (ORDER BY n DESC, token
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                 FROM c)
           SELECT "rank", token, n,
                  CAST(cum AS DOUBLE) / (SELECT COUNT(*) FROM w) AS coverage
           FROM r WHERE "rank" <= 64""",
      "q_hard_negatives" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
                       FROM embeddings WHERE vec_id < 10),
           scored AS (SELECT q.qid, c.vec_id AS cid,
                             ${duckCosine("q.qv", "c.embedding")} AS cosine
                      FROM q CROSS JOIN embeddings c
                      WHERE c.label <> q.qlabel),
           r AS (SELECT qid, cid, cosine,
                        CAST(ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY cosine DESC, cid) AS BIGINT) AS "rank"
                 FROM scored)
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 5""",
      "q_scd2" ->
        """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us FROM events),
           l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e),
           m AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS changed FROM l),
           r AS (SELECT *, CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM m),
           runs AS (SELECT user_id, run, event_type, MIN(t_us) AS valid_from,
                           COUNT(*) AS n_events
                    FROM r GROUP BY user_id, run, event_type)
           SELECT user_id, event_type, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS valid_to,
                  n_events,
                  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) IS NULL AS is_current
           FROM runs""",
      "q_hist_quantile" ->
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
           FROM q WHERE cum >= target AND cum - n < target""",
      "q_lex_diversity" ->
        s"""WITH tk AS (SELECT doc_id, unnest(${duckTokens("text")}) AS w FROM documents),
           c AS (SELECT doc_id, w, COUNT(*) AS n FROM tk GROUP BY doc_id, w),
           g AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
                        CAST(SUM(n * n) AS BIGINT) AS sum_sq
                 FROM c GROUP BY doc_id)
           SELECT doc_id, n_tokens,
                  CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) / (n_tokens * n_tokens) AS gini
           FROM g""",
      "q_dup_by_source" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           wh AS (SELECT doc_id,
                         unnest(list_distinct(list_transform(${duckShingles("toks", 8)}, s -> ${duckStrHash("s")}))) AS wh
                  FROM tk),
           dw AS (SELECT wh, COUNT(*) AS ndocs FROM wh GROUP BY wh),
           per AS (SELECT doc_id, COUNT(*) AS n_windows,
                          CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
                   FROM wh JOIN dw USING (wh) GROUP BY doc_id)
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(n_windows) AS BIGINT) AS windows,
                  CAST(SUM(n_dup_windows) AS BIGINT) AS dup_windows,
                  CAST(SUM(n_dup_windows) AS DOUBLE) / SUM(n_windows) AS dup_rate
           FROM per JOIN documents USING (doc_id) GROUP BY source""",
      "q_train_shard" ->
        s"""WITH h AS (SELECT doc_id,
                  ${duckStrHash("('s:' || CAST(doc_id AS VARCHAR))")} % 8 AS shard,
                  ${duckStrHash("('o:' || CAST(doc_id AS VARCHAR))")} AS ord
                FROM documents)
           SELECT doc_id, shard,
                  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
           FROM h""",
      "q_train_order" -> {
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
      },
      "q_source_mix" ->
        s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(${duckTokens("text")})) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source)
           SELECT source, n_docs, n_tokens,
                  sqrt(n_tokens) / sqrt((SELECT MAX(n_tokens) FROM per)) AS rel_weight
           FROM per""",
      "q_max_concurrent" ->
        """WITH ev AS (SELECT event_type, epoch_us(ts) AS t_us FROM events),
           pts AS (SELECT event_type, t_us AS t, 1 AS delta FROM ev
                   UNION ALL
                   SELECT event_type, t_us + 300000000 AS t, -1 AS delta FROM ev),
           r AS (SELECT event_type,
                   SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
                 FROM pts)
           SELECT event_type, CAST(MAX(running) AS BIGINT) AS max_concurrent,
                  COUNT(*) AS n_points
           FROM r GROUP BY event_type""",
      "q_heavy_hitters" ->
        s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           tok AS (SELECT unnest(toks) AS w FROM tk),
           top5 AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
                    ORDER BY cnt DESC, w LIMIT 5)
           SELECT w, cnt, true AS in_sketch FROM top5""",
      "q_skew_report" ->
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
           FROM stats CROSS JOIN heavy""",
      "q_rolling_z" ->
        """SELECT event_id, user_id, value, mean20,
                  (value - mean20) / nullif(std20, 0) AS z
           FROM (SELECT event_id, user_id, value, mean20,
                        sqrt(greatest(meansq20 - mean20 * mean20, 0)) AS std20
                 FROM (SELECT event_id, user_id, value,
                         CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS mean20,
                         CAST(SUM(CAST(value * value AS DECIMAL(28,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS meansq20
                       FROM events
                       WINDOW w AS (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id
                                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)))""",
      "q_feature_scale" ->
        """SELECT event_id, event_type, value,
                  (value - MIN(value) OVER (PARTITION BY event_type)) /
                  nullif(MAX(value) OVER (PARTITION BY event_type) -
                         MIN(value) OVER (PARTITION BY event_type), 0) AS minmax,
                  percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr
           FROM events""",
      "q_mode" ->
        """WITH c AS (SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
                      FROM orders JOIN customer ON o_custkey = c_custkey
                      GROUP BY 1, 2)
           SELECT c_mktsegment, o_orderpriority AS mode_priority,
                  n AS mode_n
           FROM (SELECT c_mktsegment, o_orderpriority, n,
                        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                          ORDER BY n DESC, o_orderpriority) AS rn
                 FROM c)
           WHERE rn = 1""",
      "q_quantize_int8" ->
        """WITH e AS (SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(embedding,
                      v -> abs(CAST(v AS DOUBLE)))),
                    (m, v) -> greatest(m, v)) AS scale
                 FROM embeddings WHERE vec_id < 50),
           q AS (SELECT vec_id, scale,
                  list_transform(embedding, v ->
                    CAST(floor(CAST(v AS DOUBLE) / scale * 127) AS BIGINT))
                    AS codes
                 FROM e WHERE scale > 0)
           SELECT vec_id, scale,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(codes, c -> abs(c))),
                    (a, c) -> a + c) AS code_mass,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(codes, c -> abs(c))),
                    (a, c) -> greatest(a, c)) AS max_code
           FROM q""",
      "q_source_overlap" ->
        s"""WITH st AS (SELECT DISTINCT source, unnest(${duckTokens("text")})
                          AS token FROM documents),
           sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
           iv AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_both
                  FROM st a JOIN st b
                    ON a.token = b.token AND a.source < b.source
                  GROUP BY 1, 2)
           SELECT s1, s2, n_both,
                  CAST(n_both AS DOUBLE) / (x.n + y.n - n_both)
                    AS vocab_jaccard
           FROM iv JOIN sz x ON s1 = x.source JOIN sz y ON s2 = y.source""",
      "q_source_tvd" ->
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
           FROM pr""",
      "q_source_hellinger" ->
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
           FROM pr""",
      "q_ks_test" ->
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
           FROM cum CROSS JOIN t GROUP BY n1, n2""",
      "q_len_drift_ks" ->
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
           FROM cum CROSS JOIN t GROUP BY n1, n2""",
      "q_conversion_window" ->
        """WITH u AS (SELECT user_id,
                  MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS fc,
                  MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
                 FROM events GROUP BY user_id),
           s AS (SELECT (fp - fc) // 1000000 AS secs FROM u
                 WHERE fc IS NOT NULL AND fp IS NOT NULL AND fp >= fc),
           a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
                  CAST(SUM(CASE WHEN secs <= 3600 THEN 1 ELSE 0 END) AS BIGINT) AS in_1h,
                  CAST(SUM(CASE WHEN secs <= 86400 THEN 1 ELSE 0 END) AS BIGINT) AS in_24h,
                  CAST(SUM(CASE WHEN secs <= 604800 THEN 1 ELSE 0 END) AS BIGINT) AS in_7d
                 FROM s)
           SELECT n_converted, in_1h, in_24h, in_7d,
                  CAST(in_1h AS DOUBLE) / n_converted AS share_1h,
                  CAST(in_24h AS DOUBLE) / n_converted AS share_24h
           FROM a""",
      "q_dedup_savings" -> {
        // same 3 unrolled propagation rounds as q_dedup_clusters
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
           dropped AS (SELECT id FROM l3 WHERE label <> id)
           SELECT source, COUNT(*) AS docs_dropped,
                  CAST(SUM(n_chars) AS BIGINT) AS chars_saved
           FROM documents JOIN dropped ON doc_id = id
           GROUP BY source"""
      },
      "q_hhi" ->
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
           FROM q GROUP BY type_class""",
      "q_weighted_median" ->
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
           FROM c WHERE cum * 2 >= total GROUP BY l_returnflag""",
      "q_funnel_windowed" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us
                      FROM events),
           v AS (SELECT user_id, MIN(t_us) AS t_view FROM e
                 WHERE event_type = 'view' GROUP BY user_id),
           c AS (SELECT e.user_id, t_view, MIN(t_us) AS t_click
                 FROM e JOIN v ON e.user_id = v.user_id
                 WHERE event_type = 'click' AND t_us > t_view
                   AND t_us <= t_view + 3600000000
                 GROUP BY e.user_id, t_view),
           p AS (SELECT e.user_id, MIN(t_us) AS t_buy
                 FROM e JOIN c ON e.user_id = c.user_id
                 WHERE event_type = 'purchase' AND t_us > t_click
                   AND t_us <= t_click + 86400000000
                 GROUP BY e.user_id),
           s AS (SELECT CASE WHEN t_buy IS NOT NULL THEN 3
                             WHEN t_click IS NOT NULL THEN 2
                             ELSE 1 END AS stage
                 FROM v LEFT JOIN c USING (user_id)
                        LEFT JOIN p USING (user_id))
           SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_users
           FROM s GROUP BY stage""",
      "q_user_paths" ->
        """WITH e AS (SELECT user_id, event_id, event_type,
                             epoch_us(ts) AS t_us FROM events),
           r AS (SELECT user_id, event_type,
                        ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY t_us, event_id) AS rn FROM e),
           pp AS (SELECT user_id,
                         array_to_string(list(event_type ORDER BY rn), '>')
                           AS path
                  FROM r WHERE rn <= 3 GROUP BY user_id)
           SELECT path, COUNT(*) AS n_users FROM pp GROUP BY path""",
      "q_tokenizer_fertility" ->
        s"""WITH tk AS (SELECT lang, text, ${duckTokens("text")} AS toks
                        FROM documents)
           SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
                  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                  CAST(SUM(len(toks)) * 100 AS DOUBLE)
                    / CAST(SUM(length(text)) AS BIGINT)
                    AS tokens_per_100_chars
           FROM tk GROUP BY lang""",
      "q_lsh_calibration" ->
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb,
                  CAST(len(list_filter(list_transform(range(1, 13),
                    i -> a.mh[i] = b.mh[i]), v -> v)) AS BIGINT) AS k_agree
                 FROM buckets a JOIN buckets b
                   ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id),
           hsd AS (SELECT doc_id, list_distinct(hs) AS hs FROM hs),
           v AS (SELECT k_agree,
                        CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT)
                          AS ov,
                        CAST(len(ha.hs) + len(hb.hs)
                          - len(list_intersect(ha.hs, hb.hs)) AS BIGINT)
                          AS un
                 FROM cand JOIN hsd ha ON pa = ha.doc_id
                           JOIN hsd hb ON pb = hb.doc_id)
           SELECT k_agree, COUNT(*) AS n_pairs,
                  CAST(CAST(SUM(ov) AS BIGINT) AS DOUBLE)
                    / CAST(SUM(un) AS BIGINT) AS micro_jaccard
           FROM v GROUP BY k_agree""",
      "q_lsh_quality" ->
        s"""$minhashCtes,
           pred AS (SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
                    WHERE CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 >= 0.3),
           tkh AS (SELECT doc_id, list_distinct(list_transform(${duckShingles("toks", 3)}, s -> ${duckStrHash("s")})) AS toks2 FROM tk),
           dt2 AS (SELECT doc_id, len(toks2) AS n_toks, unnest(toks2) AS tok FROM tkh),
           tdf2 AS (SELECT tok, COUNT(*) AS df FROM dt2 GROUP BY tok),
           pf2 AS (SELECT doc_id, tok FROM (
                    SELECT d.doc_id, d.tok, d.n_toks,
                           ROW_NUMBER() OVER (PARTITION BY d.doc_id ORDER BY t.df, d.tok) AS rn
                    FROM dt2 d JOIN tdf2 t ON d.tok = t.tok)
                  WHERE rn <= n_toks - CAST(ceil(0.3 * n_toks) AS BIGINT) + 1),
           candp AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                     FROM pf2 a JOIN pf2 b ON a.tok = b.tok AND a.doc_id < b.doc_id),
           truth AS (SELECT da AS ta, db AS tb FROM (
                       SELECT c.da, c.db,
                              CAST(len(list_intersect(x.toks2, y.toks2)) AS DOUBLE) / len(list_distinct(list_concat(x.toks2, y.toks2))) AS j
                       FROM candp c JOIN tkh x ON x.doc_id = c.da
                       JOIN tkh y ON y.doc_id = c.db)
                     WHERE j >= 0.3),
           f AS (SELECT p.pa, p.pb, t.ta, t.tb
                 FROM pred p FULL JOIN truth t ON p.pa = t.ta AND p.pb = t.tb),
           agg AS (SELECT
                CAST(SUM(CASE WHEN pa IS NOT NULL AND ta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(SUM(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(SUM(CASE WHEN pa IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM f)
           SELECT tp, fp, fn,
                  CAST(tp AS DOUBLE) / nullif(tp + fp, 0) AS prec,
                  CAST(tp AS DOUBLE) / nullif(tp + fn, 0) AS rec
           FROM agg""",
      "q_chi2_tokens" ->
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
           FROM k""",
      "q_safe_split" -> {
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
           g AS (SELECT d.doc_id, coalesce(c.label, d.doc_id) AS group_key
                 FROM documents d LEFT JOIN l3 c ON d.doc_id = c.id)
           SELECT doc_id, group_key,
                  ${duckStrHash("CAST(group_key AS VARCHAR)")} % 5 AS fold
           FROM g"""
      },
      "q_oov_rate" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           tok AS (SELECT doc_id, unnest(toks) AS w FROM tk),
           vocab AS (SELECT w FROM (
                       SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
                       ORDER BY cnt DESC, w LIMIT 100)),
           j AS (SELECT t.doc_id,
                        CASE WHEN v.w IS NULL THEN 0 ELSE 1 END AS in_v
                 FROM tok t LEFT JOIN vocab v ON t.w = v.w)
           SELECT doc_id, COUNT(*) AS n_tokens,
                  CAST(SUM(in_v) AS BIGINT) AS n_in_vocab,
                  CAST(COUNT(*) - SUM(in_v) AS DOUBLE) / COUNT(*) AS oov_rate
           FROM j GROUP BY doc_id""",
      "q_pii_redact" -> {
        import graft.operators.TextAnalysis.{piiEmail, piiIp, piiPhone}
        s"""WITH p AS (SELECT c_custkey,
                  c_name || ' ' || lower(regexp_replace(c_name, '#', '', 'g')) || '@example.com' ||
                  ' ph ' || lpad(CAST(10 + c_nationkey AS VARCHAR), 2, '0') || '-' ||
                  lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
                  lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
                  lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0') ||
                  ' ip ' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
                  CAST((c_custkey * 3) % 256 AS VARCHAR) || '.' ||
                  CAST((c_custkey * 5) % 256 AS VARCHAR) || '.' ||
                  CAST((c_custkey * 7) % 256 AS VARCHAR) ||
                  ' ' || c_mktsegment AS profile
           FROM customer)
           SELECT c_custkey,
                  regexp_replace(regexp_replace(regexp_replace(profile,
                    '$piiEmail', '[EMAIL]', 'g'), '$piiIp', '[IP]', 'g'),
                    '$piiPhone', '[PHONE]', 'g') AS redacted,
                  CAST(len(regexp_extract_all(profile, '$piiEmail')) AS BIGINT) AS n_emails,
                  CAST(len(regexp_extract_all(profile, '$piiPhone')) AS BIGINT) AS n_phones,
                  CAST(len(regexp_extract_all(profile, '$piiIp')) AS BIGINT) AS n_ips
           FROM p"""
      },
      "q_profile" -> {
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
      },
      "q_record_linkage" ->
        """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
           FROM customer a JOIN customer b
             ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
           WHERE levenshtein(a.c_name, b.c_name) <= 1""",
      "q_golden_record" -> {
        // brute blocked pairs (the deletion-neighborhood generator is
        // provably complete for edit <= 1) + the same 3 unrolled CC
        // rounds as Dedup.clusters, then the survivorship rollup
        val rounds = (1 to 3).map { i =>
          s"""l$i AS (SELECT n.id, least(n.label, coalesce(m.nm, n.label)) AS label
                FROM l${i - 1} n LEFT JOIN (
                  SELECT e.src, MIN(l.label) AS nm FROM edges e
                  JOIN l${i - 1} l ON e.dst = l.id GROUP BY e.src) m
                ON n.id = m.src)"""
        }.mkString(",\n           ")
        s"""WITH pairs AS (SELECT a.c_custkey AS pa, b.c_custkey AS pb
             FROM customer a JOIN customer b
               ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
             WHERE levenshtein(a.c_name, b.c_name) <= 1),
           edges AS (SELECT pa AS src, pb AS dst FROM pairs
                     UNION ALL SELECT pb, pa FROM pairs),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           l0 AS (SELECT id, id AS label FROM nodes),
           $rounds
           SELECT label AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
                  MIN(c.c_custkey) AS canonical_id,
                  min_by(c.c_name, c.c_custkey) AS canonical_name,
                  CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal,
                  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
           FROM l3 JOIN customer c ON l3.id = c.c_custkey
           GROUP BY label"""
      },
      "q_linkage_cross" ->
        // brute blocked cross-table definition — proves the deletion-
        // neighborhood candidate generator is complete across tables
        """SELECT c.c_custkey AS id_l, s.s_suppkey AS id_r,
                  CAST(levenshtein(substring(c.c_name, 10),
                                   substring(s.s_name, 10)) AS BIGINT) AS edit_dist
           FROM customer c JOIN supplier s
             ON c.c_nationkey = s.s_nationkey
           WHERE levenshtein(substring(c.c_name, 10),
                             substring(s.s_name, 10)) <= 1""",
      "q_pagerank" -> {
        // 3 unrolled fixed-point rounds — integer ops only, so the
        // BIGINT ranks are bit-identical to Graph.pagerank's
        val rounds = (1 to 3).map { i =>
          s"""r$i AS (SELECT n.id,
                (15 * 1000000000000) // (100 * (SELECT n_nodes FROM nn)) +
                (85 * coalesce(m.s, 0)) // 100 AS rank_fx
              FROM r${i - 1} n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.rank_fx // d.outdeg) AS BIGINT) AS s
                FROM edges e JOIN deg d ON e.src = d.src
                JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst) m
              ON n.id = m.dst)"""
        }.mkString(",\n")
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
           r0 AS (SELECT id, 1000000000000 // (SELECT n_nodes FROM nn) AS rank_fx FROM nodes),
           $rounds
           SELECT id AS doc_id, rank_fx,
                  CAST(rank_fx AS DOUBLE) / 1000000000000.0 AS pagerank
           FROM r3"""
      },
      "q_pagerank_seed" -> {
        // 3 unrolled fixed-point rounds with SEED-restricted teleport —
        // bit-identical to Graph.personalizedPagerank
        val rounds = (1 to 3).map { i =>
          s"""p$i AS (SELECT n.id, n.is_seed,
                (n.is_seed * 15 * 1000000000000) // (100 * (SELECT n_seeds FROM ns)) +
                (85 * coalesce(m.s, 0)) // 100 AS rank_fx
              FROM p${i - 1} n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.rank_fx // d.outdeg) AS BIGINT) AS s
                FROM edges e JOIN deg d ON e.src = d.src
                JOIN p${i - 1} r ON e.src = r.id GROUP BY e.dst) m
              ON n.id = m.dst)"""
        }.mkString(",\n")
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
           ns AS (SELECT COUNT(*) AS n_seeds FROM seeds),
           p0 AS (SELECT n.id,
                    CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
                    (CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END
                      * 1000000000000) // (SELECT n_seeds FROM ns) AS rank_fx
                  FROM nodes n LEFT JOIN seeds s ON n.id = s.id),
           $rounds
           SELECT id AS doc_id, rank_fx,
                  CAST(rank_fx AS DOUBLE) / 1000000000000.0 AS ppr
           FROM p3"""
      },
      // wedge enumeration through the center, fixed-point RA weights
      // (1e9 // deg — exact integer division both sides), hub cap 1000,
      // existing edges anti-joined away, total-order top-20 cut
      "q_link_predict" ->
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id),
           sym AS (SELECT doc_a AS u, doc_b AS v FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
           deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
           adj AS (SELECT s.u AS z, s.v AS n, 1000000000 // d.deg AS wz
                   FROM sym s JOIN deg d ON s.u = d.u
                   WHERE d.deg <= 1000),
           w AS (SELECT l.n AS a, r.n AS b, l.wz FROM adj l
                 JOIN adj r ON l.z = r.z AND l.n < r.n),
           sc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common,
                         CAST(SUM(wz) AS BIGINT) AS ra_score_fx
                  FROM w GROUP BY a, b)
           SELECT a AS doc_a, b AS doc_b, common, ra_score_fx
           FROM sc WHERE NOT EXISTS (SELECT 1 FROM sym
                                     WHERE sym.u = sc.a AND sym.v = sc.b)
           ORDER BY ra_score_fx DESC, a, b LIMIT 20""",
      "q_graph_bfs" -> {
        // 4 unrolled BFS rounds; expanding only the previous round's
        // frontier (hop = i-1) mirrors Graph.bfsHops exactly, and the
        // min(hop) fold makes full-expansion and frontier forms equal
        val rounds = (1 to 4).map { i =>
          s"""h$i AS (SELECT id, MIN(hop) AS hop FROM (
                SELECT id, hop FROM h${i - 1}
                UNION ALL
                SELECT e.dst AS id, f.hop + 1 AS hop
                FROM h${i - 1} f JOIN edges e ON e.src = f.id
                WHERE f.hop = ${i - 1}) u GROUP BY id)"""
        }.mkString(",\n")
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           h0 AS (SELECT doc_id AS id, 0 AS hop FROM documents WHERE doc_id % 97 = 0),
           $rounds
           SELECT id AS doc_id, CAST(hop AS BIGINT) AS hop FROM h4"""
      },
      "q_order_gap" ->
        """SELECT o_custkey, CAST(date_diff('day', d1, d2) AS BIGINT) AS gap_days
           FROM (
             SELECT o_custkey, o_orderdate AS d1,
                    lead(o_orderdate) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS d2,
                    ROW_NUMBER() OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS rn
             FROM orders)
           WHERE rn = 1 AND d2 IS NOT NULL""",
      "q_salted_join" ->
        """SELECT p_brand, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_brand""",
      // NOTE (q_stats_agg, q_regression): the DECIMAL(38,4) product sums
      // exceed int64 in unscaled units at sf>=0.1, where DuckDB's direct
      // decimal->double cast is no longer correctly rounded (Spark's
      // BigDecimal path is). Routing through VARCHAR (exact digits ->
      // strtod) restores the correctly-rounded double on the oracle side.
      "q_stats_agg" ->
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
           FROM a""",
      "q_regression" ->
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
           FROM b""",
      "q_bitwise_agg" ->
        """SELECT o_orderstatus,
                  bit_and(o_orderkey) AS band, bit_or(o_orderkey) AS bor,
                  bit_xor(o_orderkey) AS bxor, COUNT(*) AS n
           FROM orders GROUP BY o_orderstatus""",
      "q_order_streaks" ->
        """WITH l AS (SELECT o_custkey, o_orderkey, o_orderdate,
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
           m AS (SELECT *, CASE WHEN prev IS NULL
                    OR date_diff('day', prev, o_orderdate) > 60
                  THEN 1 ELSE 0 END AS brk FROM l),
           s AS (SELECT *, SUM(brk) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
           g AS (SELECT o_custkey, sid, COUNT(*) AS len
                 FROM s GROUP BY o_custkey, sid)
           SELECT o_custkey, COUNT(*) AS n_streaks, MAX(len) AS longest
           FROM g GROUP BY o_custkey""",
      "q_funnel" ->
        """WITH s AS (SELECT user_id,
                  MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
                  MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
                  MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
           FROM events GROUP BY user_id),
           staged AS (SELECT user_id,
                  CAST(CASE
                    WHEN t_view IS NULL THEN 0
                    WHEN t_click IS NULL OR t_click <= t_view THEN 1
                    WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
                    ELSE 3 END AS BIGINT) AS stage
           FROM s)
           SELECT stage, COUNT(*) AS n_users FROM staged GROUP BY stage""",
      "q_cohort_retention" ->
        """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
           c AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY user_id)
           SELECT c.cohort, d.day - c.cohort AS age_days,
                  COUNT(DISTINCT d.user_id) AS n_active
           FROM d JOIN c ON d.user_id = c.user_id
           GROUP BY c.cohort, age_days""",
      "q_histogram" ->
        """SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS bucket,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM lineitem GROUP BY 1""",
      "q_crypto_hash" ->
        """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
           FROM documents""",
      "q_token_count" ->
        s"""SELECT doc_id,
                  CAST(len(${XFormulas.duckTokens("text")}) AS BIGINT) AS ws_tokens,
                  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
           FROM documents""",
      "q_null_semantics" ->
        """SELECT l_orderkey, l_linenumber,
                  nullif(l_returnflag, 'N') AS nflag,
                  l_returnflag IS NOT DISTINCT FROM nullif(l_returnflag, 'N') AS nsafe_eq,
                  nullif(l_returnflag, 'N') IS NULL AS was_n
           FROM lineitem""",
      "q_grouping_fn" ->
        """SELECT l_returnflag, CAST(GROUPING(l_returnflag) AS BIGINT) AS g,
                  COUNT(*) AS n
           FROM lineitem GROUP BY ROLLUP(l_returnflag)""",
      "q_date_arith" ->
        """SELECT o_orderkey,
                  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mo,
                  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3,
                  CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS dd,
                  CAST(isodow(o_orderdate) AS BIGINT) AS isodow
           FROM orders""",
      "q_intersect_all" ->
        """SELECT l_suppkey AS sk FROM lineitem
           INTERSECT ALL SELECT s_suppkey AS sk FROM supplier""",
      "q_posexplode" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, i AS pos, toks[CAST(i AS INT)] AS word
           FROM tk, unnest(range(1, len(toks) + 1)) AS t(i)""",
      "q_recursive_cte" ->
        """WITH RECURSIVE s(n, f) AS (
             SELECT 1, CAST(1 AS BIGINT)
             UNION ALL
             SELECT n + 1, f * (n + 1) FROM s WHERE n < 15)
           SELECT n, f FROM s""",
      "q6_forecast" ->
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
             AND l_discount >= 0.02 AND l_discount <= 0.06
             AND l_quantity < 24""",
      "q_json_extract" ->
        """WITH j AS (SELECT o_orderkey,
                  '{"status":"' || o_orderstatus || '","price":' ||
                  CAST(o_totalprice AS VARCHAR) || '}' AS js FROM orders)
           SELECT o_orderkey,
                  json_extract_string(js, '$.status') AS status,
                  CAST(json_extract_string(js, '$.price') AS DOUBLE) AS price
           FROM j""",
      "q_minhash_union" ->
        s"""$minhashCtes,
           g AS (SELECT doc_id % 10 AS shard, mh FROM sigs)
           SELECT shard,
                  array_to_string(list_transform(range(1, 13),
                    i -> list_min(list_transform(list(mh), s -> s[i]))), ',') AS union_sig
           FROM g GROUP BY shard""",
      "q_kmv_distinct" ->
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
           FROM s""",
      "q_kmv_join_est" ->
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
           FROM d""",
      "q_topk_group" ->
        """SELECT l_partkey, l_orderkey, l_linenumber, rn FROM (
             SELECT l_partkey, l_orderkey, l_linenumber,
                    ROW_NUMBER() OVER (PARTITION BY l_partkey
                      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
             FROM lineitem) WHERE rn <= 2""",
      "q_topk_group_window" ->
        """SELECT l_partkey, l_orderkey, l_linenumber, rn FROM (
             SELECT l_partkey, l_orderkey, l_linenumber,
                    ROW_NUMBER() OVER (PARTITION BY l_partkey
                      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
             FROM lineitem) WHERE rn <= 2""",
      "q_argmax" ->
        """SELECT c_nationkey,
                  arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                                      * 1000000000 + o_orderkey) AS best_order,
                  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS top_price,
                  COUNT(*) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_nationkey""",
      "q_jaro_linkage" ->
        """SELECT a.p_brand, a.p_partkey AS p1, b.p_partkey AS p2,
                  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
           FROM part a JOIN part b
             ON a.p_brand = b.p_brand AND a.p_size = b.p_size
            AND a.p_partkey < b.p_partkey
           WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88""",
      "q_cdc_diff" ->
        """WITH cur AS (SELECT o_orderkey, o_totalprice FROM orders),
           old AS (SELECT o_orderkey AS k_old,
                          CASE WHEN o_orderkey % 13 = 0
                               THEN o_totalprice + 1.0
                               ELSE o_totalprice END AS price_old
                   FROM cur WHERE o_orderkey % 97 <> 0),
           neu AS (SELECT o_orderkey AS k_new, o_totalprice AS price_new
                   FROM cur WHERE o_orderkey % 89 <> 0),
           d AS (SELECT CASE WHEN k_old IS NULL THEN 'insert'
                             WHEN k_new IS NULL THEN 'delete'
                             WHEN CAST(price_old AS DECIMAL(18,2))
                               <> CAST(price_new AS DECIMAL(18,2)) THEN 'update'
                             ELSE 'unchanged' END AS op,
                        COALESCE(k_old, k_new) AS k
                 FROM old FULL OUTER JOIN neu ON k_old = k_new)
           SELECT op, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
           FROM d GROUP BY op""",
      "q_k_anonymity" ->
        """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                  COUNT(*) < 10 AS at_risk
           FROM customer GROUP BY c_nationkey, c_mktsegment""",
      "q_parquet_meta" ->
        // SCALE-PORTABLE: __SF_DIR__ is substituted with the sweep's
        // actual data directory when Verify dumps oracle_sql.json, so
        // both engines always read the SAME footers at any scale factor
        // (parquet_metadata needs a raw path; the table views cannot
        // carry one)
        """SELECT file_name, row_group_id, row_group_num_rows AS n_rows,
                  COUNT(*) AS n_chunks,
                  CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_bytes,
                  CAST(SUM(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes
           FROM (
             SELECT 'lineitem.parquet' AS file_name, row_group_id,
                    row_group_num_rows, total_compressed_size,
                    total_uncompressed_size
             FROM parquet_metadata('__SF_DIR__/lineitem.parquet')
             UNION ALL
             SELECT 'orders.parquet', row_group_id, row_group_num_rows,
                    total_compressed_size, total_uncompressed_size
             FROM parquet_metadata('__SF_DIR__/orders.parquet'))
           GROUP BY file_name, row_group_id, row_group_num_rows""",
      "q_skip_stats" ->
        // the stored per-file zone maps vs the data they describe: one
        // file per order-year, so DuckDB recomputes per-year bounds
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  epoch_us(MIN(o_orderdate)) AS min_us,
                  epoch_us(MAX(o_orderdate)) AS max_us,
                  (epoch_us(MIN(o_orderdate)) < epoch_us(TIMESTAMP '1997-01-01')
                   AND epoch_us(MAX(o_orderdate)) >= epoch_us(TIMESTAMP '1996-01-01')) AS may_96
           FROM orders GROUP BY year(o_orderdate)""",
      "q_skip_read" ->
        // the pruned read must equal the raw-table predicate exactly
        """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
             AND o_totalprice > 150000.0e0
           GROUP BY o_orderpriority""",
      "q_skip_bloom" ->
        // the bloom-pruned point lookup must equal the raw IN predicate
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey IN (3, 777, 1337)""",
      // the naive quadratic truth the grid join must reproduce — shared
      // by the batch operator and the streaming gate's cumulative table
      "q_spatial_join" -> spatialPairsTruth,
      "q_spatial_gate" -> spatialPairsTruth,
      "q_spatial_density" ->
        """WITH p AS (SELECT (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer)
           SELECT x // 50 AS cx, y // 50 AS cy,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  COUNT(*) >= 8 AS hotspot
           FROM p GROUP BY x // 50, y // 50""",
      "q_spatial_near" ->
        """WITH c AS (SELECT c_custkey AS cid, (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer),
           s AS (SELECT s_suppkey AS sid, (s_suppkey * 53) % 1000 AS x,
                        (s_suppkey * 17) % 1000 AS y FROM supplier)
           SELECT c.cid, s.sid,
                  CAST((c.x - s.x) * (c.x - s.x)
                     + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2
           FROM c JOIN s ON (c.x - s.x) * (c.x - s.x)
                          + (c.y - s.y) * (c.y - s.y) <= 625""",
      "q_spatial_nearest" ->
        """WITH c AS (SELECT c_custkey AS cid, (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer),
           s AS (SELECT s_suppkey AS sid, (s_suppkey * 53) % 1000 AS x,
                        (s_suppkey * 17) % 1000 AS y FROM supplier),
           nb AS (SELECT c.cid, s.sid,
                         CAST((c.x - s.x) * (c.x - s.x)
                            + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2
                  FROM c JOIN s ON (c.x - s.x) * (c.x - s.x)
                                 + (c.y - s.y) * (c.y - s.y) <= 2500)
           SELECT cid, sid, dist2 FROM (
             SELECT cid, sid, dist2, row_number() OVER (
               PARTITION BY cid ORDER BY dist2, sid) AS rk FROM nb)
           WHERE rk = 1""",
      "q_spatial_knn" ->
        // naive truth: all neighbors within r, rank per point, keep k
        """WITH p AS (SELECT c_custkey AS id, (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer),
           nb AS (SELECT a.id AS id, b.id AS nbr,
                         CAST((a.x - b.x) * (a.x - b.x)
                            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
                  FROM p a JOIN p b ON a.id <> b.id
                  WHERE (a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y) <= 625)
           SELECT id, nbr, dist2, knn_rank FROM (
             SELECT id, nbr, dist2,
                    CAST(row_number() OVER (PARTITION BY id
                      ORDER BY dist2, nbr) AS BIGINT) AS knn_rank
             FROM nb) WHERE knn_rank <= 3""",
      "q_spatial_dbscan" ->
        // naive truth: quadratic eps-graph, recursive reachability
        // closure over core-core edges (MIN reachable core = cluster),
        // min-label border attachment, -1 noise
        """WITH RECURSIVE p AS (SELECT c_custkey AS id,
                    (c_custkey * 37) % 1000 AS x,
                    (c_custkey * 91) % 1000 AS y FROM customer),
           nb AS (SELECT a.id AS id, b.id AS nbr FROM p a JOIN p b
                  ON a.id <> b.id
                  WHERE (a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y) <= 900),
           core AS (SELECT id FROM (
                      SELECT p.id, COALESCE(c.n, 0) + 1 AS n FROM p
                      LEFT JOIN (SELECT id, COUNT(*) AS n FROM nb
                                 GROUP BY id) c USING (id))
                    WHERE n >= 5),
           ce AS (SELECT n.id AS src, n.nbr AS dst FROM nb n
                  JOIN core a ON n.id = a.id JOIN core b ON n.nbr = b.id),
           reach AS (SELECT id, id AS r FROM core
                     UNION
                     SELECT e.src AS id, reach.r FROM ce e
                     JOIN reach ON e.dst = reach.id),
           lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
           brd AS (SELECT n.id, MIN(l.cluster) AS cluster FROM nb n
                   JOIN lab l ON n.nbr = l.id
                   WHERE n.id NOT IN (SELECT id FROM core)
                   GROUP BY n.id)
           SELECT id, 'core' AS role, CAST(cluster AS BIGINT) AS cluster
           FROM lab
           UNION ALL
           SELECT id, 'border', CAST(cluster AS BIGINT) FROM brd
           UNION ALL
           SELECT p.id, 'noise', CAST(-1 AS BIGINT) FROM p
           WHERE p.id NOT IN (SELECT id FROM lab)
             AND p.id NOT IN (SELECT id FROM brd)""",
      "q_l_diversity" ->
        """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                  COUNT(DISTINCT CAST(floor(c_acctbal / 4000.0) AS BIGINT)) AS l_distinct,
                  COUNT(DISTINCT CAST(floor(c_acctbal / 4000.0) AS BIGINT)) < 2 AS at_risk
           FROM customer GROUP BY c_nationkey, c_mktsegment""",
      "q_resample_ffill" ->
        """WITH e AS (SELECT event_type, epoch_us(ts) // 600000000 AS bucket,
                             CAST(value AS DECIMAL(18,2)) AS v FROM events),
           h AS (SELECT event_type, bucket, SUM(v) AS s FROM e GROUP BY 1, 2),
           sp AS (SELECT event_type, unnest(range(mn, mx + 1)) AS bucket
                  FROM (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
                        FROM h GROUP BY event_type)),
           j AS (SELECT sp.event_type, sp.bucket, h.s
                 FROM sp LEFT JOIN h USING (event_type, bucket))
           SELECT event_type, bucket, s IS NULL AS filled,
                  CAST(last_value(s IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY bucket) AS DOUBLE) AS v
           FROM j""",
      "q_gini" ->
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
           FROM g""",
      "q_sample_quantiles" ->
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
           FROM ex JOIN samp USING (event_type)""",
      "q_assoc_rules" ->
        s"""WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand
                 FROM lineitem JOIN part ON l_partkey = p_partkey),
           pc AS (SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
                         COUNT(*) AS n_ab
                  FROM ob a JOIN ob b
                    ON a.okey = b.okey AND a.p_brand <> b.p_brand
                  GROUP BY 1, 2),
           bc AS (SELECT p_brand AS antecedent, COUNT(*) AS n_a
                  FROM ob GROUP BY 1),
           no AS (SELECT COUNT(*) AS n_orders FROM orders)
           SELECT antecedent, consequent, n_ab,
                  CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS confidence,
                  CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support
           FROM pc JOIN bc USING (antecedent) CROSS JOIN no
           WHERE n_ab >= 40""",
      "q_t_closeness" ->
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
           FROM j GROUP BY 1, 2""",
      "q_simpson_diversity" ->
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
           FROM g""",
      "q_holt_smoothing" ->
        // same fold, same order, same power-of-two arithmetic —
        // element lists are DOUBLE[] singletons so the accumulator and
        // elements share one list type (list_reduce is monomorphic)
        s"""WITH v AS (SELECT event_type,
                  list(value ORDER BY ts, event_id) AS vals,
                  COUNT(*) AS n
                 FROM events GROUP BY event_type),
           f AS (SELECT event_type, n,
                  list_reduce(
                    list_prepend([0.0, 0.0, 0.0],
                      list_transform(vals, x -> [x])),
                    (acc, x) -> CASE WHEN acc[3] = 0.0
                      THEN [x[1], 0.0, 1.0]
                      ELSE [(x[1] + acc[1] + acc[2]) / 2.0,
                            ((x[1] + acc[1] + acc[2]) / 2.0 - acc[1])
                              / 2.0 + acc[2] / 2.0,
                            acc[3] + 1.0] END) AS st
                 FROM v)
           SELECT event_type, n, st[1] AS level, st[2] AS trend,
                  st[1] + st[2] AS forecast
           FROM f""",
      "q_kcore" ->
        // 3 unrolled peel rounds — pure integer counting, bit-identical
        // to Graph.kcore's bounded peel
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id),
           e0 AS (SELECT a AS src, b AS dst FROM cand
                  UNION ALL SELECT b, a FROM cand),
           k1 AS (SELECT src FROM e0 GROUP BY src HAVING COUNT(*) >= 2),
           e1 AS (SELECT e.src, e.dst FROM e0 e
                  JOIN k1 s ON e.src = s.src JOIN k1 d ON e.dst = d.src),
           k2 AS (SELECT src FROM e1 GROUP BY src HAVING COUNT(*) >= 2),
           e2 AS (SELECT e.src, e.dst FROM e1 e
                  JOIN k2 s ON e.src = s.src JOIN k2 d ON e.dst = d.src),
           k3 AS (SELECT src FROM e2 GROUP BY src HAVING COUNT(*) >= 2),
           e3 AS (SELECT e.src, e.dst FROM e2 e
                  JOIN k3 s ON e.src = s.src JOIN k3 d ON e.dst = d.src)
           SELECT src AS doc_id, COUNT(*) AS deg FROM e3 GROUP BY src""",
      "q_bm25" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                        unnest(toks) AS word FROM tk),
           tf AS (SELECT doc_id, word, COUNT(*) AS tf, MIN(dl) AS dl
                  FROM w WHERE word IN ('join', 'hash', 'row')
                  GROUP BY doc_id, word),
           dfreq AS (SELECT word, COUNT(*) AS dfq FROM (
                       SELECT DISTINCT word, doc_id FROM w
                       WHERE word IN ('join', 'hash', 'row'))
                     GROUP BY word),
           corpus AS (SELECT COUNT(*) AS nd,
                             CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM tk),
           scored AS (SELECT word, doc_id,
                  ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + (0.75e0 * dl) /
                    (CAST(sum_dl AS DOUBLE) / nd)))) *
                    ((nd - dfq + 0.5e0) / (dfq + 0.5e0)) AS score
                  FROM tf JOIN dfreq USING (word) CROSS JOIN corpus)
           SELECT word, doc_id, score,
                  CAST(rn AS BIGINT) AS rn
           FROM (SELECT word, doc_id, score,
                        ROW_NUMBER() OVER (PARTITION BY word
                          ORDER BY score DESC, doc_id) AS rn
                 FROM scored)
           WHERE rn <= 5""",
      // AND retrieval + min-span proximity: the naive truth recomputes
      // postings from the raw text; the bm25 term weights and the
      // final product reuse q_bm25's expression TEXT verbatim (same
      // IEEE tree; tf/dfq wrapped BIGINT — DuckDB SUM(int) is HUGEINT)
      "q_proximity_rank" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           dls AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl
                   FROM tk WHERE len(toks) >= 1),
           corpus AS (SELECT COUNT(*) AS nd,
                             CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls),
           w AS (SELECT doc_id, unnest(toks) AS word,
                        CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos
                 FROM tk),
           p AS (SELECT doc_id, word, pos FROM w
                 WHERE word IN ('join', 'hash', 'scan')),
           tf AS (SELECT * FROM (
                    SELECT doc_id,
                      CAST(SUM(CASE WHEN word = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_0,
                      CAST(SUM(CASE WHEN word = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1,
                      CAST(SUM(CASE WHEN word = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf_2
                    FROM p GROUP BY doc_id)
                  WHERE tf_0 > 0 AND tf_1 > 0 AND tf_2 > 0),
           dfreq AS (SELECT
                      CAST(SUM(CASE WHEN word = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS dfq_0,
                      CAST(SUM(CASE WHEN word = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS dfq_1,
                      CAST(SUM(CASE WHEN word = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS dfq_2
                     FROM (SELECT DISTINCT word, doc_id FROM p)),
           nxt AS (SELECT a.doc_id, a.pos AS apos, b.word,
                          MIN(b.pos) AS npos
                   FROM p a JOIN p b
                     ON a.doc_id = b.doc_id AND b.pos >= a.pos
                   GROUP BY a.doc_id, a.pos, b.word),
           spans AS (SELECT doc_id, MIN(mx - apos + 1) AS span FROM (
                       SELECT doc_id, apos, COUNT(*) AS nw,
                              MAX(npos) AS mx
                       FROM nxt GROUP BY doc_id, apos)
                     WHERE nw = 3 GROUP BY doc_id),
           scored AS (SELECT t.doc_id, s.span,
                  (((tf_0 * 2.2e0) / (tf_0 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (CAST(sum_dl AS DOUBLE) / nd)))) * ((nd - dfq_0 + 0.5e0) / (dfq_0 + 0.5e0)) + ((tf_1 * 2.2e0) / (tf_1 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (CAST(sum_dl AS DOUBLE) / nd)))) * ((nd - dfq_1 + 0.5e0) / (dfq_1 + 0.5e0)) + ((tf_2 * 2.2e0) / (tf_2 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (CAST(sum_dl AS DOUBLE) / nd)))) * ((nd - dfq_2 + 0.5e0) / (dfq_2 + 0.5e0))) * (1e0 + 1e0 / (1e0 + CAST(s.span - 3 AS DOUBLE))) AS score
                FROM tf t JOIN spans s ON t.doc_id = s.doc_id
                JOIN dls d ON d.doc_id = t.doc_id
                CROSS JOIN corpus CROSS JOIN dfreq)
           SELECT doc_id, span, score, rnk FROM (
             SELECT doc_id, span, score,
                    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                      AS BIGINT) AS rnk
             FROM scored)
           WHERE rnk <= 15""",
      "q_hybrid_rrf" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           dt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                  CAST(len(list_filter(toks, w -> w = 'join')) AS BIGINT) AS tf
                FROM tk),
           corpus AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dt),
           dfqt AS (SELECT COUNT(*) AS dfq FROM dt WHERE tf > 0),
           lex AS (SELECT doc_id, lex_rank FROM (
                  SELECT doc_id, CAST(ROW_NUMBER() OVER (
                    ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
                  FROM (SELECT doc_id,
                        ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + (0.75e0 * dl) /
                          (CAST(sum_dl AS DOUBLE) / nd)))) *
                          ((nd - dfq + 0.5e0) / (dfq + 0.5e0)) AS score
                        FROM dt CROSS JOIN corpus CROSS JOIN dfqt
                        WHERE tf > 0))
                WHERE lex_rank <= 100),
           sem AS (SELECT doc_id, sem_rank FROM (
                  SELECT c.vec_id AS doc_id, CAST(ROW_NUMBER() OVER (
                    ORDER BY ${duckCosine("c.embedding", "q.embedding")} DESC,
                      c.vec_id) AS BIGINT) AS sem_rank
                  FROM embeddings c CROSS JOIN
                    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                  WHERE c.vec_id <> 0)
                WHERE sem_rank <= 100),
           fused AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                  l.lex_rank, s.sem_rank,
                  COALESCE(1.0e0 / (60 + l.lex_rank), 0.0e0) +
                    COALESCE(1.0e0 / (60 + s.sem_rank), 0.0e0) AS rrf
                FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
           SELECT doc_id, lex_rank, sem_rank, rrf, rn FROM (
                SELECT doc_id, lex_rank, sem_rank, rrf,
                       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id)
                         AS BIGINT) AS rn
                FROM fused)
           WHERE rn <= 15""",
      "q_pareto" ->
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
           WHERE (m1 IS NULL OR m1 < sz) AND m2 = sz""",
      "q_quantile_norm" ->
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
           JOIN pooled ON pooled.gi = greatest(1, (r.r * nn.nn) // r.n_s)""",
      "q_ab_wilson" ->
        """WITH u AS (SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND value > 144
                      THEN 1 ELSE 0 END) AS conv,
                  user_id % 2 AS cohort
                 FROM events GROUP BY user_id),
           c AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(conv) AS BIGINT) AS k
                 FROM u GROUP BY cohort),
           w AS (SELECT cohort, n, k,
                        CAST(k AS DOUBLE) / n AS p_hat,
                        1.0e0 + 3.8416e0 / n AS denom
                 FROM c),
           w2 AS (SELECT cohort, n, k, p_hat,
                        (p_hat + 3.8416e0 / (2.0e0 * n)) / denom AS center,
                        1.96e0 * sqrt(p_hat * (1.0e0 - p_hat) / n +
                          3.8416e0 / (4.0e0 * n * n)) / denom AS half
                 FROM w)
           SELECT cohort, n, k, p_hat,
                  center - half AS lo, center + half AS hi
           FROM w2""",
      "q_ab_test" ->
        """WITH u AS (SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND value > 144
                      THEN 1 ELSE 0 END) AS conv,
                  user_id % 2 AS cohort
                 FROM events GROUP BY user_id),
           c AS (SELECT cohort, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS k
                 FROM u GROUP BY cohort),
           s AS (SELECT
                  CAST(SUM(CASE WHEN cohort = 0 THEN n END) AS BIGINT) AS n_a,
                  CAST(SUM(CASE WHEN cohort = 0 THEN k END) AS BIGINT) AS k_a,
                  CAST(SUM(CASE WHEN cohort = 1 THEN n END) AS BIGINT) AS n_b,
                  CAST(SUM(CASE WHEN cohort = 1 THEN k END) AS BIGINT) AS k_b
                 FROM c)
           SELECT n_a, k_a, n_b, k_b,
                  (CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) /
                    sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 / n_a + 1.0e0 / n_b)) AS z,
                  abs((CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) /
                    sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
                    (1.0e0 / n_a + 1.0e0 / n_b))) > 1.96 AS significant
           FROM s""",
      "q_attribution" ->
        """WITH e AS (SELECT user_id, event_id, event_type,
                             epoch_us(ts) AS t_us FROM events),
           a AS (SELECT user_id, event_type,
                        last_value(CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS) OVER (
                          PARTITION BY user_id ORDER BY t_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS channel
                 FROM e)
           SELECT channel, COUNT(*) AS conversions,
                  COUNT(DISTINCT user_id) AS buyers
           FROM a WHERE event_type = 'purchase' AND channel IS NOT NULL
           GROUP BY channel""",
      "q_attribution_linear" ->
        """WITH e AS (SELECT user_id, event_id, event_type,
                             epoch_us(ts) AS t_us FROM events),
           j AS (SELECT user_id, event_id, event_type,
                        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                          OVER (PARTITION BY user_id ORDER BY t_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS journey
                 FROM e),
           t AS (SELECT user_id, journey, event_type AS channel,
                        COUNT(*) AS n_c
                 FROM j WHERE event_type <> 'purchase' GROUP BY 1, 2, 3),
           tot AS (SELECT user_id, journey, CAST(SUM(n_c) AS BIGINT) AS n_t
                   FROM t GROUP BY 1, 2),
           p AS (SELECT user_id, journey, COUNT(*) AS n_conv FROM j
                 WHERE event_type = 'purchase' GROUP BY 1, 2)
           SELECT channel,
                  CAST(SUM(n_conv * ((n_c * 1000000) // n_t)) AS BIGINT)
                    AS credit_ppm,
                  CAST(SUM(n_conv) AS BIGINT) AS conversions_touched
           FROM t JOIN tot USING (user_id, journey)
                  JOIN p USING (user_id, journey)
           GROUP BY channel""",
      "q_zone_map" ->
        """SELECT l_orderkey // 1500 AS zone, COUNT(*) AS n_rows,
                  MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS min_price_c,
                  MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS max_price_c,
                  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
                  MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    <= 500000 AS prunable_price_gt_5000
           FROM lineitem GROUP BY 1""",
      "q_window_pctrank" ->
        """SELECT c_custkey, c_nationkey, acct_c, pr, cd FROM (
             SELECT c_custkey, c_nationkey,
                    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                      AS acct_c,
                    percent_rank() OVER w AS pr,
                    cume_dist() OVER w AS cd
             FROM customer
             WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
                        c_custkey))
           WHERE c_custkey % 10 = 0""",
      "q_lsh_scurve" ->
        """SELECT i, sim, 1.0e0 - (q1 * q1 * q1 * q1) AS p_collide FROM (
             SELECT i, sim, 1.0e0 - (sim * sim * sim) AS q1 FROM (
               SELECT CAST(i AS BIGINT) AS i, i / 20.0e0 AS sim
               FROM range(1, 20) t(i)))""",
      "q_table_checksum" ->
        s"""WITH r AS (SELECT o_orderkey % 16 AS shard,
                  concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))
                    AS row_str
                 FROM orders)
           SELECT shard, COUNT(*) AS n_rows,
                  CAST(SUM(${duckStrHash("row_str")}) AS BIGINT) AS checksum
           FROM r GROUP BY shard""",
      "q_sync_plan" ->
        s"""WITH rh AS (SELECT o_orderkey, o_orderkey % 16 AS shard,
                  ${duckStrHash("""concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))""")} AS h
                 FROM orders),
           b AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(h) AS BIGINT) AS cs
                 FROM rh GROUP BY shard),
           rep AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_r,
                          CAST(SUM(h) AS BIGINT) AS cs_r
                   FROM rh WHERE o_orderkey % 97 <> 0 GROUP BY shard)
           SELECT coalesce(b.shard, rep.shard) AS shard,
                  n AS n_base, coalesce(n_r, 0) AS n_replica,
                  n - coalesce(n_r, 0) AS rows_to_ship
           FROM b FULL OUTER JOIN rep ON b.shard = rep.shard
           WHERE cs IS DISTINCT FROM cs_r OR n IS DISTINCT FROM n_r""",

      "q_ivm_counts" ->
        """WITH cur AS (SELECT o_orderkey, o_orderpriority FROM orders),
           old AS (SELECT * FROM cur WHERE o_orderkey % 97 <> 0),
           neu AS (SELECT * FROM cur WHERE o_orderkey % 89 <> 0),
           oc AS (SELECT o_orderpriority, COUNT(*) AS n_old
                  FROM old GROUP BY 1),
           d AS (SELECT COALESCE(o.o_orderpriority, n.o_orderpriority)
                          AS o_orderpriority,
                        CASE WHEN o.o_orderkey IS NULL THEN 1
                             WHEN n.o_orderkey IS NULL THEN -1
                             ELSE 0 END AS dd
                 FROM old o FULL OUTER JOIN neu n
                   ON o.o_orderkey = n.o_orderkey),
           dc AS (SELECT o_orderpriority, CAST(SUM(dd) AS BIGINT) AS dn
                  FROM d GROUP BY 1),
           m AS (SELECT COALESCE(oc.o_orderpriority, dc.o_orderpriority)
                          AS o_orderpriority,
                        COALESCE(n_old, 0) + COALESCE(dn, 0) AS maintained
                 FROM oc FULL OUTER JOIN dc USING (o_orderpriority)),
           dir AS (SELECT o_orderpriority, COUNT(*) AS direct
                   FROM neu GROUP BY 1)
           SELECT o_orderpriority, CAST(maintained AS BIGINT) AS maintained,
                  direct, maintained = direct AS consistent
           FROM m FULL OUTER JOIN dir USING (o_orderpriority)""",
      "q11_value_share" ->
        """WITH v AS (SELECT s_nationkey, l_partkey,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(28,4)) AS val_dec
                 FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                 GROUP BY 1, 2),
           n AS (SELECT s_nationkey, SUM(val_dec) AS total_dec
                 FROM v GROUP BY 1)
           SELECT v.s_nationkey, l_partkey,
                  CAST(val_dec AS DOUBLE) AS part_value
           FROM v JOIN n ON v.s_nationkey = n.s_nationkey
           WHERE CAST(val_dec AS DOUBLE)
                 > CAST(total_dec AS DOUBLE) * 0.002e0""",
      "q12_late_lines" ->
        """SELECT l_shipdate > o_orderdate + INTERVAL 60 DAY AS late,
                  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
                  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1""",
      "q15_top_revenue" ->
        """WITH r AS (SELECT l_suppkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(28,4)) AS rev_dec
                 FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
                 GROUP BY 1),
           m AS (SELECT MAX(rev_dec) AS max_dec FROM r)
           SELECT l_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
           FROM r CROSS JOIN m
           JOIN supplier ON l_suppkey = s_suppkey
           WHERE rev_dec = max_dec""",
      "q20_excess_parts" ->
        """WITH gp AS (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'red %'),
           sup AS (SELECT l_suppkey, l_partkey,
                          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec,
                          COUNT(DISTINCT l_orderkey) AS n_orders
                   FROM lineitem JOIN gp ON l_partkey = p_partkey
                   GROUP BY 1, 2
                   HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                               AS DOUBLE) > 40.0e0)
           SELECT l_suppkey, s_name, COUNT(*) AS n_parts,
                  CAST(SUM(qty_dec) AS DOUBLE) AS total_qty
           FROM sup JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2""",

      // Bloom prune is transparent: false positives die in the exact
      // join, so the oracle is the plain unpruned join.
      "q_bloom_prune" ->
        """SELECT s_nationkey, COUNT(*) AS n_items,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           WHERE s_nationkey < 5
           GROUP BY 1""",
      "q_bloom_stats" ->
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
           FROM agg, tm, bs""",

      "q_domain_quota" -> Sampling.domainQuotaOracle(n = 3, margin = 2),
      "q_mixture_sample" -> Sampling.mixtureCountsOracle(mixtureWeights),

      "q_lm_doc_score" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           bg AS (SELECT doc_id, unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           bw AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM bg),
           c2 AS (SELECT w1, bigram, COUNT(*) AS n FROM bw GROUP BY 1, 2),
           c1 AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
           sc AS (SELECT doc_id,
                         CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE) * 1000000000 / n1) AS BIGINT)) AS BIGINT) AS s,
                         COUNT(*) AS nb
                  FROM bw JOIN c2 USING (w1, bigram) JOIN c1 USING (w1)
                  GROUP BY doc_id)
           SELECT doc_id, nb, CAST(s AS DOUBLE) / nb / 1000000000 AS avg_p
           FROM sc ORDER BY avg_p, doc_id LIMIT 25""",
      "q_quality_bins" ->
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
                  FROM b)
           SELECT lang, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
                  MIN(avg_p) AS lo, MAX(avg_p) AS hi
           FROM nt GROUP BY 1, 2""",
      "q_dsir_weights" ->
        s"""WITH tk AS (SELECT doc_id, lang, ${duckTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id, lang = 'en' AS is_target,
                        unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           gb AS (SELECT doc_id, is_target, (${duckStrHash("bigram")}) % 1024 AS b FROM g),
           mdl AS (SELECT b, COUNT(*) AS n_r,
                          CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS n_t
                   FROM gb GROUP BY b),
           tot AS (SELECT b, n_r, n_t,
                          CAST(SUM(n_r) OVER () AS BIGINT) AS nr_tot,
                          CAST(SUM(n_t) OVER () AS BIGINT) AS nt_tot FROM mdl),
           q AS (SELECT b, CAST(ROUND(1000000 * (CAST((n_t + 1) * (nr_tot + 1024) AS DOUBLE)
                        / CAST((n_r + 1) * (nt_tot + 1024) AS DOUBLE))) AS BIGINT) AS rq
                 FROM tot),
           w AS (SELECT doc_id, CAST(SUM(rq) AS BIGINT) AS s, COUNT(*) AS nb
                 FROM gb JOIN q USING (b) GROUP BY doc_id)
           SELECT doc_id, nb, CAST(s AS DOUBLE) / nb / 1000000 AS dsir_w
           FROM w ORDER BY dsir_w DESC, doc_id LIMIT 50""",
      "q_doc_novelty" ->
        s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id, unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           f AS (SELECT bigram, MIN(doc_id) AS first_doc FROM g GROUP BY bigram)
           SELECT doc_id, COUNT(*) AS nb,
                  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
                  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
           FROM g JOIN f USING (bigram) GROUP BY doc_id""",
      "q_heaps_law" ->
        s"""WITH w AS (SELECT doc_id, unnest(${duckTokens("text")}) AS word FROM documents),
           pd AS (SELECT doc_id, COUNT(*) AS n_tokens FROM w GROUP BY doc_id),
           ft AS (SELECT word, MIN(doc_id) AS first_doc FROM w GROUP BY word),
           nt AS (SELECT first_doc, COUNT(*) AS new_types FROM ft GROUP BY first_doc)
           SELECT pd.doc_id,
                  CAST(SUM(n_tokens) OVER (ORDER BY pd.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
                  CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY pd.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
           FROM pd LEFT JOIN nt ON pd.doc_id = nt.first_doc""",
      "q_blocklist_scan" -> {
        val vals = blocklistPats
          .map(p => s"('${p.replace("'", "''")}')").mkString(",")
        s"""WITH p(pattern) AS (VALUES $vals),
           c AS (SELECT d.source, p.pattern,
                   (length(d.text) - length(replace(d.text, p.pattern, '')))
                     // length(p.pattern) AS n
                 FROM documents d CROSS JOIN p)
           SELECT source, pattern, CAST(SUM(n) AS BIGINT) AS hits,
                  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit
           FROM c GROUP BY source, pattern"""
      },
      // chr(233) = precomposed é, chr(769) = combining acute: byte-exact
      // twins of the Scala literals, kept as codepoints so the oracle SQL
      // survives any transport encoding
      "q_nfc_dedup" ->
        """WITH v AS (
             SELECT source, text || ' caf' || chr(233) AS variant FROM documents
             UNION ALL
             SELECT source, text || ' cafe' || chr(769) FROM documents),
           dv AS (SELECT source, variant, COUNT(*) AS n FROM v GROUP BY source, variant),
           raw AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_variants,
                          CAST(COUNT(*) AS BIGINT) AS n_raw_distinct
                   FROM dv GROUP BY source),
           nn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_nfc_distinct
                  FROM (SELECT DISTINCT source, nfc_normalize(variant) FROM dv)
                  GROUP BY source)
           SELECT raw.source, n_variants, n_raw_distinct, n_nfc_distinct,
                  n_raw_distinct - n_nfc_distinct AS collapsed
           FROM raw JOIN nn ON raw.source = nn.source""",
      "q_mix_temperature" ->
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
           FROM st CROSS JOIN t""",
      "q_pps_sample" ->
        """WITH c AS (SELECT source, doc_id, n_chars,
                  CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
                FROM documents),
           t AS (SELECT source, MAX(cum) AS total FROM c GROUP BY source)
           SELECT c.source, doc_id, n_chars, cum,
                  CAST((cum * 25) // total AS BIGINT) AS bucket
           FROM c JOIN t ON c.source = t.source
           WHERE (cum * 25) // total > ((cum - n_chars) * 25) // total""",
      "q_dq_checks" ->
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
           WHERE l_shipdate < o_orderdate""",

      "q_cmsketch" ->
        s"""WITH tk AS (SELECT unnest(${duckTokens("text")}) AS w
                        FROM documents),
           h AS (SELECT ${duckStrHash("w")} AS h FROM tk),
           e AS (SELECT h, unnest(range(0, 4)) AS r FROM h)
           SELECT r, ((((1103515245 * r + 12345) % $P) * h +
                       ((1299709 * r + 7919) % $P)) % $P) % 64 AS c,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM e GROUP BY 1, 2""",
      "q_cm_estimate" ->
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
           GROUP BY 1, 2""",
      "q_jl_projection" ->
        s"""WITH q AS (SELECT vec_id,
                  list_transform(embedding, x ->
                    CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q
                FROM embeddings),
           e AS (SELECT vec_id, q, unnest(range(0, 16)) AS j FROM q)
           SELECT vec_id, j,
                  CAST(list_sum(list_transform(range(0, 64), i ->
                    q[CAST(i + 1 AS INT)] *
                    CASE WHEN ((1103515245 * (j * 64 + i) + 12345) % $P)
                           % 2 = 0
                         THEN 1 ELSE -1 END)) AS BIGINT) AS y
           FROM e""",
      "q_fd_audit" ->
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
                 UNION ALL SELECT * FROM f3)""",
      "q_benford" -> {
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
      },
      "q_mix_plan" -> {
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
      },

      "q_mix_waterfill" -> {
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
      },
      "q_quality_sample" ->
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
           FROM kk GROUP BY 1, 2""",

      "q_leakage_split" -> {
        // same 3 unrolled min-label-propagation rounds as q_dedup_clusters
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
           rep AS (SELECT d.doc_id, coalesce(l3.label, d.doc_id) AS rep
                   FROM documents d LEFT JOIN l3 ON d.doc_id = l3.id),
           sp AS (SELECT doc_id, rep,
                         (${duckStrHash("'split#' || CAST(rep AS VARCHAR)")}) % 10 AS bucket
                  FROM rep)
           SELECT CASE WHEN bucket < 8 THEN 'train'
                       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
                  COUNT(*) AS n_docs, COUNT(DISTINCT rep) AS n_groups
           FROM sp GROUP BY 1"""
      },
      "q_ngram_novelty" ->
        s"""WITH tk AS (SELECT source, ${duckTokens("text")} AS toks FROM documents),
           bg AS (SELECT DISTINCT source, unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           ns AS (SELECT bigram, COUNT(DISTINCT source) AS ns FROM bg GROUP BY 1)
           SELECT source, COUNT(*) AS n_bigrams,
                  CAST(SUM(CASE WHEN ns.ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                  CAST(SUM(CASE WHEN ns.ns = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
           FROM bg JOIN ns USING (bigram) GROUP BY source""",

      // The Bloom short-circuit is invisible to the result (no false
      // negatives; false positives die in the anti join), so the oracle
      // is the plain fingerprint anti join.
      "q_bloom_ingest" ->
        s"""WITH d AS (SELECT doc_id, source, ${duckStrHash("text")} AS fp FROM documents),
           base AS (SELECT fp FROM d WHERE doc_id % 3 <> 0),
           ing AS (SELECT doc_id, source, fp FROM d WHERE doc_id % 3 = 0)
           SELECT doc_id, source FROM ing
           WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.fp = ing.fp)""",

      "q_cluster_weights" -> {
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
      },

      // Maintained = base aggregate + (delta ⋈ dim); the oracle computes
      // both paths and the consistency flag exactly as the Spark side.
      "q_ivm_join" ->
        s"""WITH li AS (SELECT l_orderkey, l_quantity FROM lineitem),
           ord AS (SELECT o_orderkey, o_orderpriority FROM orders),
           agg_base AS (SELECT o_orderpriority, COUNT(*) AS n_old,
                               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q_old
                        FROM li JOIN ord ON l_orderkey = o_orderkey
                        WHERE l_orderkey % 13 <> 0 GROUP BY o_orderpriority),
           agg_delta AS (SELECT o_orderpriority, COUNT(*) AS dn,
                                SUM(CAST(l_quantity AS DECIMAL(18,2))) AS dq
                         FROM li JOIN ord ON l_orderkey = o_orderkey
                         WHERE l_orderkey % 13 = 0 GROUP BY o_orderpriority),
           maint AS (SELECT coalesce(b.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
                            CAST(coalesce(b.n_old, 0) + coalesce(d.dn, 0) AS BIGINT) AS maintained_n,
                            CAST(coalesce(b.q_old, 0) + coalesce(d.dq, 0) AS DECIMAL(18,2)) AS maintained_qty
                     FROM agg_base b FULL OUTER JOIN agg_delta d
                       ON b.o_orderpriority = d.o_orderpriority),
           direct AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS direct_n,
                             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS direct_qty
                      FROM li JOIN ord ON l_orderkey = o_orderkey
                      GROUP BY o_orderpriority)
           SELECT coalesce(m.o_orderpriority, t.o_orderpriority) AS o_orderpriority,
                  maintained_n, direct_n,
                  CAST(maintained_qty AS DOUBLE) AS maintained_qty,
                  CAST(direct_qty AS DOUBLE) AS direct_qty,
                  (maintained_n = direct_n AND maintained_qty = direct_qty) AS consistent
           FROM maint m FULL OUTER JOIN direct t
             ON m.o_orderpriority = t.o_orderpriority""",

      "q_scan_plan" ->
        s"""WITH p AS (SELECT source, doc_id, n_chars,
                   coalesce(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
            FROM documents)
           SELECT source, CAST(prefix // 4096 AS BIGINT) AS split_id,
                  COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS split_chars
           FROM p GROUP BY source, prefix // 4096""",

      "q_ann_matryoshka" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           truth AS (SELECT qid, cid FROM (
                       SELECT qid, cid,
                              ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ${duckCosine("qv", "cv")} DESC, cid) AS r
                       FROM q CROSS JOIN c WHERE qid <> cid) WHERE r <= 5),
           q16 AS (SELECT qid, qv[1:16] AS qv FROM q),
           c16 AS (SELECT cid, cv[1:16] AS cv FROM c),
           trunc AS (SELECT qid, cid FROM (
                       SELECT qid, cid,
                              ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ${duckCosine("qv", "cv")} DESC, cid) AS r
                       FROM q16 CROSS JOIN c16 WHERE qid <> cid) WHERE r <= 5),
           nt AS (SELECT qid, COUNT(*) AS n_truth FROM truth GROUP BY qid),
           nh AS (SELECT t.qid, COUNT(*) AS n_hit FROM truth t
                  JOIN trunc u ON t.qid = u.qid AND t.cid = u.cid GROUP BY t.qid)
           SELECT nt.qid, CAST(coalesce(nh.n_hit, 0) AS BIGINT) AS n_hit,
                  CAST(coalesce(nh.n_hit, 0) AS DOUBLE) / nt.n_truth AS recall
           FROM nt LEFT JOIN nh ON nt.qid = nh.qid""",

      // Same quantize-once-then-integer discipline as the waterfill
      // oracle; COUNT/SUM cast to BIGINT (DuckDB SUM(int) is HUGEINT).
      "q_neyman_sample" ->
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
           FROM fin""",

      "q_retrieval_ndcg" -> {
        val wCase = ndcgW.zipWithIndex
          .map { case (w, i) => s"WHEN r = ${i + 1} THEN $w" }
          .mkString("CASE ", " ", " ELSE 0 END")
        val cumList = ndcgCum.mkString("[", ", ", "]")
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
                 FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS cid, embedding AS cv, label AS cl FROM embeddings),
           ranked AS (SELECT qid, ql, cid, cl, r FROM (
                        SELECT qid, ql, cid, cl,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY ${duckCosine("qv", "cv")} DESC, cid) AS r
                        FROM q CROSS JOIN c WHERE qid <> cid) WHERE r <= 10),
           dcg AS (SELECT qid, ql,
                          CAST(SUM(CASE WHEN ql = cl THEN ($wCase) ELSE 0 END) AS BIGINT) AS dcg_ppm
                   FROM ranked GROUP BY qid, ql),
           lab AS (SELECT label, COUNT(*) AS n_lab FROM embeddings GROUP BY label)
           SELECT qid, dcg_ppm,
                  CAST(CASE WHEN least(n_lab - 1, 10) <= 0 THEN 0
                       ELSE ($cumList)[CAST(least(n_lab - 1, 10) AS INT)] END AS BIGINT) AS idcg_ppm,
                  CAST(dcg_ppm AS DOUBLE) /
                    nullif(CAST(CASE WHEN least(n_lab - 1, 10) <= 0 THEN 0
                         ELSE ($cumList)[CAST(least(n_lab - 1, 10) AS INT)] END AS BIGINT), 0) AS ndcg
           FROM dcg JOIN lab ON dcg.ql = lab.label"""
      },

      "q_ivm_kmv" ->
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
           FROM e""",
      "q_retrieval_mrr" -> {
        val rrList = (1 to 10).map(r => 1000000L / r).mkString("[", ", ", "]")
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
                 FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS cid, embedding AS cv, label AS cl FROM embeddings),
           ranked AS (SELECT qid, ql, cid, cl, r FROM (
                        SELECT qid, ql, cid, cl,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY ${duckCosine("qv", "cv")} DESC, cid) AS r
                        FROM q CROSS JOIN c WHERE qid <> cid) WHERE r <= 10),
           fr AS (SELECT qid, MIN(CASE WHEN ql = cl THEN r END) AS fr
                  FROM ranked GROUP BY qid)
           SELECT qid, CAST(COALESCE(fr, 0) AS BIGINT) AS first_rel,
                  CAST(COALESCE(($rrList)[CAST(fr AS INT)], 0) AS BIGINT) AS rr_ppm
           FROM fr"""
      },

      "q_colbert_maxsim" ->
        s"""WITH q AS (SELECT vec_id AS qtok, embedding AS qv
                 FROM embeddings WHERE vec_id < 8),
           d AS (SELECT label AS doc, embedding AS dv
                 FROM embeddings WHERE vec_id >= 8),
           s AS (SELECT qtok, doc,
                        CAST(round(${duckCosine("qv", "dv")} * 1000000000.0) AS BIGINT) AS qc
                 FROM d CROSS JOIN q),
           m AS (SELECT doc, qtok, MAX(qc) AS m FROM s GROUP BY doc, qtok)
           SELECT doc, CAST(SUM(m) AS BIGINT) AS maxsim_q,
                  CAST(COUNT(*) AS BIGINT) AS n_qtoks
           FROM m GROUP BY doc""",

      "q_contam_embedding" ->
        s"""WITH bench AS (SELECT vec_id AS bench_id, embedding AS bv
                     FROM embeddings WHERE vec_id < 20),
           corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
           scored AS (SELECT vec_id, bench_id,
                             ${duckCosine("embedding", "bv")} AS cosine
                      FROM corpus CROSS JOIN bench),
           hits AS (SELECT vec_id, bench_id, cosine,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY cosine DESC, bench_id) AS rn
                    FROM scored WHERE cosine >= 0.35)
           SELECT vec_id, bench_id, cosine FROM hits WHERE rn = 1""",

      // Same synthesized-PPM byte math as q_media_features; the hash is
      // integer end-to-end (gray = byte-triple // 3, mean = sum // 12,
      // bit 11-k per pixel) so equality is engine-exact.
      "q_media_resize" -> {
        // dst(x,y) samples src(x·4 div 2, y·3 div 2) → src pixels (0,0),
        // (2,0), (0,1), (2,1); pixel (x,y) starts at byte 3·(y·4+x) of
        // the 36-byte padded-text body (1-based substring)
        def g(off: Int) =
          s"(ord(substring(b, ${off + 1}, 1)) + ord(substring(b, ${off + 2}, 1)) + " +
            s"ord(substring(b, ${off + 3}, 1))) // 3"
        s"""WITH p AS (SELECT doc_id, rpad(text, 36, 'x') AS b FROM documents)
           SELECT doc_id, CAST(4 AS BIGINT) AS src_w, CAST(3 AS BIGINT) AS src_h,
                  CAST(${g(0)} AS BIGINT) AS g00,
                  CAST(${g(6)} AS BIGINT) AS g01,
                  CAST(${g(12)} AS BIGINT) AS g10,
                  CAST(${g(18)} AS BIGINT) AS g11
           FROM p"""
      },
      "q_media_phash" ->
        """WITH img AS (SELECT doc_id, rpad(text, 36, 'x') AS body FROM documents),
           g AS (SELECT doc_id, list_transform(range(0, 12), k ->
                   (ord(substr(body, CAST(3*k+1 AS INT), 1)) +
                    ord(substr(body, CAST(3*k+2 AS INT), 1)) +
                    ord(substr(body, CAST(3*k+3 AS INT), 1))) // 3) AS gray
                 FROM img),
           h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 12), k ->
                   CASE WHEN gray[CAST(k+1 AS INT)] > list_sum(gray) // 12
                        THEN (1::BIGINT << CAST(11-k AS INT)) ELSE 0::BIGINT END))
                 AS BIGINT) AS ahash
                 FROM g)
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ahash
           FROM h a JOIN h b ON a.ahash = b.ahash AND a.doc_id < b.doc_id""",
      // naive all-pairs Hamming truth — proves the pigeonhole block
      // join's exact recall
      "q_media_hamming" ->
        """WITH img AS (SELECT doc_id, rpad(text, 36, 'x') AS body FROM documents),
           g AS (SELECT doc_id, list_transform(range(0, 12), k ->
                   (ord(substr(body, CAST(3*k+1 AS INT), 1)) +
                    ord(substr(body, CAST(3*k+2 AS INT), 1)) +
                    ord(substr(body, CAST(3*k+3 AS INT), 1))) // 3) AS gray
                 FROM img),
           h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 12), k ->
                   CASE WHEN gray[CAST(k+1 AS INT)] > list_sum(gray) // 12
                        THEN (1::BIGINT << CAST(11-k AS INT)) ELSE 0::BIGINT END))
                 AS BIGINT) AS ahash
                 FROM g)
           SELECT doc_a, doc_b, hamming FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
             FROM h a JOIN h b ON a.doc_id < b.doc_id)
           WHERE hamming <= 1"""
    )
  }
}

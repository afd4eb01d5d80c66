package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.functions.{GraftFunctions, XFormulas}
import graft.functions.XFormulas._
import graft.queries.Shared._

/** Deduplication queries: exact, MinHash/LSH, simhash, set-similarity,
  * exact-substring, cluster maintenance, boilerplate and record linkage
  * (`operators.Dedup`, `operators.Linkage`). */
object DedupQueries {

  private val substrCtes = substrRunCtes("")

  // bipartite twin (train slice x benchmark slice, no id ordering)
  private val substrContamCtes =
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

  // q_ingest_dedup and q_ingest_dedup2: increment x base LSH candidates
  private val ingestDedupOracle =
    s"""$minhashCtes
           SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> n.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM (SELECT * FROM buckets WHERE doc_id % 10 = 0) n
           JOIN (SELECT * FROM buckets WHERE doc_id % 10 <> 0) b
             ON n.band = b.band AND n.bucket = b.bucket"""

  // q_ingest_clusters, q_ingest_clusters2 and q_dedup_clusters_star: one
  // connected-components labelling of the LSH candidate graph
  private val ingestClustersOracle =
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
           SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id"""

  val all: Seq[QuerySpec] = Seq(
    // ----- dedup family -----
    QuerySpec("q_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select(col("text"), col("keeper"), col("n_copies")),
      "SELECT text, MIN(doc_id) AS keeper, COUNT(*) AS n_copies FROM documents GROUP BY text"),

    QuerySpec("q_dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text"),
      s"""$minhashCtes
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM buckets a JOIN buckets b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""),

    // CHAR-n-gram MinHash twin: the near-dup path for scripts without
    // whitespace, where word tokenization collapses a doc to one token
    QuerySpec("q_dedup_char_ngram", (s, dir) =>
      Dedup.charMinhashCandidates(t(s, dir, "documents"), "doc_id",
        "text", n = 6),
      // char 6-gram MinHash: grams are positional char-window hashes of
      // the lowercased text (character-indexed substr, same polyHash
      // fold), deduped before the signature
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
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""),

    // same candidates under the viral-bucket skew bound: (band, bucket)
    // groups larger than 8 are dropped before the self-join
    QuerySpec("q_dedup_capped", (s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        maxBucket = 8),
      s"""$minhashCtes,
           capped AS (SELECT doc_id, mh, band, bucket FROM (
                        SELECT doc_id, mh, band, bucket,
                               COUNT(*) OVER (PARTITION BY band, bucket) AS bucket_n
                        FROM buckets)
                      WHERE bucket_n <= 8)
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM capped a JOIN capped b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""),

    QuerySpec("q_dedup_jaccard", (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2),
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
           WHERE jaccard >= 0.2"""),

    // ----- edit-distance verify on LSH-blocked candidates: the
    // character-level "same doc, small patch" contract token-set
    // similarity cannot express; Spark's THRESHOLDED levenshtein runs
    // the banded O(k*n) DP, not the O(n^2) matrix -----
    QuerySpec("q_dedup_edit", (s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 20),
      // DuckDB's levenshtein is the same classic character-level DP as
      // Spark's (ASCII corpus — no code-unit ambiguity); candidates are
      // the shared LSH blocking
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
           WHERE levenshtein(da.text, db.text) <= 20"""),

    // ----- EXACT substring dedup: the exact-match pass after MinHash
    // in production train-data dedup — every maximal verbatim-shared
    // span of >= 30 chars, via fingerprinted 30-gram anchors + diagonal
    // run grouping (never suffix construction, never all-pairs) -----
    QuerySpec("q_substr_dup", (s, dir) =>
      Dedup.duplicatedSubstrings(t(s, dir, "documents"), "doc_id",
        "text", minLen = 30),
      s"""$substrCtes
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs"""),

    // the cleanup twin: keep the lowest-id copy, cut the repeats out of
    // the higher-id doc (merged spans, one per-doc fold)
    QuerySpec("q_substr_excise", (s, dir) =>
      Dedup.exciseDuplicatedSubstrings(t(s, dir, "documents"), "doc_id",
        "text", minLen = 30),
      // excise: merge the higher-id docs' spans (running-max islands),
      // then stitch the kept gaps back together with string_agg —
      // including the fully-excised docs (clean_text = '')
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
           GROUP BY seg.doc_id, d.text"""),

    // ----- sampled-anchor exact substring dedup: the ~w x cheaper
    // corpus exchange (winnowed anchors -> verified pairs -> pair-
    // restricted dense recompute), reporting every span >= 30+8-1 = 37
    // with exact boundaries — the oracle is the dense truth filtered to
    // the documented bound, so a missed anchor or a wrong boundary
    // hash-mismatches -----
    QuerySpec("q_substr_dup_sampled", (s, dir) =>
      Dedup.duplicatedSubstringsSampled(t(s, dir, "documents"),
        "doc_id", "text", minLen = 30, w = 8),
      // sampled-anchor mode: the dense truth filtered to the documented
      // reporting bound (len >= minLen + w - 1 = 37)
      s"""$substrCtes
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs
           WHERE len >= 37"""),

    // ----- bipartite exact-substring DECONTAMINATION: maximal verbatim
    // spans shared between the train slice and the benchmark slice —
    // the exact-match complement to the n-gram q_contam_* family -----
    QuerySpec("q_substr_contam", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.duplicatedSubstringsWith(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        minLen = 30)
    },
      // bipartite: train grams x benchmark grams, same islands grouping
      s"""$substrContamCtes
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs"""),

    // and the excise: cut every benchmark-shared span out of the TRAIN
    // text (affected train docs only)
    QuerySpec("q_substr_decon", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exciseContaminated(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        minLen = 30)
    },
      // decontamination excise: spans land on the TRAIN (doc_a) side
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
           GROUP BY seg.doc_id, d.text"""),

    // ingest-path dedup: candidates between an incoming batch (top
    // fifth of doc ids) and the existing corpus — cost proportional to
    // the INCREMENT, never re-pairing the corpus with itself
    QuerySpec("q_ingest_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusCandidates(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .select(col("new_id"), col("base_id"), col("est_jaccard"))
    },
      ingestDedupOracle),

    // the PERSISTED LSH base index itself: (doc, band, bucket) bucket
    // membership for the base corpus — the table an ingest pipeline
    // stores once and every increment joins against (mh signatures ride
    // along in storage but stay out of this oracle surface: array
    // columns don't sort/hash in the differential harness)
    QuerySpec("q_lsh_index", (s, dir) =>
      Dedup.lshIndex(
        Dedup.minhashSignatures(
          t(s, dir, "documents").filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text"), "doc_id")
        .select(col("doc_id"), col("band"), col("bucket")),
      s"""$minhashCtes
           SELECT doc_id, band, bucket FROM buckets
           WHERE doc_id % 10 <> 0"""),

    // TWO-STEP ingest: build the base index, STORE it (parquet,
    // partitioned by band), then dedup the increment against the table
    // read back from disk — the 100 TB contract where the base corpus
    // is signed once, not per ingest (LshIndexSpec asserts the base
    // text is not re-scanned; the oracle proves the stored-index join
    // equals the direct two-sided run)
    QuerySpec("q_ingest_dedup2", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = fixturePath("lsh_index", dir)
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
    },
      // the stored-index roundtrip is value-preserving (longs through
      // parquet), so the oracle is the same join as q_ingest_dedup
      ingestDedupOracle),

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
    QuerySpec("q_ingest_dedup3", (s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
      val path = fixturePath("lsh_vtab", dir)
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
    },
      // both ingests join the PINNED base version (doc_id % 10 >= 2):
      // increment A's appended buckets must NOT appear as base_ids, so
      // the oracle's base side is exactly the v_base corpus slice
      s"""$minhashCtes
           SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> n.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est_jaccard
           FROM (SELECT * FROM buckets WHERE doc_id % 10 IN (0, 1)) n
           JOIN (SELECT * FROM buckets WHERE doc_id % 10 >= 2) b
             ON n.band = b.band AND n.bucket = b.bucket"""),

    // INCREMENTAL CLUSTER MAINTENANCE: fold the increment's candidate
    // pairs into the base corpus's EXISTING true-CC labels without
    // re-clustering the base (Dedup.incrementalClusters: cross edges
    // contract onto base representatives, CC runs on the
    // increment-sized contracted graph, one rep-keyed remap join moves
    // merged components wholesale). The oracle is the FULL-corpus
    // recursive-CC recompute — the incremental path must reproduce it
    // hash-exactly, including increments that transitively merge two
    // existing base components.
    QuerySpec("q_ingest_clusters", (s, dir) => {
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
    },
      // the incremental path must equal the FULL recompute: true CC
      // over the whole corpus's candidate graph (bucket membership is
      // per-doc, so base-base ∪ cross ∪ intra IS the full pair set)
      ingestClustersOracle),

    // the PRODUCTION LOOP, two nights of it: increment A folds into the
    // stored labels, the result COMMITS as a VersionedTable snapshot,
    // increment B folds into the snapshot READ BACK from storage —
    // iterated incremental maintenance with a durability hop between
    // steps. The oracle is still the one-shot full-corpus CC recompute:
    // iterating the exact incremental step composes to the batch answer
    // (each step's output is the true CC of everything seen so far).
    QuerySpec("q_ingest_clusters2", (s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
      val path = fixturePath("cluster_vtab", dir)
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
    },
      // iterated incremental + a VersionedTable hop must still equal
      // the one-shot full recompute
      ingestClustersOracle),

    // containment (|A∩B|/|A|) on the LSH candidates: catches short docs
    // embedded in longer ones, which symmetric Jaccard dilutes away
    QuerySpec("q_dedup_containment", (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4),
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
           WHERE greatest(contain_a, contain_b) >= 0.4"""),

    // EXACT set-similarity join via prefix filtering — provably no false
    // negatives (unlike the LSH candidate paths above)
    QuerySpec("q_setsim_prefix", (s, dir) =>
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.3)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b"),
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
           WHERE jaccard >= 0.3"""),

    QuerySpec("q_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 6),
      s"""$shingleCtes,
           sigs AS (SELECT doc_id, ${duckSimhash("hs")} AS sh2 FROM hs),
           blk AS (SELECT doc_id, sh2, (sh2 >> 24) AS blk FROM sigs)
           SELECT * FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(bit_count(xor(a.sh2, b.sh2)) AS BIGINT) AS hamming
             FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id)
           WHERE hamming <= 6"""),

    // pigeonhole 4-block simhash index: EXACT recall at Hamming<=3 (the
    // oracle is the literal all-pairs definition — the operator must
    // find every qualifying pair, not a blocked subset)
    QuerySpec("q_dedup_simhash_exact", (s, dir) =>
      Dedup.simhashPairsExact(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3),
      // the oracle is the DEFINITION (exact all-pairs Hamming), not a
      // mirror of the pigeonhole index — recall exactness is what the
      // hash-match proves
      s"""$shingleCtes,
           sigs AS (SELECT doc_id, ${duckSimhash("hs")} AS sh FROM hs)
           SELECT * FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
             FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
           WHERE hamming <= 3"""),

    QuerySpec("q_dedup_embedding", (s, dir) =>
      Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35),
      s"""WITH sigs AS (SELECT vec_id, embedding, ${duckSimSig("embedding", 8, 64)} AS sig FROM embeddings)
           SELECT * FROM (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    ${duckCosine("a.embedding", "b.embedding")} AS cosine
             FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
           WHERE cosine >= 0.35"""),

    // duplicated-SPAN fraction per doc (ExactSubstr approximation, Lee
    // et al. 2021): w-token windows occurring in >=2 docs, hash-only
    // corpus-wide aggregation
    QuerySpec("q_span_dup", (s, dir) =>
      Dedup.spanDupStats(t(s, dir, "documents"), "doc_id", "text", w = 8),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           wh AS (SELECT doc_id,
                         unnest(list_distinct(list_transform(${duckShingles("toks", 8)}, s -> ${duckStrHash("s")}))) AS wh
                  FROM tk),
           dw AS (SELECT wh, COUNT(*) AS ndocs FROM wh GROUP BY wh)
           SELECT doc_id, COUNT(*) AS n_windows,
                  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
                  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
           FROM wh JOIN dw USING (wh) GROUP BY doc_id"""),

    // CROSS-MODAL dedup agreement: does text LSH and embedding SemDeDup
    // flag the same items? The 2x2 contingency is the pipeline-QA
    // number that says whether the two dedup layers are redundant or
    // complementary (doc_id and vec_id are aligned in the corpus)
    QuerySpec("q_dedup_agreement", (s, dir) => {
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
    },
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
           GROUP BY 1, 2"""),

    // ----- DEDUP THRESHOLD SWEEP: candidate-pair counts at est-Jaccard
    // 0.3 / 0.5 / 0.7 in ONE pass over the capped LSH candidates — the
    // aggressiveness-tuning readout (how much more a looser threshold
    // would drop) read before committing a dedup policy. -----
    QuerySpec("q_dedup_thresholds", (s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("est_jaccard") >= 0.3, 1L).otherwise(0L)).as("n_03"),
          sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_05"),
          sum(when(col("est_jaccard") >= 0.7, 1L).otherwise(0L)).as("n_07")),
      s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_filter(list_transform(range(1, 13), i -> a.mh[i] = b.mh[i]), v -> v)) AS DOUBLE) / 12 AS est
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
                  CAST(SUM(CASE WHEN est >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_03,
                  CAST(SUM(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_05,
                  CAST(SUM(CASE WHEN est >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_07
           FROM cand"""),

    // ----- CROSS-SOURCE DUPLICATION MATRIX: high-confidence near-dup
    // pairs rolled up by unordered source pair — the "which feeds copy
    // from which" provenance readout that decides dedup ORDER (dedup the
    // copier against the origin, not vice versa) and flags same-crawl
    // sources before they double-count in a mixture. Candidates reuse
    // the capped LSH pass; the id→source map broadcasts onto both pair
    // ends. -----
    QuerySpec("q_dedup_source_matrix", (s, dir) => {
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
    },
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
           GROUP BY 1, 2"""),

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
    QuerySpec("q_contrastive_pairs", (s, dir) => {
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
    },
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
                 AND greatest(anchor, negative) = c.doc_b)"""),

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
    QuerySpec("q_media_embed_dedup", (s, dir) => {
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
    },
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
           WHERE cosine >= 0.99"""),

    // ----- per-SOURCE duplication report: span-dup stats rolled up to
    // the corpus-card level (integer sums, one division) -----
    QuerySpec("q_dup_by_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.spanDupStats(docs, "doc_id", "text", w = 8)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_windows")).as("windows"),
          sum(col("n_dup_windows")).as("dup_windows"))
        .withColumn("dup_rate",
          expr("CAST(dup_windows AS DOUBLE) / windows"))
    },
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
           FROM per JOIN documents USING (doc_id) GROUP BY source"""),

    // ----- dedup POLICY variant: per near-dup cluster keep the LONGEST
    // doc (ties -> max id) instead of the min id — the usual corpus
    // curation choice when near-dups differ in completeness -----
    QuerySpec("q_dedup_keep_longest", (s, dir) => {
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
           $rounds
           SELECT l3.label AS cluster,
                  arg_max(d.doc_id, CAST(length(d.text) AS BIGINT) * 10000000000 + d.doc_id) AS keeper,
                  COUNT(*) AS n_members,
                  MAX(CAST(length(d.text) AS BIGINT)) AS max_len
           FROM l3 JOIN documents d ON l3.id = d.doc_id
           GROUP BY l3.label"""
      }),

    // ----- NORMALIZED exact dedup: case/punctuation/whitespace-
    // insensitive duplicate groups (the cheap fuzzy-exact stage between
    // byte-exact dedup and MinHash — catches reformatted copies that
    // byte fingerprints miss at hash-groupBy cost, no candidate
    // generation). The normalized text never shuffles: only its 64-bit
    // fingerprint does. -----
    QuerySpec("q_dedup_norm", (s, dir) => {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', ' '), ' +', ' '))"
      t(s, dir, "documents")
        .withColumn("nfp", expr(XFormulas.sparkStrHash(norm)))
        .groupBy(col("nfp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .filter(col("n_copies") > 1)
    },
      {
        val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
        s"""WITH n AS (SELECT doc_id, ${duckStrHash(norm)} AS nfp FROM documents)
           SELECT nfp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
           FROM n GROUP BY nfp HAVING COUNT(*) > 1"""
      }),

    // ----- KEEP-BEST dedup policy: within each near-dup cluster keep
    // the HIGHEST-QUALITY member by corpus-LM score (the FineWeb-style
    // survivor rule — keep-longest favors concatenation spam; keep-best
    // favors fluency). Ties break to the higher doc id. Docs too short
    // to score rank at 0. -----
    QuerySpec("q_dedup_keep_best", (s, dir) => {
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
      }),

    // ----- WINNOWING near-dup candidates (Schleimer et al. 2003, the
    // MOSS fingerprinting algorithm): windowed-min k-gram selection
    // (ties rightmost) guarantees shared substrings of >= w+k-1 tokens
    // produce a shared fingerprint at ~2/(w+1) storage; pairs sharing
    // >= 2 surviving fingerprints, viral fingerprints capped. -----
    QuerySpec("q_winnow_pairs", (s, dir) =>
      Dedup.winnowingCandidates(t(s, dir, "documents"), "doc_id", "text"),
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
           GROUP BY 1, 2 HAVING COUNT(*) >= 2"""),

    // ----- segment-level dedup with REASSEMBLY: drop every 10-token
    // segment already seen earlier in the corpus (by (doc_id, pos)
    // order), emit the cleaned text — the CCNet/C4-style content
    // cleaner that catches cross-doc boilerplate AND in-doc repetition -----
    QuerySpec("q_segment_dedup", (s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text"),
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
           FROM rk GROUP BY doc_id"""),

    // ----- boilerplate EXCISION: a 10-token segment present in >= 3
    // DISTINCT docs is corpus boilerplate and every occurrence is
    // removed (RefinedWeb's repeated-paragraph rule; segmentDedup above
    // keeps first occurrences — boilerplate deserves none) -----
    QuerySpec("q_boilerplate", (s, dir) =>
      Dedup.boilerplateExcise(t(s, dir, "documents"), "doc_id", "text"),
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
           FROM fl GROUP BY doc_id"""),

    // ----- corpus-level boilerplate report off the same rule: how many
    // distinct segments are boilerplate, and what fraction of all
    // segment occurrences they absorb -----
    QuerySpec("q_boilerplate_stats", (s, dir) =>
      Dedup.boilerplateExcise(t(s, dir, "documents"), "doc_id", "text")
        .agg(
          sum(col("n_boiler")).as("n_boiler_occ"),
          sum(col("n_kept") + col("n_boiler")).as("n_segments"),
          (sum(col("n_boiler")).cast("double") /
            sum(col("n_kept") + col("n_boiler"))).as("boiler_frac")),
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
           FROM hs LEFT JOIN bo ON hs.h = bo.h"""),

    // ----- CONTENT-DEFINED chunk dedup: segment boundaries placed by a
    // rolling hash (divisible-by-8 rule over 3-token windows), so an
    // inserted token re-chunks only the segment it touches — the
    // insertion-robust alternative to fixed 10-token chunking. Output:
    // every CDC segment shared by >= 2 distinct docs -----
    QuerySpec("q_cdc_segments", (s, dir) =>
      Dedup.cdcSegments(t(s, dir, "documents"), "doc_id", "text")
        .select(GraftFunctions.polyHash(col("seg_text")).as("seg_hash"),
          col("doc_id"), col("seg_tokens"))
        .groupBy(col("seg_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("seg_tokens")).as("seg_tokens"))
        .filter(col("n_docs") >= 2),
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
           HAVING COUNT(DISTINCT doc_id) >= 2"""),

    // ----- near-dup clusters: bounded min-label propagation over the
    // LSH candidate pairs (rows-only check: iterative, not one SQL) -----
    QuerySpec("q_dedup_clusters", (s, dir) => {
      val pairs = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      Dedup.clusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
    },
      {
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
      }),

    // ----- same clusters via ALTERNATING STAR CONTRACTION: O(log n)
    // rounds regardless of component diameter (label prop tracks the
    // diameter). The oracle is TRUE connected components (recursive
    // closure), which star contraction reaches by construction -----
    QuerySpec("q_dedup_clusters_star", (s, dir) => {
      val pairs = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      Dedup.clustersStar(pairs, "doc_a", "doc_b")
        .withColumnRenamed("doc_a", "doc_id")
    },
      // TRUE connected components via recursive reachability closure
      // (min reachable node per node) — star contraction's exact target,
      // independent of any round count.
      ingestClustersOracle),

    // ----- LSH self-evaluation: measure the banding scheme's candidate
    // quality against the EXACT prefix-filter join (which is provably
    // complete) — TP/FP/FN and precision/recall as data, not folklore.
    // "Measure, don't guess" applied to the engine's own recall story -----
    QuerySpec("q_lsh_quality", (s, dir) => {
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
    },
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
           FROM agg"""),

    // ----- leakage-safe train/val split: near-dup cluster members are
    // folded TOGETHER (fold keyed on the cluster representative, not the
    // doc), so no near-duplicate pair ever straddles train/val — the
    // split-contamination guard a dedup pipeline exists to provide -----
    QuerySpec("q_safe_split", (s, dir) => {
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
           g AS (SELECT d.doc_id, coalesce(c.label, d.doc_id) AS group_key
                 FROM documents d LEFT JOIN l3 c ON d.doc_id = c.id)
           SELECT doc_id, group_key,
                  ${duckStrHash("CAST(group_key AS VARCHAR)")} % 5 AS fold
           FROM g"""
      }),

    // ----- record linkage: block on nation, verify by edit distance
    // (block-then-verify cuts the O(n^2) space to within-block pairs) -----
    // symmetric-delete candidate generation (FastSS/SymSpell family):
    // candidates scale with ACTUAL near-matches, not block size; the
    // oracle runs the brute within-block form — results identical
    QuerySpec("q_record_linkage", (s, dir) =>
      graft.operators.Linkage.linkWithinDeletes(t(s, dir, "customer"),
        "c_custkey", "c_name", Seq("c_nationkey")),
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
           FROM customer a JOIN customer b
             ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
           WHERE levenshtein(a.c_name, b.c_name) <= 1"""),

    // ----- GOLDEN RECORD (MDM consolidation): linkage pairs → connected
    // components → one canonical row per entity cluster under explicit
    // survivorship rules (name/id from the MIN member — deterministic
    // because keys are unique; balance = exact decimal MAX; the
    // segment-count column surfaces clusters whose members disagree —
    // the "needs a steward" queue). Same bounded-3-round CC caveat as
    // q_leakage_split (exact for diameter ≤ 3; both engines run the
    // SAME rounds so the oracle matches regardless). Cluster work is
    // pair-table-sized; the customer table joins back ONCE. -----
    QuerySpec("q_golden_record", (s, dir) => {
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
    },
      {
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
      }),

    // ----- CROSS-TABLE entity resolution: customers vs suppliers whose
    // source-normalized names (prefix stripped) are within one edit,
    // blocked on nation — the merge-two-systems linkage shape -----
    QuerySpec("q_linkage_cross", (s, dir) => {
      val c = t(s, dir, "customer").selectExpr("c_custkey AS id",
        "substring(c_name, 10) AS name", "c_nationkey AS nk")
      val sup = t(s, dir, "supplier").selectExpr("s_suppkey AS id",
        "substring(s_name, 10) AS name", "s_nationkey AS nk")
      graft.operators.Linkage.linkAcrossDeletes(c, sup, "id", "name",
        Seq("nk"))
    },
      // brute blocked cross-table definition — proves the deletion-
      // neighborhood candidate generator is complete across tables
      """SELECT c.c_custkey AS id_l, s.s_suppkey AS id_r,
                  CAST(levenshtein(substring(c.c_name, 10),
                                   substring(s.s_name, 10)) AS BIGINT) AS edit_dist
           FROM customer c JOIN supplier s
             ON c.c_nationkey = s.s_nationkey
           WHERE levenshtein(substring(c.c_name, 10),
                             substring(s.s_name, 10)) <= 1"""),

    // ----- FUZZY record linkage via native Jaro-Winkler: brand-blocked
    // part-name pairs scored by JaroWinklerSim (a codegen'd Catalyst
    // expression — Spark ships levenshtein but no JW; a UDF here would
    // box every pair and break whole-stage codegen). Blocking keeps the
    // pair space at sum(block²), never corpus²; the equi-keyed self-join
    // shuffles on the block key so each block's quadratic work is local
    // to one task (AQE splits an oversized block) -----
    QuerySpec("q_jaro_linkage", (s, dir) => {
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
    },
      """SELECT a.p_brand, a.p_partkey AS p1, b.p_partkey AS p2,
                  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
           FROM part a JOIN part b
             ON a.p_brand = b.p_brand AND a.p_size = b.p_size
            AND a.p_partkey < b.p_partkey
           WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88"""),

    // ----- DEDUP SAVINGS accounting: per source, how many documents and
    // characters the near-dup cluster policy would drop (everything but
    // each cluster's min-id representative) — the storage/compute
    // savings readout a dedup rollout is justified with. Reuses the
    // cluster labels; only ids and char counts ride the joins -----
    QuerySpec("q_dedup_savings", (s, dir) => {
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
    },
      {
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
      }),

    // ----- LSH CALIBRATION curve: per signature-agreement count (the
    // estimate is k-quantized, so the bucket key is an exact integer
    // 0..12), how many candidate pairs there are and their MICRO-
    // averaged exact Jaccard (sum of intersections over sum of unions —
    // exact BIGINT sums, ONE division per bucket; a mean of per-pair
    // doubles would be an order-dependent float sum). Exact verify runs
    // only on LSH candidates, never all pairs — the curve answers "does
    // the sketch estimate track truth?" bucket by bucket -----
    QuerySpec("q_lsh_calibration", (s, dir) => {
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
    },
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
           FROM v GROUP BY k_agree"""),

    // ----- LSH S-CURVE: analytic candidate-collision probability
    // 1 - (1 - s^r)^b for the deployed (r=3, b=4) banding across a
    // similarity spine — the design readout that says WHICH Jaccard a
    // bucket join will actually catch (complements q_lsh_quality's
    // empirical precision/recall). Powers are expanded to explicit
    // multiplication chains (pow() is not correctly-rounded and drifts
    // across engines; bare multiplication is IEEE-exact) -----
    QuerySpec("q_lsh_scurve", (s, dir) => {
      s.range(1, 20).toDF("i")
        .withColumn("sim", expr("i / 20.0e0"))
        .withColumn("p_band", expr("sim * sim * sim"))
        .withColumn("q1", expr("1.0e0 - p_band"))
        .withColumn("p_collide", expr("1.0e0 - (q1 * q1 * q1 * q1)"))
        .select(col("i"), col("sim"), col("p_collide"))
    },
      """SELECT i, sim, 1.0e0 - (q1 * q1 * q1 * q1) AS p_collide FROM (
             SELECT i, sim, 1.0e0 - (sim * sim * sim) AS q1 FROM (
               SELECT CAST(i AS BIGINT) AS i, i / 20.0e0 AS sim
               FROM range(1, 20) t(i)))"""),

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
    QuerySpec("q_nfc_dedup", (s, dir) => {
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
    },
      // chr(233) = precomposed é, chr(769) = combining acute: byte-exact
      // twins of the Scala literals, kept as codepoints so the oracle SQL
      // survives any transport encoding
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
           FROM raw JOIN nn ON raw.source = nn.source"""),

    // ----- LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT: the 8/1/1 split is keyed
    // on the near-dup CLUSTER representative, not the doc id — so a
    // document and its near-duplicates land in the SAME split and eval
    // isn't contaminated by a training-set twin. Docs in no cluster key
    // on their own id. The guarantee is exact for clusters that converge
    // within the 3 bounded propagation rounds (diameter ≤ 3 — run more
    // rounds for pathological chains; see Dedup.clusters). -----
    QuerySpec("q_leakage_split", (s, dir) => {
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
    },
      {
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
      }),

    // ----- N-GRAM NOVELTY per source (data-valuation readout): how many
    // of a source's distinct bigrams appear in NO other source — the
    // marginal diversity a source contributes to the training mix. -----
    QuerySpec("q_ngram_novelty", (s, dir) => {
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
    },
      s"""WITH tk AS (SELECT source, ${duckTokens("text")} AS toks FROM documents),
           bg AS (SELECT DISTINCT source, unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           ns AS (SELECT bigram, COUNT(DISTINCT source) AS ns FROM bg GROUP BY 1)
           SELECT source, COUNT(*) AS n_bigrams,
                  CAST(SUM(CASE WHEN ns.ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                  CAST(SUM(CASE WHEN ns.ns = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
           FROM bg JOIN ns USING (bigram) GROUP BY source"""),

    // ----- PERCEPTUAL IMAGE DEDUP: decode each synthesized P6 PPM with
    // the REAL pixel parser, compute the classic average-hash (integer
    // grayscale vs image mean, one bit per pixel), and pair documents
    // with IDENTICAL aHash — image near-dup as a groupBy of longs, no
    // pairwise pixel compare ever. The oracle replays the byte math in
    // SQL. -----
    QuerySpec("q_media_phash", (s, dir) => {
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
    },
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
           FROM h a JOIN h b ON a.ahash = b.ahash AND a.doc_id < b.doc_id"""),

    // ----- perceptual-hash NEAR-dup at Hamming <= 1 via the pigeonhole
    // blocks (exact recall — the generic hammingPairsExact primitive on
    // the 12-bit aHash, 2 disjoint 6-bit blocks); the oracle is the
    // naive all-pairs Hamming truth, so hash-equality PROVES the block
    // join misses nothing. q_media_phash's exact-hash grouping is the
    // cheap stage; this catches one-bit-off re-encodes. Hamming <= 1 is
    // the semantically meaningful cut for a 12-bit hash — at <= 3 a
    // random pair matches 7% of the time and the join is output-bound
    // noise, not dedup -----
    QuerySpec("q_media_hamming", (s, dir) => {
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
    },
      // naive all-pairs Hamming truth — proves the pigeonhole block
      // join's exact recall
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
           WHERE hamming <= 1""")
  )
}

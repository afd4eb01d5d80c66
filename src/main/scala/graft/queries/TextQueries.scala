package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Dedup, Packing, TextAnalysis}
import graft.functions.{GraftFunctions, XFormulas}
import graft.functions.XFormulas._
import graft.queries.Shared._

/** Text-analysis queries over the documents table: token statistics,
  * language ID, BPE, positional and inverted indexes, decontamination,
  * quality scoring, packing, corpus cleaning and media plumbing
  * (`operators.TextAnalysis`, `CorpusPipeline`, `Packing`, `Multimodal`). */
object TextQueries {

  /** q_blocklist_scan's phrase list — shared by query and oracle. Includes
    * a self-overlapping pattern and a suffix-contained pair on purpose. */
  private val blocklistPats = Seq("a", "a a", "scan", "slow scan",
    "hash join", "table table", "fast merge", "batch window")

  // deterministic partition-local next-fit packing, stepped by a
  // recursive CTE (one item per split per iteration, breadth-first
  // across splits) — the exact relational replay of Packing.nextFit
  private val packCtes =
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

  // the naive positional phrase truth shared by the stored-index and
  // HOF-scan plans ('slow hash batch', 1-based positions)
  private val phraseOracle =
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

  // one BPE training round over dictionary `prev` (cnt, syms):
  // weighted adjacent-pair counts, lexicographic-tie top pair, greedy
  // left-to-right rewrite — mirrors TextAnalysis.bpeTrain exactly.
  // Shared by the merge-table and compression-readout oracles.
  private def bpeRound(prev: String, pN: String, tN: String, wN: String) =
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

  private val bpeChain =
    s"""tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
         wd AS (SELECT unnest(toks) AS word FROM tk),
         wc AS (SELECT word, COUNT(*) AS cnt FROM wd GROUP BY word),
         w0 AS (SELECT cnt, list_transform(range(1, length(word) + 1),
                i -> word[i:i]) AS syms FROM wc),
         ${bpeRound("w0", "p1", "t1", "w1")},
         ${bpeRound("w1", "p2", "t2", "w2")},
         ${bpeRound("w2", "p3", "t3", "w3")}"""

  /** The word-range-partitioned positional index of the documents
    * table, built once per harness run per dir — q_proximity_rank's
    * serving substrate (same memo discipline as
    * [[RetrievalQueries.ivfPqFixture]]). */
  private[graft] def proxIndexFixture(s: SparkSession, dir: String): String =
    memoFixture("prox_index", dir) { path =>
      TextAnalysis.positionalIndex(t(s, dir, "documents"), "doc_id", "text")
        .repartitionByRange(4, col("word"))
        .sortWithinPartitions(col("word"))
        .write.mode("overwrite").parquet(path)
      path
    }

  val all: Seq[QuerySpec] = Seq(
    // ----- text analysis: per-doc token stats (narrow, no shuffle) -----
    QuerySpec("q_text_stats", (s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, text, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(length(text) AS BIGINT) AS text_len,
                  CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) AS avg_token_len,
                  CAST($stop AS BIGINT) AS stop_hits
           FROM tk"""),

    QuerySpec("q_text_lang", (s, dir) =>
      TextAnalysis.langGuess(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, CASE WHEN $stop >= 2 THEN 'en'
                               WHEN $stop >= 1 THEN 'maybe_en'
                               ELSE 'other' END AS lang_guess
           FROM tk"""),

    // ----- LANG-ID CONFUSION MATRIX: the heuristic classifier's guesses
    // cross-tabulated against the corpus's labeled lang — the eval that
    // says whether the cheap stopword gate is good enough to route docs
    // at ingest, and per (label, guess) cell counts + the label's recall
    // as one exact division. Classifier and matrix are two tiny
    // aggregations over one scan. -----
    QuerySpec("q_langid_confusion", (s, dir) => {
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
    },
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
           FROM cells JOIN t ON cells.lang = t.lang"""),

    QuerySpec("q_text_quality", (s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id,
                  0.4 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
                  0.3 * (CAST($stop AS DOUBLE) / len(toks)) +
                  0.3 * (CAST(len(list_filter(toks, w -> length(w) <= 5)) AS DOUBLE) / len(toks)) AS quality
           FROM tk"""),

    QuerySpec("q_text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text"),
      s"""SELECT doc_id, ${duckStrHash("text")} AS fp FROM documents"""),

    // ----- SEQUENCE PACKING: assign documents to fixed-capacity
    // training context windows (deterministic partition-local next-fit
    // in doc-id order; Packing.nextFit's scaladoc carries the 100 TB
    // splits-sizing argument). The oracle replays the same fold as a
    // recursive CTE -----
    QuerySpec("q_pack_nextfit", (s, dir) => {
      val toks = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      graft.operators.Packing.nextFit(toks, "doc_id", "n_tokens",
        capacity = 512L, splits = 8)
    },
      // partition-local next-fit replayed as a recursive CTE stepping
      // one item per split per iteration — the same fold, relationally
      s"""$packCtes
           SELECT doc_id, n_tokens, split AS pack_split,
                  CAST(split * 1000000 + bin AS BIGINT) AS pack_bin
           FROM pack"""),

    // the go/no-go readout for a capacity choice: bins, fill, and the
    // padding the packing leaves per split
    QuerySpec("q_pack_stats", (s, dir) => {
      val toks = TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      graft.operators.Packing.packStats(toks, "doc_id", "n_tokens",
        capacity = 512L, splits = 8)
    },
      s"""$packCtes,
           bins AS (SELECT split, bin, COUNT(*) AS n_items,
                           CAST(SUM(n_tokens) AS BIGINT) AS fill
                    FROM pack GROUP BY split, bin)
           SELECT split AS pack_split, CAST(COUNT(*) AS BIGINT) AS n_bins,
                  CAST(SUM(n_items) AS BIGINT) AS n_items,
                  CAST(SUM(fill) AS BIGINT) AS total_weight,
                  CAST(SUM(GREATEST(0, 512 - fill)) AS BIGINT)
                    AS padding_waste
           FROM bins GROUP BY split"""),

    // ----- cross-snapshot corpus diff: per-source docs added / removed
    // / changed + token drift between two VersionedTable versions — the
    // release-notes readout before switching snapshots. Manifest diff +
    // changed-file reads only (VersionedTableSpec pins that untouched
    // files are never scanned); fixture = base minus the tail, then
    // append the tail (adds), delete ids < 30 (removes), and rewrite
    // ids 60-70 with ' v2' texts (changes) -----
    QuerySpec("q_corpus_diff", (s, dir) => {
      import graft.sources.VersionedTable
      val path = freshFixture("cdiff", dir)
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
    },
      // cross-snapshot diff: replay the fixture's two logical snapshots
      // (old = ids < 450; new = ids >= 30 with 60-70 edited) and
      // classify per doc, counting token drift over the diff sets only
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
           FROM j WHERE k <> 'unchanged' GROUP BY source"""),

    // ----- end-to-end corpus cleaning (composition of the above) -----
    QuerySpec("q_corpus_clean", (s, dir) =>
      graft.operators.CorpusPipeline.clean(
        t(s, dir, "documents"), "doc_id", "text"),
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
           WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)"""),

    // ----- inverted index: term -> deterministic posting list -----
    // ----- ZIPF rank-octave diagnostic: vocabulary ranked by frequency
    // (ParallelRank — no global window), bucketed by floor(log2(rank))
    // via bin-string length (integer-exact in BOTH engines; log2() is
    // float and not portable). Zipfian text ⇒ roughly constant total
    // frequency per octave — the corpus-health readout before trusting
    // frequency-based filters -----
    QuerySpec("q_zipf", (s, dir) => {
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
    },
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
           FROM r GROUP BY 1"""),

    QuerySpec("q_inverted_index", (s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy(col("word"))
        .agg(countDistinct(col("doc_id")).as("df"),
          expr("array_join(slice(sort_array(collect_set(doc_id)), 1, 10), ',')")
            .as("postings10"))
        .orderBy(col("df").desc, col("word"))
        .limit(50),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT doc_id, unnest(toks) AS word FROM tk)
           SELECT word, COUNT(DISTINCT doc_id) AS df,
                  array_to_string(list_sort(list_distinct(list(doc_id)))[1:10], ',') AS postings10
           FROM w GROUP BY word ORDER BY df DESC, word LIMIT 50"""),

    // ----- PHRASE SEARCH over a STORED positional index: postings are
    // built once (word-range-partitioned + sorted, so parquet row-group
    // stats make a term lookup a data-skipping read), then the phrase
    // is n-1 equi-joins on (doc, anchor-relative position) — cost
    // follows the rarest term's postings, never the corpus -----
    QuerySpec("q_phrase_search", (s, dir) => {
      val path = fixturePath("pos_index", dir)
      TextAnalysis.positionalIndex(t(s, dir, "documents"), "doc_id", "text")
        .repartitionByRange(4, col("word"))
        .sortWithinPartitions(col("word"))
        .write.mode("overwrite").parquet(path)
      TextAnalysis.phraseQuery(s.read.parquet(path), "doc_id",
        Seq("slow", "hash", "batch"))
    },
      phraseOracle),

    // ----- PROXIMITY-SCORED RETRIEVAL over the same stored positional
    // index: AND of three terms, BM25-weighted (the q_bm25 rational
    // form, fixed fold order) times a min-span proximity bonus —
    // documents where the terms cluster tightly outrank diffuse
    // mentions. Min-span is the relational doc-at-a-time window
    // (anchors x next-occurrence-per-term, postings-sized); the global
    // top-15 rides ParallelRank, never a global window -----
    QuerySpec("q_proximity_rank", (s, dir) => {
      val path = proxIndexFixture(s, dir)
      TextAnalysis.proximityRank(s.read.parquet(path), "doc_id",
        Seq("join", "hash", "scan"), k = 15)
    },
      // AND retrieval + min-span proximity: the naive truth recomputes
      // postings from the raw text; the bm25 term weights and the
      // final product reuse q_bm25's expression TEXT verbatim (same
      // IEEE tree; tf/dfq wrapped BIGINT — DuckDB SUM(int) is HUGEINT)
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
           WHERE rnk <= 15"""),

    // ----- VERSIONED phrase index with snapshot-isolated serving: the
    // base corpus's postings commit as a VersionedTable; a query serves
    // from a PINNED version while the increment's postings land as the
    // next APPEND — the in-flight query's result set cannot change
    // under it (same pin-isolation contract as q_ingest_dedup3, here
    // for the retrieval index). base scope = pinned read AFTER the
    // append landed; a leaked pin would surface increment docs there
    // and hash-mismatch the oracle -----
    QuerySpec("q_phrase_index_ingest", (s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
      val path = fixturePath("phrase_vtab", dir)
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
    },
      // phrase matching is per-document, so the pinned base scope must
      // equal the full truth RESTRICTED to base docs — any increment
      // doc in 'base' is a pin leak
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
           SELECT 'full', doc_id, n_hits, first_pos FROM hits"""),

    // ----- the same phrase WITHOUT an index: one narrow HOF corpus
    // pass testing every |phrase|-token window, zero shuffles before
    // the aggregate — the right plan for an ad-hoc phrase (building
    // postings first would cost this same pass). Same oracle: the two
    // plans must agree to the hash -----
    QuerySpec("q_phrase_scan", (s, dir) =>
      TextAnalysis.phraseScan(t(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "hash", "batch")),
      // the index-join plan and the HOF scan must agree to the hash
      phraseOracle),

    // ----- TF-IDF-style ranking, log-free so the doubles are exact:
    // score = tf * n_docs / df (rational idf — same ordering intent,
    // bit-identical across engines; log() is only 1-ulp-accurate and
    // cannot be hash-matched) -----
    QuerySpec("q_tfidf_like", (s, dir) => {
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
    },
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
           SELECT doc_id, word, score, rn FROM r WHERE rn <= 3"""),

    // ----- corpus shingle frequency via the custom GENERATOR expression
    // (row-per-shingle UDTF shape: no intermediate array) -----
    QuerySpec("q_shingle_freq", (s, dir) =>
      t(s, dir, "documents")
        .select(graft.functions.GraftFunctions
          .shingleRows(col("text"), 3).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("shingle"))
        .limit(20),
      s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           sh AS (SELECT list_distinct(${duckShingles("toks", 3)}) AS shingles FROM tk),
           w AS (SELECT unnest(shingles) AS shingle FROM sh)
           SELECT shingle, COUNT(*) AS n FROM w
           GROUP BY shingle ORDER BY n DESC, shingle LIMIT 20"""),

    // ----- cluster-aware corpus cleaning: one representative per
    // transitive near-dup component -----
    QuerySpec("q_corpus_clean2", (s, dir) =>
      graft.operators.CorpusPipeline.cleanClustered(
        t(s, dir, "documents"), "doc_id", "text"),
      {
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
      }),

    // ----- multimodal plumbing: opaque binary + typed metadata -----
    QuerySpec("q_media_meta", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("media", expr("encode(text, 'UTF-8')")) // opaque bytes
        .selectExpr("doc_id",
          "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind",
          "CAST(octet_length(media) AS BIGINT) AS n_bytes",
          "CAST(ascii(text) AS BIGINT) AS first_byte"),
      """SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                  CAST(ord(substr(text, 1, 1)) AS BIGINT) AS first_byte
           FROM documents"""),

    // ----- multimodal frame sampling: fixed-size frame plumbing over the
    // opaque payload (offset/length per frame; the decode itself is the
    // stubbed step — see operators.Multimodal) -----
    QuerySpec("q_media_frames", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("media", expr("encode(text, 'UTF-8')"))
        .withColumn("n_bytes", expr("CAST(octet_length(media) AS BIGINT)"))
        .withColumn("frame_idx",
          explode(expr("sequence(0L, (n_bytes + 255) div 256 - 1)")))
        .selectExpr("doc_id", "frame_idx",
          "frame_idx * 256 AS frame_off",
          "least(256L, n_bytes - frame_idx * 256) AS frame_len"),
      """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                      FROM documents),
           f AS (SELECT doc_id, n_bytes,
                        unnest(range(0, (n_bytes + 255) // 256)) AS frame_idx
                 FROM m)
           SELECT doc_id, frame_idx, frame_idx * 256 AS frame_off,
                  least(256, n_bytes - frame_idx * 256) AS frame_len
           FROM f"""),

    // ----- multimodal REAL decode: synthesize a binary P6 PPM (4x3 RGB,
    // body = first 36 text bytes, 'x'-padded) per document, decode it
    // with the pure-JVM parser, emit geometry + per-channel means. The
    // oracle replays the identical byte math in SQL. -----
    QuerySpec("q_media_features", (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .selectExpr("doc_id",
          "encode(concat('P6', chr(10), '4 3', chr(10), '255', chr(10), " +
            "rpad(text, 36, 'x')), 'UTF-8') AS bytes")
        .as[(Long, Array[Byte])]
      graft.operators.Multimodal.ppmFeatures(payloads)
        .selectExpr("id AS doc_id", "width", "height", "maxval",
          "mean_r", "mean_g", "mean_b")
    },
      """WITH img AS (SELECT doc_id, rpad(text, 36, 'x') AS body FROM documents),
           pix AS (SELECT doc_id, i, ord(substr(body, CAST(i AS INT), 1)) AS v
                   FROM img CROSS JOIN (SELECT unnest(range(1, 37)) AS i) ii)
           SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
                  CAST(255 AS BIGINT) AS maxval,
                  CAST(SUM(CASE WHEN (i - 1) % 3 = 0 THEN v ELSE 0 END) AS DOUBLE) / 12 AS mean_r,
                  CAST(SUM(CASE WHEN (i - 1) % 3 = 1 THEN v ELSE 0 END) AS DOUBLE) / 12 AS mean_g,
                  CAST(SUM(CASE WHEN (i - 1) % 3 = 2 THEN v ELSE 0 END) AS DOUBLE) / 12 AS mean_b
           FROM pix GROUP BY doc_id"""),

    // ----- BPE-merge training: 3 rounds of pair-count → top pair →
    // greedy rewrite over the word-frequency dictionary — the
    // distributed tokenizer-training loop (corpus text touched once;
    // every round is dictionary-sized) -----
    QuerySpec("q_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", rounds = 3),
      s"""WITH $bpeChain
           SELECT CAST(1 AS BIGINT) AS merge_round, lsym, rsym, freq FROM t1
           UNION ALL
           SELECT CAST(2 AS BIGINT), lsym, rsym, freq FROM t2
           UNION ALL
           SELECT CAST(3 AS BIGINT), lsym, rsym, freq FROM t3"""),

    // what the 3 learned merges buy: exact corpus symbol counts before
    // vs after application — the sequence-length/FLOPs readout
    QuerySpec("q_bpe_compression", (s, dir) =>
      TextAnalysis.bpeCompression(t(s, dir, "documents"), "text",
        rounds = 3),
      s"""WITH $bpeChain
           SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM w0) AS total_words,
                  (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM w0)
                    AS syms_before,
                  CAST(SUM(cnt * len(syms)) AS BIGINT) AS syms_after
           FROM w3"""),

    // ----- corpus word frequency: explode + count + top-k -----
    QuerySpec("q_word_freq", (s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(explode(col("toks")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20),
      s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           w AS (SELECT unnest(toks) AS word FROM tk)
           SELECT word, COUNT(*) AS n FROM w
           GROUP BY word ORDER BY n DESC, word LIMIT 20"""),

    // ----- char-n-gram language-ID (profile density, no shuffle) -----
    QuerySpec("q_text_lang_ngram", (s, dir) =>
      TextAnalysis.langCharNgram(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH tg AS (SELECT doc_id, ${duckCharTrigrams("lower(text)")} AS tris FROM documents)
           SELECT doc_id,
                  CAST(${duckTrigramHits("tris")} AS DOUBLE) / len(tris) AS tri_score,
                  CASE WHEN CAST(${duckTrigramHits("tris")} AS DOUBLE) / len(tris) >= 0.05 THEN 'en'
                       WHEN CAST(${duckTrigramHits("tris")} AS DOUBLE) / len(tris) >= 0.02 THEN 'maybe_en'
                       ELSE 'other' END AS lang3
           FROM tg"""),

    // ----- repetition / boilerplate metrics (per-row HOFs, no shuffle)
    QuerySpec("q_repetition", (s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           tr AS (SELECT doc_id, toks, ${duckShingles("toks", 3)} AS tri FROM tk)
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0) AS distinct_ratio,
                  CAST(list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / nullif(len(toks), 0) AS top_share,
                  CAST(len(list_distinct(tri)) AS DOUBLE) / nullif(len(tri), 0) AS tri_ratio
           FROM tr"""),

    // ----- composite quality gate with per-rule rejection flags -----
    QuerySpec("q_quality_gate", (s, dir) =>
      TextAnalysis.qualityGate(t(s, dir, "documents"), "doc_id", "text"),
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
           FROM r"""),

    // ----- benchmark decontamination: 5-gram hash collisions between
    // the corpus (doc_id >= 20) and a benchmark set (doc_id < 20) -----
    QuerySpec("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminate(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    },
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id,
                        unnest(list_distinct(list_transform(${duckShingles("toks", 5)}, s -> ${duckStrHash("s")}))) AS gh
                 FROM tk),
           c AS (SELECT doc_id AS doc_id_c, gh FROM g WHERE doc_id >= 20),
           b AS (SELECT doc_id AS bench_id, gh FROM g WHERE doc_id < 20)
           SELECT doc_id_c AS doc_id,
                  COUNT(DISTINCT gh) AS n_shared_ngrams,
                  COUNT(DISTINCT bench_id) AS n_bench_docs
           FROM c JOIN b USING (gh) GROUP BY doc_id_c"""),

    // ----- CONTAMINATION DEFENSE-IN-DEPTH MATRIX: every corpus doc
    // cross-tabulated by which detection layer flags it — byte-exact
    // text match, 5-gram hash overlap (q_decontaminate's layer), and
    // embedding cosine (q_contam_embedding's layer, vec ids aligned
    // with doc ids). The 2×2×2 readout says whether the layers are
    // redundant or complementary — the audit that justifies running
    // (or dropping) each one at 100 TB. Layers reuse the existing
    // operators' exact machinery; flags ride LEFT joins on ids. -----
    QuerySpec("q_contam_matrix", (s, dir) => {
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
    },
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
           GROUP BY 1, 2, 3"""),

    // ----- WHERE the contamination is: 1-based positions of benchmark
    // 5-gram collisions per doc — the span list an excision pass masks
    QuerySpec("q_contam_spans", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminatedSpans(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
        // the operator's ARRAY output feeds excision; the differential
        // surface flattens it to a scalar so the oracle can sort+hash it
        .withColumn("positions", concat_ws(",", col("positions")))
    },
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
           FROM g JOIN bg USING (gh) GROUP BY doc_id"""),

    // ----- EXCISION: the spans list executed — corpus text with the
    // contaminated windows cut out (token-level surgery instead of
    // dropping whole docs). clean_text is the normalized token stream
    // (lowercased, single-spaced) on both engines. -----
    QuerySpec("q_contam_excise", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.exciseContaminated(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    },
      // Kept token i survives iff no flagged 5-gram start p covers it
      // (p <= i <= p+4, 1-based on both engines).
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
           FROM rebuilt"""),

    // ----- corpus bigram LM: top-20 bigrams with conditional p(w2|w1)
    QuerySpec("q_bigram_lm", (s, dir) =>
      TextAnalysis.bigramLm(t(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("bigram"))
        .limit(20),
      s"""WITH tk AS (SELECT ${duckTokens("text")} AS toks FROM documents),
           bg AS (SELECT unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           bw AS (SELECT bigram, string_split(bigram, ' ')[1] AS w1 FROM bg),
           c2 AS (SELECT w1, bigram, COUNT(*) AS n FROM bw GROUP BY 1, 2),
           c1 AS (SELECT w1, COUNT(*) AS n1 FROM bw GROUP BY 1)
           SELECT bigram, c2.n AS n, CAST(c2.n AS DOUBLE) / c1.n1 AS p
           FROM c2 JOIN c1 USING (w1)
           ORDER BY n DESC, bigram LIMIT 20"""),

    // ----- word co-occurrence with PMI-style LIFT (log-free: the exact
    // rational (n_ab * nd) / (n_a * n_b), since log() is 1-ulp
    // engine-specific). Doc-level distinct words -> within-doc pairs. -----
    QuerySpec("q_word_cooccur", (s, dir) => {
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
    },
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
           ORDER BY n_ab DESC, w1, w2 LIMIT 20"""),

    // ----- FULL corpus pipeline: quality gate -> decontamination ->
    // exact dedup -> near-dup cluster representatives -----
    QuerySpec("q_corpus_clean3", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.CorpusPipeline.cleanFull(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    },
      {
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
      }),

    // ----- FUNNEL AUDIT of the full pipeline: docs surviving each
    // stage — the attrition dashboard a data team reads before
    // committing a snapshot (survivor-only output can't show a stage
    // suddenly eating the corpus) -----
    QuerySpec("q_corpus_funnel", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.CorpusPipeline.cleanFunnel(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
    },
      // Same CTE chain as q_corpus_clean3; the head swaps the survivor
      // projection for one count per pipeline stage.
      {
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
      }),

    // ----- DETERMINISTIC WORD-DROPOUT AUGMENTATION: drop ~10% of each
    // doc's tokens, chosen by an exact integer hash of
    // (token, doc, position) — reproducible augmentation with NO RNG, so
    // every epoch and every engine regenerates the identical augmented
    // corpus (and the oracle can replay it). A pure narrow map (tokenize
    // → positional hash filter → re-join) running inside the scan
    // stage. -----
    QuerySpec("q_word_dropout", (s, dir) => {
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
    },
      {
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
      }),

    // ----- tokenizer VOCAB COVERAGE curve: top-64 tokens by corpus
    // frequency with cumulative occurrence share — the vocab-size vs
    // coverage trade-off read off directly. The global rank runs on the
    // aggregated TYPE table (distinct tokens), which is vocab-sized,
    // not corpus-sized; coverage is an integer cumsum + one division -----
    QuerySpec("q_vocab_coverage", (s, dir) => {
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
    },
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
           FROM r WHERE "rank" <= 64"""),

    // ----- lexical diversity, log-free: Gini-Simpson 1 - sum(p_i^2)
    // computed as the exact rational (N^2 - sum(n_i^2)) / N^2 — integer
    // sums + ONE division, so doubles are engine-identical (entropy's
    // log() is 1-ulp engine-specific; this is the same diversity signal
    // without it) -----
    QuerySpec("q_lex_diversity", (s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_tokens"),
          sum(col("n") * col("n")).as("sum_sq"))
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) / (n_tokens * n_tokens)")
            .as("gini")),
      s"""WITH tk AS (SELECT doc_id, unnest(${duckTokens("text")}) AS w FROM documents),
           c AS (SELECT doc_id, w, COUNT(*) AS n FROM tk GROUP BY doc_id, w),
           g AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
                        CAST(SUM(n * n) AS BIGINT) AS sum_sq
                 FROM c GROUP BY doc_id)
           SELECT doc_id, n_tokens,
                  CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) / (n_tokens * n_tokens) AS gini
           FROM g"""),

    // ----- array functions (string-joined outputs for the compare) -----
    QuerySpec("q_array_funcs", (s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .selectExpr("doc_id",
          "CAST(size(toks) AS BIGINT) AS n_toks",
          "array_join(slice(sort_array(toks), 1, 3), ',') AS first3",
          "array_contains(toks, 'the') AS has_the",
          "CAST(size(array_distinct(toks)) AS BIGINT) AS n_uniq"),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
                  array_to_string(list_sort(toks)[1:3], ',') AS first3,
                  list_contains(toks, 'the') AS has_the,
                  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
           FROM tk"""),

    // ----- regular expressions (RE2-safe patterns) -----
    QuerySpec("q_regexp", (s, dir) =>
      t(s, dir, "documents").selectExpr("doc_id",
        "regexp_extract(text, '([a-z]+a[a-z]*)', 1) AS first_a_word",
        "CAST(length(regexp_replace(text, '[aeiou]', '')) AS BIGINT) AS novowel_len",
        "CAST(size(regexp_extract_all(text, '(ta[a-z]+)', 0)) AS BIGINT) AS n_ta"),
      """SELECT doc_id,
                  regexp_extract(text, '([a-z]+a[a-z]*)', 1) AS first_a_word,
                  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS novowel_len,
                  CAST(len(regexp_extract_all(text, '(ta[a-z]+)', 0)) AS BIGINT) AS n_ta
           FROM documents"""),

    // ----- PADDING-WASTE readout: bucket documents by token length
    // (64-token batch granularity) and compute how many pad tokens a
    // batch-by-length training loader would burn per bucket — the
    // measurement behind sequence packing (q_seq_pack is the fix; this
    // quantifies what it saves). One narrow map + one tiny aggregate. -----
    QuerySpec("q_padding_waste", (s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .selectExpr("CAST(size(toks) AS BIGINT) AS n_toks")
        .filter(col("n_toks") > 0)
        .withColumn("bucket", expr("(n_toks - 1) div 64"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("real_tokens"))
        .withColumn("padded_tokens", expr("n_docs * (bucket + 1) * 64"))
        .withColumn("padding_frac",
          expr("1.0e0 - CAST(real_tokens AS DOUBLE) / padded_tokens")),
      s"""WITH tk AS (SELECT CAST(len(${duckTokens("text")}) AS BIGINT) AS n_toks FROM documents),
           b AS (SELECT n_toks, (n_toks - 1) // 64 AS bucket FROM tk WHERE n_toks > 0)
           SELECT bucket, COUNT(*) AS n_docs,
                  CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
                  CAST(COUNT(*) * (bucket + 1) * 64 AS BIGINT) AS padded_tokens,
                  1.0e0 - CAST(SUM(n_toks) AS DOUBLE) / (COUNT(*) * (bucket + 1) * 64) AS padding_frac
           FROM b GROUP BY bucket"""),

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
    QuerySpec("q_budget_trim", (s, dir) => {
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
    },
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
           FROM c GROUP BY source"""),

    // ----- corpus DATA CARD: per-source report composing token stats,
    // quality (floor-quantized to exact ints — double sums are
    // order-dependent), exact-dup volume, and quality-pass rate. The
    // one-look summary a dataset release ships with -----
    QuerySpec("q_corpus_report", (s, dir) => {
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
    },
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
           FROM agg a JOIN dup d ON a.source = d.s2"""),

    // ----- context-window CHUNKING: overlapping token windows (size 16,
    // stride 8) per document — the standard pre-training chunk op.
    // Narrow explode, no shuffle; chunk math is exact small-int double
    // division identical on both engines -----
    QuerySpec("q_doc_chunks", (s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .filter(expr("size(toks) > 0"))
        .selectExpr("doc_id", "toks",
          "explode(sequence(0L, CAST(greatest(ceil((size(toks) - 16) / 8.0D), 0D) AS BIGINT))) AS chunk_id")
        .selectExpr("doc_id", "chunk_id",
          "concat_ws(' ', slice(toks, CAST(chunk_id * 8 + 1 AS INT), 16)) AS chunk_text",
          "CAST(size(slice(toks, CAST(chunk_id * 8 + 1 AS INT), 16)) AS BIGINT) AS n_chunk_toks"),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ch AS (SELECT doc_id, toks,
                    unnest(range(0, CAST(greatest(ceil((len(toks) - 16) / 8.0), 0) AS BIGINT) + 1)) AS chunk_id
                  FROM tk WHERE len(toks) > 0)
           SELECT doc_id, chunk_id,
                  array_to_string(toks[chunk_id * 8 + 1 : chunk_id * 8 + 16], ' ') AS chunk_text,
                  CAST(len(toks[chunk_id * 8 + 1 : chunk_id * 8 + 16]) AS BIGINT) AS n_chunk_toks
           FROM ch"""),

    // ----- sequence PACKING: concatenate docs in deterministic order and
    // split at 256-token boundaries (the pack-to-context-window op) — a
    // running-sum window assigns each doc its bin; one shuffle per source -----
    QuerySpec("q_seq_pack", (s, dir) => {
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
    },
      s"""WITH tk AS (SELECT doc_id, source, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_toks FROM documents),
           c AS (SELECT doc_id, source, n_toks,
                   CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                 FROM tk)
           SELECT source, (cum - n_toks) // 256 AS bin,
                  COUNT(*) AS n_docs,
                  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
                  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
           FROM c GROUP BY source, (cum - n_toks) // 256"""),

    // ----- per-doc out-of-vocabulary rate against the corpus top-100
    // vocabulary (tiny, broadcast): the fraction of token occurrences a
    // fixed tokenizer vocab would miss -----
    QuerySpec("q_oov_rate", (s, dir) => {
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
    },
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
           FROM j GROUP BY doc_id"""),

    // ----- PII redaction: mask emails/phones/IPs + per-category audit
    // counts over a customer-profile string (streams at scan speed) -----
    QuerySpec("q_pii_redact", (s, dir) =>
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
        "c_custkey", "profile"),
      {
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
      }),

    // ----- cryptographic content hashes (content-addressing for corpus
    // snapshots; both engines emit lowercase hex) -----
    QuerySpec("q_crypto_hash", (s, dir) =>
      t(s, dir, "documents").selectExpr("doc_id",
        "md5(encode(text, 'UTF-8')) AS md5_hex",
        "sha2(text, 256) AS sha256_hex"),
      """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
           FROM documents"""),

    // ----- token counting: whitespace vs BPE-ish subword regex -----
    // (the regex mimics a byte-pair-style pre-tokenizer: letter runs,
    // digit runs, or single punctuation marks)
    QuerySpec("q_token_count", (s, dir) =>
      t(s, dir, "documents").selectExpr("doc_id",
        s"CAST(size(${XFormulas.sparkTokens("text")}) AS BIGINT) AS ws_tokens",
        "CAST(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS bpe_tokens"),
      s"""SELECT doc_id,
                  CAST(len(${XFormulas.duckTokens("text")}) AS BIGINT) AS ws_tokens,
                  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
           FROM documents"""),

    // ----- positional explode (token positions, 1-based both engines) -----
    QuerySpec("q_posexplode", (s, dir) =>
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "word")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("word")),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)
           SELECT doc_id, i AS pos, toks[CAST(i AS INT)] AS word
           FROM tk, unnest(range(1, len(toks) + 1)) AS t(i)"""),

    // ----- SOURCE OVERLAP matrix: pairwise vocabulary Jaccard between
    // sources — the corpus diagnostic that flags two "different" feeds
    // as the same crawl. Distinct (source, token) pairs self-join on
    // the token (vocab-sized, never corpus-sized); counts stay integer
    // with one division per pair -----
    QuerySpec("q_source_overlap", (s, dir) => {
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
    },
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
           FROM iv JOIN sz x ON s1 = x.source JOIN sz y ON s2 = y.source"""),

    // ----- TOKENIZER FERTILITY by language: tokens-per-100-chars — the
    // compression diagnostic that decides per-language byte budgets in
    // a multilingual mix. Exact integer sums, one final division -----
    QuerySpec("q_tokenizer_fertility", (s, dir) => {
      TextAnalysis.withTokens(t(s, dir, "documents"), "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .withColumn("tokens_per_100_chars",
          expr("CAST(n_tokens * 100 AS DOUBLE) / n_chars"))
    },
      s"""WITH tk AS (SELECT lang, text, ${duckTokens("text")} AS toks
                        FROM documents)
           SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
                  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                  CAST(SUM(len(toks)) * 100 AS DOUBLE)
                    / CAST(SUM(length(text)) AS BIGINT)
                    AS tokens_per_100_chars
           FROM tk GROUP BY lang"""),

    // ----- LM DOC SCORE (CCNet-style): worst 25 documents by mean
    // bigram conditional probability under the corpus's own LM. -----
    QuerySpec("q_lm_doc_score", (s, dir) =>
      TextAnalysis.bigramDocScores(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("avg_p"), col("doc_id")).limit(25),
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
           FROM sc ORDER BY avg_p, doc_id LIMIT 25"""),

    // ----- CCNet QUALITY BINS: per-language terciles (head/middle/tail)
    // of the LM doc score — the bucketing CCNet uses to stratify a crawl
    // by fluency before sampling. NTILE over a total order (score, id)
    // is deterministic; bin stats are count/min/max only (no float
    // sums). -----
    QuerySpec("q_quality_bins", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sc = TextAnalysis.bigramDocScores(docs, "doc_id", "text")
      sc.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("bin", ntile(3).over(
          Window.partitionBy(col("lang"))
            .orderBy(col("avg_p"), col("doc_id"))).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_p")).as("lo"), max(col("avg_p")).as("hi"))
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
                  FROM b)
           SELECT lang, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
                  MIN(avg_p) AS lo, MAX(avg_p) AS hi
           FROM nt GROUP BY 1, 2"""),

    // ----- DSIR IMPORTANCE WEIGHTS (Xie et al. 2023): top-50 raw docs
    // by hashed-bigram likelihood ratio against the English slice as the
    // target domain — the data-selection scorer; mean fixed-point ratio
    // instead of sum-of-logs for exact cross-engine arithmetic (see
    // TextAnalysis.dsirWeights). -----
    QuerySpec("q_dsir_weights", (s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
        .orderBy(col("dsir_w").desc, col("doc_id")).limit(50),
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
           FROM w ORDER BY dsir_w DESC, doc_id LIMIT 50"""),

    // ----- PER-DOC NOVELTY: fraction of a doc's bigrams first seen in
    // that doc (ingest order) — the greedy-coverage proxy; near-dup and
    // boilerplate tails score ~0 (the per-SOURCE marginal-diversity twin
    // is q_ngram_novelty). -----
    QuerySpec("q_doc_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id, unnest(list_distinct(${duckShingles("toks", 2)})) AS bigram FROM tk),
           f AS (SELECT bigram, MIN(doc_id) AS first_doc FROM g GROUP BY bigram)
           SELECT doc_id, COUNT(*) AS nb,
                  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
                  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
           FROM g JOIN f USING (bigram) GROUP BY doc_id"""),

    // ----- HEAPS'-LAW CURVE: cumulative tokens vs cumulative distinct
    // word types in doc-id order — the vocabulary-saturation readout. -----
    QuerySpec("q_heaps_law", (s, dir) =>
      TextAnalysis.heapsLaw(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH w AS (SELECT doc_id, unnest(${duckTokens("text")}) AS word FROM documents),
           pd AS (SELECT doc_id, COUNT(*) AS n_tokens FROM w GROUP BY doc_id),
           ft AS (SELECT word, MIN(doc_id) AS first_doc FROM w GROUP BY word),
           nt AS (SELECT first_doc, COUNT(*) AS new_types FROM ft GROUP BY first_doc)
           SELECT pd.doc_id,
                  CAST(SUM(n_tokens) OVER (ORDER BY pd.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
                  CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY pd.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
           FROM pd LEFT JOIN nt ON pd.doc_id = nt.first_doc"""),

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
    QuerySpec("q_blocklist_scan", (s, dir) => {
      val counted = t(s, dir, "documents").select(col("source"),
        GraftFunctions.multiCount(col("text"), blocklistPats).as("cnts"))
      counted.select(col("source"), posexplode(col("cnts")).as(Seq("idx", "n")))
        .groupBy(col("source"),
          element_at(array(blocklistPats.map(lit): _*),
            col("idx").cast("int") + 1).as("pattern"))
        .agg(sum(col("n")).as("hits"),
          sum(when(col("n") > 0, 1L).otherwise(0L)).as("docs_hit"))
    },
      {
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
      }),

    // ----- REAL IMAGE RESIZE: decode each synthesized 4×3 P6 PPM and
    // nearest-neighbor downsample to 2×2 on actual pixel math
    // (all-integer sampling: srcX = x·srcW div dw) — the pre-feature
    // downsample stage, oracle-replayed byte-for-byte from the padded
    // text. Output is the four resized grays as scalar columns. -----
    QuerySpec("q_media_resize", (s, dir) => {
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
    },
      // Same synthesized-PPM byte math as q_media_features; the hash is
      // integer end-to-end (gray = byte-triple // 3, mean = sum // 12,
      // bit 11-k per pixel) so equality is engine-exact.
      {
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
      })
  )
}

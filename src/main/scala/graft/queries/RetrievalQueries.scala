package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.functions.{GraftFunctions, XFormulas}
import graft.functions.XFormulas._
import graft.queries.Shared._

/** Retrieval and ANN queries over the embeddings table: exact top-k, LSH,
  * IVF, PQ, IVF-PQ (in memory, stored and versioned), SemDeDup and the
  * retrieval-quality readouts (`operators.Similarity`). */
object RetrievalQueries {

  /** nDCG@10 discount weights round(1e6/log2(i+1)), i = 1..10, and their
    * cumulative sums (= ideal DCG of the first R ranks). Driver-side
    * constants embedded as literals in BOTH dialects — log() is not
    * engine-portable, a literal table is. */
  private val ndcgW: Seq[Long] =
    (1 to 10).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  private val ndcgCum: Seq[Long] = ndcgW.scanLeft(0L)(_ + _).tail

  // shared by q_ann_ivf2 and q_ann_ivf_stored (the stored index is
  // result-transparent: same codebook, same probes, same tie-break)
  private val ivf2Oracle =
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
  private def pqRound(prev: String, aN: String, mN: String, fN: String,
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

  // IVF-PQ: coarse k-means chain → per-vector residuals → 2 trained
  // PQ rounds on residuals → probe-2 ADC serving. Shared by the
  // in-memory and stored-index queries (storage is result-transparent).
  private val ivfpqOracle =
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

  private val ivfpqOracleTop5 =
    s"""$ivfpqOracle
         SELECT qid, cid, adc, rnk FROM r WHERE rnk <= 5"""

  // refine funnel: ADC top-20 shortlist, exact cosine re-rank to 5
  private val ivfpqRefinedOracle =
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
  private[graft] def ivfPqFixture(s: SparkSession, dir: String)
      : (Array[Array[Double]], String) =
    memoFixture("ivfpq_index", dir) { path =>
      freshFixtureDir(path)
      freshFixtureDir(path + "_cb")
      val (cent, cb, enc) = Similarity.buildIvfPqIndex(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      graft.sources.GraftSink.writePartitioned(enc, path, Seq("cell"))
      cb.coalesce(1).write.mode("overwrite").parquet(path + "_cb")
      (cent, path)
    }

  val all: Seq[QuerySpec] = Seq(
    // SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings, then
    // near-dup only WITHIN clusters — pair work confined to cells
    QuerySpec("q_sem_dedup", (s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, ncells = 8, iters = 2),
      s"""WITH $kmeansChain,
           pairs AS (SELECT b.vec_id AS id_b, MIN(a.vec_id) AS dup_of
                     FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
                     JOIN dv ae ON ae.vec_id = a.vec_id
                     JOIN dv be ON be.vec_id = b.vec_id
                     WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3
                     GROUP BY b.vec_id)
           SELECT c.vec_id, c.cell, p.dup_of, p.dup_of IS NULL AS keep
           FROM cc c LEFT JOIN pairs p ON c.vec_id = p.id_b"""),

    // ----- ColBERT MaxSim late interaction: an 8-token multi-vector
    // query scores each "document" (= label group, queries excluded) by
    // Σ_qtok max_dtok cos, quantized to BIGINT before max/sum — exact
    // integer scores; see Similarity.maxSim for the serving funnel at
    // corpus scale. -----
    QuerySpec("q_colbert_maxsim", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.maxSim(emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") >= 8), "label", "embedding", "vec_id")
        .orderBy(col("maxsim_q").desc, col("doc"))
    },
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
           FROM m GROUP BY doc"""),

    // ----- similarity search over embeddings -----
    QuerySpec("q_ann_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    },
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           scored AS (SELECT qid, cid, ${duckCosine("qv", "cv")} AS cosine
                      FROM q CROSS JOIN c WHERE qid <> cid),
           r AS (SELECT qid, cid, cosine,
                        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
                 FROM scored)
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 5"""),

    QuerySpec("q_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    },
      s"""WITH s AS (SELECT vec_id, embedding, ${duckSimSig("embedding", 8, 64)} AS sig FROM embeddings),
           scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                             ${duckCosine("q.embedding", "c.embedding")} AS cosine
                      FROM s q JOIN s c ON q.sig = c.sig AND q.vec_id <> c.vec_id
                      WHERE q.vec_id < 10),
           r AS (SELECT qid, cid, cosine,
                        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS "rank"
                 FROM scored)
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 3"""),

    QuerySpec("q_ann_lsh_multiprobe", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshMultiProbeTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    },
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
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 3"""),

    QuerySpec("q_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    },
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
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 3"""),

    // learned k-means codebook (2 Lloyd iterations, deterministic init)
    // with nprobe=2 multi-cell probing
    QuerySpec("q_ann_ivf2", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfKmeansTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, ncells = 8, iters = 2, nprobe = 2)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    },
      ivf2Oracle),

    // ----- STORED IVF index: build the learned-codebook index ONCE,
    // write it partitioned by cell, then serve the query batch against
    // the stored layout — probing nprobe cells touches only those
    // partitions (partition pruning), and later batches skip the
    // clustering pass entirely. Same results as q_ann_ivf2 (storage is
    // transparent), so it shares that oracle. -----
    QuerySpec("q_ann_ivf_stored", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = fixturePath("ivf_index", dir)
      val (cent, assigned) = Similarity.buildIvfIndex(
        emb, "vec_id", "embedding", ncells = 8, iters = 2)
      graft.sources.GraftSink.writePartitioned(assigned, path, Seq("cell"))
      Similarity.ivfStoredTopK(s.read.parquet(path), cent,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nprobe = 2)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    },
      // the stored index round-trips the same assignments through
      // parquet; results are identical by construction
      ivf2Oracle),

    // ----- product-quantization ANN: vectors compress to m=8 4-bit
    // codes; ADC scores the RAW query against candidate codes without
    // decompressing them — the memory-bound scale path (a 64-float
    // vector becomes 8 small ints; the candidate side never ships
    // floats). Deterministic pseudo-codebook; all distance math is
    // fixed-fold-order doubles, so the oracle is exact -----
    QuerySpec("q_ann_pq", (s, dir) => {
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
    },
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
           SELECT qid, cid, adc, rnk FROM r WHERE rnk <= 5"""),

    // ----- PQ-ADC with a TRAINED codebook: same encode/ADC path as
    // q_ann_pq, but the book is per-subspace Lloyd's (2 rounds) seeded
    // from the same deterministic sample — the plan you'd actually run
    // (OperatorSpec proves the recall improvement over the raw sample)
    QuerySpec("q_ann_pq2", (s, dir) => {
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
    },
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
           SELECT qid, cid, adc, rnk FROM r WHERE rnk <= 5"""),

    // ----- IVF-PQ composite (the FAISS IVFPQ architecture): coarse
    // k-means cells + PQ over residuals — queries probe 2 cells and
    // ADC-score their per-cell residual against candidate codes. The
    // index is (cell, 8 codes) per vector: no floats ship, and ADC work
    // is confined to ~nprobe/ncells of the corpus -----
    QuerySpec("q_ann_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    },
      ivfpqOracleTop5),

    // ----- IVF-PQ + REFINE (the FAISS rerank funnel): the compressed
    // index nominates 20 ADC candidates per query; exact cosine over
    // ONLY those 20 fetched vectors produces the final top-5 — the
    // two-stage production serving architecture -----
    QuerySpec("q_ann_ivfpq_refined", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (cent, path) = ivfPqFixture(s, dir)
      Similarity.ivfPqRefineStoredTopK(s.read.parquet(path),
        s.read.parquet(path + "_cb"), cent, emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, rerank = 20)
    },
      ivfpqRefinedOracle),

    // ----- ANN quality self-evaluation (the q_lsh_quality twin for the
    // ANN stack): recall@5 of the compressed IVF-PQ path against the
    // exact brute-force truth, as exact integer counts + one division —
    // the readout that decides nprobe/m/ks before a rollout -----
    QuerySpec("q_ann_recall_report", (s, dir) => {
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
    },
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
           FROM hit"""),

    // ----- MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019): each
    // src vector's best tgt match by RATIO MARGIN (cosine over the mean
    // of both sides' k-NN cosines — cancels hubness; margin > 1 =
    // closer than a typical neighbor). Quantized-int k-NN sums, one
    // guarded division; the pair generator is the bounded brute-force
    // baseline — at corpus scale it swaps for the IVF-PQ shortlist. -----
    QuerySpec("q_bitext_margin", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMargin(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0 && col("vec_id") < 100,
        col("vec_id") % 2 === 1)
    },
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
           SELECT src_id, tgt_id, margin FROM r WHERE rk = 1"""),

    // ----- STORED IVF-PQ index: write the (cell, codes) encoding
    // partitioned by cell + the 1-row codebook parquet, then serve the
    // query batch from disk — partition-pruned reads, a float-free
    // index, and no re-training. Result-identical to q_ann_ivfpq
    // (shares its oracle) -----
    QuerySpec("q_ann_ivfpq_stored", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (cent, path) = ivfPqFixture(s, dir)
      Similarity.ivfPqStoredTopK(s.read.parquet(path),
        s.read.parquet(path + "_cb"), cent,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    },
      // the stored index round-trips (cell, codes) + the codebook row
      // through parquet; results are identical by construction
      ivfpqOracleTop5),

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
    QuerySpec("q_ann_ivfpq_versioned", (s, dir) => {
      import graft.sources.VersionedTable
      val emb = t(s, dir, "embeddings")
      val path = fixturePath("ivfpq_vtab", dir)
      val cbPath = fixturePath("ivfpq_vtab_cb", dir)
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
    },
      // the versioned two-step serve is result-identical by the pin
      // contract: decoys land in vN+1, both batches read vN
      ivfpqOracleTop5),

    // ----- HARD-NEGATIVE mining for contrastive training: per query,
    // the top-k most-similar candidates with a DIFFERENT label — the
    // negatives that actually move a contrastive loss. Same broadcast
    // queries x candidate scan shape as brute-force ANN (guarded small
    // query side); the label filter prunes inside the scan -----
    QuerySpec("q_hard_negatives", (s, dir) => {
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
    },
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
           SELECT qid, cid, cosine, "rank" FROM r WHERE "rank" <= 5"""),

    // ----- per-dimension embedding statistics (vector-column profiling).
    // Sums are quantized with floor() into exact 64-bit integer space
    // (1e-6 for values, 1e-12 for squares) — floor has NO halfway case,
    // unlike a decimal cast, whose round-half ties on float-derived
    // doubles resolve differently across engines (HALF_UP vs half-even);
    // integer sums are then order-independent and bit-exact. -----
    // ----- label probe: per-label centroids + nearest-centroid
    // confusion matrix — the embedding-separability gate (one
    // aggregation for centroids, one broadcast classify scan) -----
    QuerySpec("q_label_probe", (s, dir) =>
      Similarity.labelProbe(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label"),
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
           GROUP BY 1, 2"""),

    QuerySpec("q_embedding_stats", (s, dir) =>
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
          expr("sqrt(greatest(mean_sq - mean * mean, 0D))")),
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
           FROM s"""),

    // ----- EMBEDDING NORM OUTLIERS: the broken-vector detector (zeroed,
    // truncated, or exploding embeddings corrupt every cosine downstream)
    // — L2 norm per vector as a fixed-order fold quantized to BIGINT,
    // flagged against fixed sanity bounds; the 5 smallest and 5 largest
    // norms surface for inspection. One narrow scan + a top-k. -----
    QuerySpec("q_emb_norms", (s, dir) => {
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
    },
      {
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
      }),

    // ----- JOHNSON-LINDENSTRAUSS sparse-sign projection: compress the
    // 64-dim embedding to 16 dims with a ±1 matrix drawn from the fixed
    // polyHash family — quantized integer arithmetic end to end, so the
    // projection is engine-exact (the rare JL construction an exact
    // oracle can check). A pure narrow map: no shuffle, no state, and
    // at 100 TB it runs inside the scan stage. The learned-basis
    // alternative is pcaProject; this one needs no training pass. -----
    QuerySpec("q_jl_projection", (s, dir) => {
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
    },
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
           FROM e"""),

    // ----- MRR@10 offline retrieval eval — the first-relevant-rank
    // companion to q_retrieval_ndcg (same brute-force ranking arm, same
    // label-match relevance): reciprocal ranks as fixed-point ppm
    // literals (floor(1e6/r)), so the score is engine-exact integer
    // arithmetic; queries with no relevant hit in the top 10 score 0. -----
    QuerySpec("q_retrieval_mrr", (s, dir) => {
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
    },
      {
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
      }),

    QuerySpec("q_bm25", (s, dir) => {
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
    },
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
           WHERE rn <= 5"""),

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
    QuerySpec("q_retrieval_ndcg", (s, dir) => {
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
    },
      {
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
      }),

    QuerySpec("q_hybrid_rrf", (s, dir) => {
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
    },
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
           WHERE rn <= 15"""),

    // ----- INT8 QUANTIZATION of embeddings: per-vector absmax scale,
    // floor-quantized codes, and the exact reconstruction MAE — the
    // compression step a serving/index build runs before shipping
    // vectors. floor() (not round()) because half-way rounding differs
    // between engines; every per-row fold is fixed left-to-right, and
    // nothing aggregates floats ACROSS rows -----
    QuerySpec("q_quantize_int8", (s, dir) => {
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
    },
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
           FROM q"""),

    // ----- MATRYOSHKA-TRUNCATION recall: search quality if only the
    // first 16 of 64 embedding dims are indexed (MRL-style truncation —
    // 4× less index memory and ADC work). Per query: |top-5 on 16 dims
    // ∩ top-5 on full dims| — the dimension-budget sizing readout next
    // to q_ann_recall_report's nprobe/m one. -----
    QuerySpec("q_ann_matryoshka", (s, dir) => {
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
    },
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
           FROM nt LEFT JOIN nh ON nt.qid = nh.qid"""),

    // ----- SEMANTIC DECONTAMINATION: corpus vectors whose nearest
    // benchmark vector exceeds a cosine threshold — the embedding-level
    // complement of q_decontaminate's n-gram overlap (catches
    // paraphrased benchmark leakage n-grams miss). Benchmark side is
    // broadcast-sized; corpus side streams through one scan. -----
    QuerySpec("q_contam_embedding", (s, dir) => {
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
    },
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
           SELECT vec_id, bench_id, cosine FROM hits WHERE rn = 1""")
  )
}

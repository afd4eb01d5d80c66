package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions
import graft.functions.XFormulas._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design: `bruteForceTopK` broadcasts the (small) query set and
  * scans candidates once — the right plan when queries ≪ candidates;
  * cost is O(|queries| × |candidates|) dot products with NO shuffle of
  * the candidate table (ranking shuffles only the per-partition top-k
  * survivors after a partial sort). `lshTopK` is the scale path: a
  * random-hyperplane signature bucket join probes only matching buckets,
  * trading recall for a candidate set that shrinks ~2^nbits-fold.
  */
object Similarity {

  /** Exact top-k neighbors per query by cosine, ties broken by id.
    *
    * GUARD: the plan is O(|queries| × |candidates|) — correct only for
    * small query sets. The query side is counted eagerly (one cheap job
    * over the side that must be broadcast-sized anyway) and the call
    * fails fast above `maxQueries` instead of silently launching a
    * quadratic job; callers with large query sets should use [[lshTopK]]
    * or [[ivfTopK]], whose candidate work is divided by the bucket count
    * (auto-routing is deliberately NOT done — those paths are
    * approximate, and silently degrading exact results would be a
    * correctness surprise). */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxQueries: Long = 100000L): DataFrame = {
    val nq = queries.count()
    require(nq <= maxQueries,
      s"bruteForceTopK: $nq queries exceeds maxQueries=$maxQueries; " +
        "the crossJoin plan is quadratic — use lshTopK or ivfTopK for " +
        "large query sets, or raise maxQueries explicitly")
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val c = candidates.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val scored = q.crossJoin(c).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019): score every
    * (src, tgt) candidate pair by the RATIO MARGIN — cosine divided by
    * the mean of both sides' k-NN cosines — and keep each src vector's
    * best tgt. The margin criterion is what makes mined parallel pairs
    * usable as training data: absolute cosine has hubness (some vectors
    * are everyone's neighbor); dividing by the local neighborhood
    * density cancels it. Returned margin > 1 means "closer than either
    * side's typical neighbor".
    *
    * Determinism: cosines are fixed-fold doubles quantized to
    * `round(1e9·cos)` BIGINT BEFORE any aggregation; both k-NN means
    * are BIGINT sums of those ints (margin = 2k·qc / (sx+sy), one
    * guarded IEEE division) — engine- and partition-exact.
    *
    * GUARD + scale: the scorer here is the brute-force pair generator
    * (O(|src|·|tgt|), [[bruteForceTopK]]'s fail-fast applies — src is
    * the broadcast-sized query batch); at corpus scale swap the pair
    * generator for the IVF-PQ shortlist ([[ivfPqTopK]]) and keep the
    * margin stage unchanged — it only ever sees k·|src| candidate rows.
    * The tgt-side k-NN mean is computed over the scored pair set (the
    * retrieval-set variant), so it prices tgt hubness exactly where it
    * bites: against this query batch. */
  def bitextMargin(vectors: DataFrame, idCol: String, vecCol: String,
      srcPred: org.apache.spark.sql.Column,
      tgtPred: org.apache.spark.sql.Column, k: Int = 4,
      maxQueries: Long = 100000L): DataFrame = {
    val src = vectors.filter(srcPred)
      .select(col(idCol).as("src_id"), col(vecCol).as("sv"))
    val nq = src.count()
    require(nq <= maxQueries,
      s"bitextMargin: $nq src vectors exceeds maxQueries=$maxQueries; " +
        "swap the brute-force pair generator for an ANN shortlist")
    val tgt = vectors.filter(tgtPred)
      .select(col(idCol).as("tgt_id"), col(vecCol).as("tv"))
    // persist: the scored pairs feed both k-NN sums AND the margin join
    val scored = Dedup.persistTracked(
      broadcast(src).crossJoin(tgt)
        .select(col("src_id"), col("tgt_id"),
          round(GraftFunctions.cosineSim(col("sv"), col("tv")) *
            lit(1000000000.0)).cast("long").as("qc")))
    val wS = Window.partitionBy("src_id")
      .orderBy(col("qc").desc, col("tgt_id"))
    val wT = Window.partitionBy("tgt_id")
      .orderBy(col("qc").desc, col("src_id"))
    val sx = scored.withColumn("r", row_number().over(wS))
      .filter(col("r") <= k).groupBy("src_id").agg(sum("qc").as("sx"))
    val sy = scored.withColumn("r", row_number().over(wT))
      .filter(col("r") <= k).groupBy("tgt_id").agg(sum("qc").as("sy"))
    scored.join(broadcast(sx), "src_id").join(broadcast(sy), "tgt_id")
      .withColumn("margin", expr(
        s"CAST(${2 * k} * qc AS DOUBLE) / nullif(CAST(sx + sy AS DOUBLE), 0D)"))
      .withColumn("rk", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("margin").desc, col("tgt_id"))))
      .filter(col("rk") === 1)
      .select(col("src_id"), col("tgt_id"), col("margin"))
  }

  /** ColBERT-style LATE-INTERACTION scoring (MaxSim; Khattab & Zaharia,
    * SIGIR 2020): a multi-vector query scores a multi-vector document as
    * Σ over query tokens of (max over doc tokens of cosine) — token-level
    * soft matching without cross-attention, the serving architecture
    * where a document ships k small vectors instead of one pooled one.
    *
    * Determinism: every (qtok, dtok) cosine is quantized to
    * `round(1e9·cos)` BIGINT BEFORE the max and the sum (the
    * [[bitextMargin]] discipline), so the document score is exact
    * integer arithmetic — engine- and partitioning-identical.
    *
    * Scale: the query token set is broadcast (guarded); doc tokens
    * stream through ONE scan; then two grid-sized aggregations
    * ((docs × qtoks) then docs). At corpus scale swap the broadcast
    * cross for the IVF-PQ shortlist per query token and MaxSim only the
    * shortlisted docs — the standard ColBERT serving funnel. */
  def maxSim(queryToks: DataFrame, docToks: DataFrame, docCol: String,
      vecCol: String, qIdCol: String,
      maxQueryToks: Long = 1024L): DataFrame = {
    val nq = queryToks.count()
    require(nq <= maxQueryToks,
      s"maxSim: $nq query tokens exceeds maxQueryToks=$maxQueryToks; " +
        "shortlist docs per token first (IVF-PQ), then rescore")
    val q = broadcast(queryToks
      .select(col(qIdCol).as("qtok"), col(vecCol).as("qv")))
    docToks.select(col(docCol).as("doc"), col(vecCol).as("dv"))
      .crossJoin(q)
      .select(col("qtok"), col("doc"),
        round(GraftFunctions.cosineSim(col("qv"), col("dv")) *
          lit(1000000000.0)).cast("long").as("qc"))
      .groupBy(col("doc"), col("qtok")).agg(max(col("qc")).as("m"))
      .groupBy(col("doc"))
      .agg(sum(col("m")).as("maxsim_q"), count(lit(1)).as("n_qtoks"))
  }

  /** IVF-style approximate top-k: both sides are assigned to the
    * argmax-dot cell of a fixed coarse-quantizer codebook (deterministic
    * pseudo-centroids; a production build would k-means them), and each
    * query probes ONLY its own cell (nprobe = 1). Versus LSH banding the
    * candidate partition is data-adaptive: cells follow the vector
    * distribution, so at 100 TB the per-query probe cost is ~|candidates|
    * / ncells with one equi-join shuffle on the cell id — and skewed
    * (hot) cells are visible to AQE's skew-join splitting as ordinary
    * join-key skew. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, ncells: Int = 16): DataFrame = {
    def cell(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        GraftFunctions.ivfCell(col(vecCol), ncells).as("cell"))
    val q = broadcast(cell(queries, "qid", "qv"))
    val c = cell(candidates, "cid", "cv")
    val scored = q.join(c, "cell").filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Lloyd's k-means coarse-quantizer codebook over a vector column.
    *
    * Each iteration is one distributed pass: assign every vector to its
    * nearest centroid (squared-L2, per-row HOF fold over a broadcast
    * centroid literal — no join, no shuffle), then recompute centroids
    * as per-(cell, position) means in a single partial/final aggregation.
    * Only the ncells × dim codebook itself ever reaches the driver
    * (standard k-means-on-Spark shape — the data never does), so the
    * loop is iters × one-aggregation regardless of corpus size.
    *
    * Determinism contract (for the DuckDB oracle): init = the vectors of
    * the `ncells` lowest ids; assignment ties break to the lowest cell;
    * the mean uses floor-quantized 1e-12 BIGINT sums (floor has no
    * halfway case and long addition is order-independent), so the
    * centroid VALUES are bit-identical across partitionings AND engines
    * — required because [[ivfPqTopK]] feeds them into residuals and ADC
    * output, where a DECIMAL(28,14) cast is not enough (double→decimal
    * rounding differs between engines; that sufficed only while
    * centroids drove cell assignment alone). Cells left empty by an
    * iteration keep their previous centroid. */
  def kmeansCodebook(vectors: DataFrame, idCol: String, vecCol: String,
      ncells: Int = 8, iters: Int = 2): Array[Array[Double]] = {
    // persist: every Lloyd iteration (init + assignments) re-reads the
    // widened vectors; without the barrier each iteration re-scans the
    // source. Freed by the caller's Dedup.scoped or releaseAll.
    val v = Dedup.persistTracked(vectors.select(col(idCol).as("vid"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("dv")))
    var cent: Array[Array[Double]] = v.orderBy("vid").limit(ncells)
      .select("dv").collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to iters) {
      val assigned = v.select(col("vid"), col("dv"),
        nearestCell(col("dv"), cent).as("cell"))
      val updated = assigned
        .select(col("cell"), posexplode(col("dv")).as(Seq("pos", "val")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(expr("CAST(floor(val * 1e12) AS BIGINT)")).cast("double") /
          count(lit(1)) / lit(1e12)).as("cv"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cv"))))
          .as("pcs"))
        .collect()
      val next = cent.map(_.clone())
      updated.foreach { row =>
        val cell = row.getLong(0).toInt
        next(cell) = row.getSeq[org.apache.spark.sql.Row](1)
          .map(_.getDouble(1)).toArray
      }
      cent = next
    }
    cent
  }

  /** Squared-L2 distances from a double-vector column to each centroid of
    * a codebook literal, in cell order. */
  private def centroidDists(dv: Column,
      cent: Array[Array[Double]]): Column =
    transform(typedLit(cent.map(_.toSeq).toSeq),
      c => aggregate(zip_with(c, dv, (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, d) => s + d))

  /** 0-based nearest-centroid cell, ties to the lowest cell (matches the
    * oracle's ORDER BY dist, cell). Computed by the native [[PqCodes]]
    * expression with ONE subspace spanning the full dimension — k-means
    * assignment IS product quantization with m=1 — which is bit-identical
    * to the `array_position(d, array_min(d)) - 1` HOF form (same squared
    * accumulation order, same first-minimum tie-break) at a fraction of
    * the per-row lambda cost. This is the per-vector hot loop of every
    * Lloyd iteration and of corpus cell assignment. */
  private def nearestCell(dv: Column, cent: Array[Array[Double]]): Column =
    element_at(GraftFunctions.pqCodes(dv,
      typedLit(cent.map(_.toSeq).toSeq), 1, cent.length, cent(0).length), 1)

  /** IVF top-k over a LEARNED k-means codebook with multi-cell probing:
    * candidates are bucketed by their nearest centroid; each query probes
    * its `nprobe` nearest cells. Versus [[ivfTopK]]'s fixed
    * pseudo-centroids the codebook follows the actual vector
    * distribution (balanced cells, data-adaptive recall), and nprobe > 1
    * recovers neighbors that fall just across a cell boundary —
    * per-query cost is ~nprobe/ncells of the corpus with one equi-join
    * shuffle on the cell id; hot cells remain ordinary join-key skew for
    * AQE. A candidate belongs to exactly one cell, so multi-probe never
    * duplicates a (query, candidate) pair. */
  def ivfKmeansTopK(candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, ncells: Int = 8,
      iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val cent = kmeansCodebook(candidates, idCol, vecCol, ncells, iters)
    val dv = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    val c = candidates.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      nearestCell(dv, cent).as("cell"))
    probeJoinTopK(c, queries, idCol, vecCol, cent, k, nprobe)
  }

  /** The query side of IVF: probe each query's `nprobe` nearest cells
    * against a (cid, cv, cell) candidate frame. Shared by the in-memory
    * and stored-index paths — storage must be transparent to results. */
  private def probeJoinTopK(c: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cent: Array[Array[Double]],
      k: Int, nprobe: Int): DataFrame = {
    val ncells = cent.length
    val dv = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    val probed = {
      val d = centroidDists(dv, cent)
      // sort (dist, cell) structs lexicographically, keep nprobe cells
      val ranked = array_sort(zip_with(d,
        sequence(lit(0L), lit(ncells - 1L)),
        (dist, cell) => struct(dist.as("d"), cell.as("i"))))
      transform(slice(ranked, 1, nprobe), s => s.getField("i"))
    }
    val q = broadcast(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        probed.as("cells")))
      .withColumn("cell", explode(col("cells"))).drop("cells")
    val scored = q.join(c, "cell").filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Build a PERSISTABLE IVF index: the learned codebook plus the cell
    * assignment of every candidate. Write the assignments partitioned BY
    * CELL (`GraftSink.writePartitioned(assigned, path, Seq("cell"))`):
    * a query batch probing `nprobe` cells then touches only those
    * partitions — ~nprobe/ncells of the index BYTES via partition
    * pruning/DPP, the on-disk analogue of the in-memory cell join. The
    * returned codebook lets later query batches compute probe cells
    * without re-reading (or re-clustering) the corpus — build once,
    * query many, the 100 TB serving contract (the ANN twin of the
    * stored LSH base index in `Dedup.ingestAgainstIndex`). */
  def buildIvfIndex(candidates: DataFrame, idCol: String, vecCol: String,
      ncells: Int = 8, iters: Int = 2): (Array[Array[Double]], DataFrame) = {
    val cent = kmeansCodebook(candidates, idCol, vecCol, ncells, iters)
    val dv = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    (cent, candidates.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      nearestCell(dv, cent).as("cell")))
  }

  /** Query a stored IVF index read back from its partitioned layout with
    * the build-time codebook. Results are EXACTLY [[ivfKmeansTopK]]'s
    * (same probe rule, same scoring, same tie-break) — the parquet
    * round-trip only changes where the candidate bytes come from. The
    * partition column comes back as the directory-inferred integer type,
    * so it is re-cast to the long the probe join expects. */
  def ivfStoredTopK(index: DataFrame, cent: Array[Array[Double]],
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2): DataFrame = {
    val c = index.select(col("cid"), col("cv"),
      col("cell").cast("long").as("cell"))
    probeJoinTopK(c, queries, idCol, vecCol, cent, k, nprobe)
  }

  /** SemDeDup (Abbas et al. 2023): SEMANTIC dedup over embeddings —
    * k-means-cluster the corpus, then within each cluster mark every
    * vector that has a lower-id neighbor above the cosine threshold as a
    * duplicate of its LOWEST such neighbor. Near-dup detection never
    * crosses cluster boundaries, so the quadratic verify is confined to
    * per-cluster blocks: with balanced cells the pair work is
    * n²/ncells — ncells grows with the corpus (√n cells keeps per-cell
    * work flat), and hot cells are ordinary join-key skew for AQE. The
    * cluster pass reuses [[kmeansCodebook]] (one aggregation per Lloyd
    * round; only the codebook reaches the driver).
    *
    * Returns one row per vector: (id, cell, dup_of, keep) where dup_of
    * is the lowest near-duplicate id below it in its cell (NULL when
    * none) and keep = dup_of IS NULL. */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, ncells: Int = 8, iters: Int = 2): DataFrame = {
    val cent = kmeansCodebook(vectors, idCol, vecCol, ncells, iters)
    val dv = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    // persist: the assignment feeds both sides of the within-cell
    // self-join — see the recompute note on Dedup.minhashCandidates
    val assigned = Dedup.persistTracked(vectors.select(
      col(idCol).as("vid"), col(vecCol).as("vv"),
      nearestCell(dv, cent).as("cell")))
    val pairs = assigned
      .select(col("vid").as("id_a"), col("vv").as("v_a"), col("cell"))
      .join(assigned.select(col("vid").as("id_b"), col("vv").as("v_b"),
        col("cell")), "cell")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"),
        when(GraftFunctions.cosineSim(col("v_a"), col("v_b")) >= threshold,
          col("id_a")).as("near"))
      .filter(col("near").isNotNull)
      .groupBy(col("id_b")).agg(min(col("near")).as("dup_of"))
    // shuffle_hash on the dup-assignment side (opt guide §3.1): it is
    // the near-duplicate FRACTION of the corpus (id pairs only, 16
    // bytes/row), so a per-partition hash build is bounded at any
    // scale, while the estimate-driven sort-merge sorted the full
    // assignment side to probe it
    assigned
      .join(pairs.hint("shuffle_hash"), col("vid") === col("id_b"),
        "left")
      .select(col("vid").as(idCol), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** MULTI-PROBE LSH top-k: each query probes its own signature AND all
    * `nbits` Hamming-1 neighbor signatures — the standard multi-probe
    * trick that recovers neighbors lost to a single flipped hyperplane
    * bit. Candidate work is (nbits+1)/2^nbits of the corpus instead of
    * 1/2^nbits; recall strictly dominates single-probe [[lshTopK]]
    * (probe sets are supersets; OperatorSpec measures both). Each
    * candidate still owns exactly ONE signature, so multi-probe never
    * duplicates a (query, candidate) pair. */
  def lshMultiProbeTopK(candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nbits: Int = 8,
      dim: Int = 64): DataFrame = {
    def sig(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        GraftFunctions.simSig(col(vecCol), nbits).as("sig0"))
    val q = broadcast(sig(queries, "qid", "qv")
      .withColumn("sig", explode(expr(
        s"array_union(array(sig0), transform(sequence(0L, ${nbits - 1}L), " +
          "b -> sig0 ^ shiftleft(1L, cast(b AS int))))")))
      .drop("sig0"))
    val c = sig(candidates, "cid", "cv").withColumnRenamed("sig0", "sig")
    val scored = q.join(c, "sig").filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** PQ codebook TRAINED with per-subspace Lloyd's, entirely as
    * DataFrame transforms: the `m` independent k-means problems are
    * batched into ONE aggregation per iteration, and the codebook never
    * reaches the driver — each round produces a new 1-row frame that
    * broadcasts into the next assignment pass (vs [[kmeansCodebook]],
    * which collects the centroids; here even that is avoided).
    *
    * Layout contract: the returned row's `cb` column is `ks` full-dim
    * vectors where slice `j` of `cb(c)` is subspace j's c-th centroid —
    * exactly the layout `XFormulas.sparkPqCodes`/`sparkPqAdc` already
    * slice, so a trained book drops into the untrained encode/ADC path
    * unchanged.
    *
    * Determinism contract (DuckDB-oracle parity): init = the vectors
    * selected by `seedFilter` in id order; assignment ties break to the
    * lowest code (first-minimum array_position); centroid means use
    * floor-quantized 1e-12 integer sums (floor has no halfway case and
    * long addition is order-independent, so the mean is bit-identical
    * under any partitioning — a DECIMAL(28,14) cast is NOT enough here
    * because double→decimal rounding differs between engines, and
    * unlike [[kmeansCodebook]] these centroid values feed the OUTPUT
    * via ADC, not just cell assignment); codes no vector chose keep the
    * previous codeword. The 1e12 scale bounds |v|·n at ~9e18: fine for
    * any per-cell count the oracle runs; at extreme scale drop to 1e9.
    *
    * 100 TB note: per iteration this is one corpus scan + one partial/
    * final aggregation of (m × ks × dim) cells — the classic
    * k-means-on-Spark shape; nothing corpus-sized shuffles. Callers
    * should pass a persisted `emb` projection (every iteration re-reads
    * it). */
  def pqTrainCodebook(emb: DataFrame, idCol: String, vecCol: String,
      seedFilter: String, m: Int = 8, ks: Int = 16, sd: Int = 8,
      iters: Int = 2): DataFrame = {
    val dim = m * sd
    val v = emb.selectExpr(s"$idCol AS vid",
      s"transform($vecCol, x -> CAST(x AS DOUBLE)) AS dv")
    var cb = emb.filter(expr(seedFilter))
      .selectExpr(s"$idCol AS vid",
        s"transform($vecCol, x -> CAST(x AS DOUBLE)) AS dv")
      .agg(expr("transform(array_sort(collect_list(struct(vid, dv))), " +
        "s -> s.dv)").as("cb"))
    for (_ <- 1 to iters) {
      // native codegen'd encode — bit-identical to the sparkPqCodes HOF
      // (HashExpressionsSpec pins it), ~m·ks·sd lambda calls per row
      // collapsed into one flat loop
      val assigned = v.crossJoin(broadcast(cb))
        .select(col("dv"), GraftFunctions
          .pqCodes(col("dv"), col("cb"), m, ks, sd).as("codes"))
      val means = assigned
        .select(explode(expr(
          s"transform(sequence(0, ${m - 1}), j -> struct(j AS j, " +
            "element_at(codes, CAST(j + 1 AS INT)) AS c, " +
            s"slice(dv, CAST(j * $sd + 1 AS INT), $sd) AS sv))")).as("e"))
        .select(col("e.j"), col("e.c"), posexplode(col("e.sv")).as(Seq("p", "v")))
        .groupBy(col("j"), col("c"), col("p"))
        .agg((sum(expr("CAST(floor(v * 1e12) AS BIGINT)")).cast("double") /
          count(lit(1)) / lit(1e12)).as("cv"))
      // fold the (subspace, code, dim) means into one lookup map and
      // rebuild the book; a missing key = an empty cell, keep previous
      val mrow = means
        .select((col("c") * dim + col("j") * sd + col("p")).cast("long")
          .as("k"), col("cv"))
        .agg(expr("map_from_entries(collect_list(struct(k, cv)))").as("mm"))
      cb = cb.crossJoin(broadcast(mrow))
        .selectExpr(
          s"transform(sequence(0, ${ks - 1}), c -> " +
            s"transform(sequence(0, ${dim - 1}), gp -> " +
            s"coalesce(element_at(mm, CAST(c * $dim + gp AS BIGINT)), " +
            "element_at(element_at(cb, CAST(c + 1 AS INT)), " +
            "CAST(gp + 1 AS INT))))) AS cb")
    }
    cb
  }

  /** IVF-PQ composite ANN (the FAISS IVFPQ architecture): a coarse
    * k-means quantizer routes vectors to cells, and product quantization
    * encodes each vector's RESIDUAL (vector minus its cell centroid) as
    * `m` sub-codes. Queries probe their `nprobe` nearest cells and ADC-
    * score their per-cell residual against candidate codes — since
    * ||q - (centroid + decode(codes))||² = ||q_residual - decode(codes)||²,
    * the flat-PQ ADC applies to residuals unchanged. Residuals cluster
    * far tighter than raw vectors, so the same code budget quantizes
    * finer than flat PQ, and the probe confines ADC work to
    * ~nprobe/ncells of the corpus.
    *
    * 100 TB serving shape: the index is (cell, m byte-codes) per vector —
    * candidates never ship floats; the only corpus-sized exchanges are
    * the cell equi-join (skew visible to AQE) and the per-query top-k.
    * Both training loops keep corpus work to one aggregation per round.
    *
    * Determinism contract: the coarse book inherits [[kmeansCodebook]]'s
    * decimal-mean contract and the residual book [[pqTrainCodebook]]'s
    * floor-quantized-mean contract; residual subtraction is exact IEEE
    * double arithmetic in index order — every stage is bit-reproducible
    * against the DuckDB oracle. */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, ncells: Int = 8, kmIters: Int = 2,
      nprobe: Int = 2, m: Int = 8, ks: Int = 16, sd: Int = 8,
      seedFilter: String = "vid % 31 = 0 AND vid < 496"): DataFrame = {
    val (cent, cb, enc) = buildIvfPqIndex(candidates, idCol, vecCol,
      ncells, kmIters, m, ks, sd, seedFilter)
    ivfPqServe(enc, cb, cent, queries, idCol, vecCol, k, nprobe, m, sd)
  }

  /** Build a PERSISTABLE IVF-PQ index: the coarse codebook, the trained
    * residual PQ codebook (a 1-row frame), and the per-vector
    * (cid, cell, codes) encoding. Write the encoding partitioned BY CELL
    * and the codebook row alongside it — query batches then serve from
    * the stored layout with partition-pruned reads of ~nprobe/ncells of
    * the index bytes, and the index holds NO floats (the ANN twin of the
    * stored LSH base index; see [[buildIvfIndex]] for the uncompressed
    * variant). */
  def buildIvfPqIndex(candidates: DataFrame, idCol: String, vecCol: String,
      ncells: Int = 8, kmIters: Int = 2, m: Int = 8, ks: Int = 16,
      sd: Int = 8, seedFilter: String = "vid % 31 = 0 AND vid < 496")
      : (Array[Array[Double]], DataFrame, DataFrame) = {
    val cent = kmeansCodebook(candidates, idCol, vecCol, ncells, kmIters)
    val centLit = typedLit(cent.map(_.toSeq).toSeq)
    val dv = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    // residuals: vector minus its cell centroid, in index order.
    // persist: the frame feeds PQ training (iters passes), the encode
    // pass, and the seed scan — the multi-consumer recompute trap.
    val res = Dedup.persistTracked(candidates
      .select(col(idCol).as("vid"), dv.as("dvv"))
      .withColumn("cell", nearestCell(col("dvv"), cent))
      .withColumn("resid", zip_with(col("dvv"),
        element_at(centLit, col("cell").cast("int") + 1), (x, c) => x - c))
      .select(col("vid"), col("cell"), col("resid")))
    val cb = pqTrainCodebook(res, "vid", "resid", seedFilter, m, ks, sd)
    val enc = res.crossJoin(broadcast(cb))
      .select(col("vid").as("cid"), col("cell"),
        GraftFunctions.pqCodes(col("resid"), col("cb"), m, ks, sd)
          .as("codes"))
    (cent, cb, enc)
  }

  /** Serve a query batch against a (cid, cell, codes) IVF-PQ encoding —
    * in-memory or read back from the stored layout; results are
    * identical by construction (same probe rule, same ADC, same
    * tie-break). Queries probe their `nprobe` nearest cells; the ADC
    * query vector is the residual wrt EACH probed cell's centroid. */
  private def ivfPqServe(enc: DataFrame, cbRow: DataFrame,
      cent: Array[Array[Double]], queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int, m: Int, sd: Int): DataFrame = {
    val ncells = cent.length
    val centLit = typedLit(cent.map(_.toSeq).toSeq)
    val qdv = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    val probed = {
      val d = centroidDists(col("qdv"), cent)
      val ranked = array_sort(zip_with(d,
        sequence(lit(0L), lit(ncells - 1L)),
        (dist, cell) => struct(dist.as("d"), cell.as("i"))))
      transform(slice(ranked, 1, nprobe), s => s.getField("i"))
    }
    val q = broadcast(queries
      .select(col(idCol).as("qid"), qdv.as("qdv"))
      .withColumn("cell", explode(probed))
      .withColumn("qres", zip_with(col("qdv"),
        element_at(centLit, col("cell").cast("int") + 1), (x, c) => x - c))
      .select(col("qid"), col("cell"), col("qres")))
    val scored = q.join(enc, "cell").crossJoin(broadcast(cbRow))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), GraftFunctions
        .pqAdc(col("qres"), col("codes"), col("cb"), m, sd).as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** IVF-PQ with a REFINE stage (the FAISS refine/rerank funnel): the
    * compressed index nominates `rerank` ADC candidates per query, the
    * true vectors of ONLY those candidates are fetched back, and exact
    * cosine re-ranks them to the final top-k. This is the production
    * two-stage architecture: the corpus-sized pass touches nothing but
    * (cell, codes); exact distance work is confined to
    * |queries| × rerank rows — the refine join ships `rerank` ids per
    * query, and the candidate fetch is an equi join on the id (at
    * 100 TB: against the vector table's bucketed-by-id layout, no
    * corpus rescan beyond the pruned fetch).
    *
    * Output ranks are exact-cosine order (ties by cid) WITHIN the ADC
    * shortlist — approximation only decides membership, never order. */
  def ivfPqRefineTopK(candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, rerank: Int,
      ncells: Int = 8, kmIters: Int = 2, nprobe: Int = 2, m: Int = 8,
      ks: Int = 16, sd: Int = 8,
      seedFilter: String = "vid % 31 = 0 AND vid < 496"): DataFrame = {
    // persist: the query batch feeds the ADC nomination pass AND the
    // exact-rerank fetch — without the barrier both stages rescan it
    val qp = Dedup.persistTracked(
      queries.select(col(idCol), col(vecCol)))
    val shortlist = ivfPqTopK(candidates, qp, idCol, vecCol,
      rerank, ncells, kmIters, nprobe, m, ks, sd, seedFilter)
      .select(col("qid"), col("cid"))
    rerankExact(shortlist, candidates, qp, idCol, vecCol, k)
  }

  /** [[ivfPqRefineTopK]] served from a PREBUILT (cid, cell, codes)
    * index + codebook row + coarse centroids — the build-once /
    * serve-many form of the refine funnel. Results are identical by
    * construction: same probe rule, same ADC shortlist, same exact
    * rerank and tie-break — only where the index bytes come from
    * changes. */
  def ivfPqRefineStoredTopK(index: DataFrame, cbRow: DataFrame,
      cent: Array[Array[Double]], candidates: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      rerank: Int, nprobe: Int = 2, m: Int = 8, sd: Int = 8): DataFrame = {
    val qp = Dedup.persistTracked(
      queries.select(col(idCol), col(vecCol)))
    val shortlist = ivfPqStoredTopK(index, cbRow, cent, qp, idCol,
      vecCol, rerank, nprobe, m, sd).select(col("qid"), col("cid"))
    rerankExact(shortlist, candidates, qp, idCol, vecCol, k)
  }

  /** The exact-cosine rerank stage shared by the refine funnels: fetch
    * ONLY the shortlisted candidates' true vectors, score exactly,
    * rank within the shortlist (ties by cid). */
  private def rerankExact(shortlist: DataFrame, candidates: DataFrame,
      qp: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val cv = candidates.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val qv = broadcast(
      qp.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val exact = shortlist.join(cv, "cid").join(qv, "qid")
      .select(col("qid"), col("cid"),
        GraftFunctions.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Query a stored IVF-PQ index (the partitioned (cid, cell, codes)
    * layout plus its 1-row codebook parquet) with the build-time coarse
    * centroids. The partition column comes back as the directory-
    * inferred integer type, so it is re-cast to long. */
  def ivfPqStoredTopK(index: DataFrame, cbRow: DataFrame,
      cent: Array[Array[Double]], queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 2, m: Int = 8,
      sd: Int = 8): DataFrame =
    ivfPqServe(index.select(col("cid"), col("codes"),
      col("cell").cast("long").as("cell")), cbRow, cent, queries,
      idCol, vecCol, k, nprobe, m, sd)

  /** LABEL PROBE: per-label centroid + nearest-centroid confusion
    * matrix — the standard "are these embeddings separable" diagnostic
    * an embedding-quality gate runs before trusting vectors for
    * semantic dedup or retrieval (a degenerate/collapsed embedding
    * space shows up as an off-diagonal-heavy matrix). Returns
    * (label, pred, n).
    *
    * Scale: centroids are ONE partial/final aggregation (nlabels × dim
    * cells); classification is a broadcast of that label-count-sized
    * row against one corpus scan — no corpus-sized shuffle except the
    * final tiny confusion aggregation. Determinism: centroid means are
    * floor-quantized BIGINT sums (engine- and partition-exact, the
    * codebook contract); assignment ties break to the lowest label. */
  def labelProbe(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val dv = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    // persist: feeds the centroid aggregation AND the classify scan
    val v = Dedup.persistTracked(emb.select(col(idCol).as("vid"),
      col(labelCol).cast("long").as("lbl"), dv.as("v")))
    val cvec = v
      .select(col("lbl"), posexplode(col("v")).as(Seq("pos", "cvv")))
      .groupBy(col("lbl"), col("pos"))
      .agg((sum(expr("CAST(floor(cvv * 1e12) AS BIGINT)")).cast("double") /
        count(lit(1)) / lit(1e12)).as("cv"))
      .groupBy(col("lbl"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), " +
        "s -> s.cv)").as("c"))
    val centRow = cvec
      .agg(expr("array_sort(collect_list(struct(lbl, c)))").as("cents"))
    v.crossJoin(broadcast(centRow))
      .select(col("lbl").as("label"),
        expr("element_at(array_sort(transform(cents, ct -> struct(" +
          "aggregate(zip_with(ct.c, v, (x, y) -> (x - y) * (x - y)), " +
          "0D, (s, d) -> s + d) AS d, ct.lbl AS l))), 1).l").as("pred"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Distributed PCA, the classic two-phase shape: (1) the exact
    * quantized covariance matrix via ONE [[graft.functions.SigAgg
    * .covComponents]] aggregation pass (map-side partials, a single
    * fixed-size array reaches the driver — data-independent, the same
    * legitimate-collect contract as the k-means codebook), (2) a
    * driver-side cyclic Jacobi eigensolver on the d×d matrix (d is a
    * column-count, never a row-count). Eigenpairs come back sorted by
    * eigenvalue descending with each vector sign-canonicalized (its
    * largest-|component| entry made positive), so the basis is
    * deterministic across partitionings and reruns.
    *
    * Returns (eigenvalues length d, row-major k×d top-k basis). */
  def pcaBasis(df: DataFrame, vecCol: String, d: Int, k: Int)
      : (Array[Double], Array[Double]) = {
    require(k >= 1 && k <= d, s"k=$k must be in [1, $d]")
    val flat = df
      .agg(graft.functions.SigAgg.covComponents(d)(col(vecCol)).as("st"))
      .head.getSeq[Long](0)
    val n = flat(0).toDouble
    require(n >= 2, s"pcaBasis needs >= 2 vectors, got ${flat(0)}")
    // cov_ij = (n·dot_ij − s_i·s_j) / n² in quantized units; divide by
    // the 1e4² quantization scale to return to input units (a uniform
    // scale — eigenvectors are unchanged, eigenvalues rescaled back)
    val a = Array.ofDim[Double](d, d)
    var p = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val cov = (n * flat(p) - flat(1 + i).toDouble * flat(1 + j)) /
          (n * n) / 1e8
        a(i)(j) = cov; a(j)(i) = cov
        p += 1; j += 1
      }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(a)
    val order = vals.indices.sortBy(ix => (-vals(ix), ix))
    val topVals = order.map(vals(_)).toArray
    val mat = new Array[Double](k * d)
    var r = 0
    while (r < k) {
      val src = order(r)
      // sign canonicalization: largest-|component| entry positive
      var best = 0
      var bi = 1
      while (bi < d) {
        if (math.abs(vecs(bi)(src)) > math.abs(vecs(best)(src))) best = bi
        bi += 1
      }
      val s = if (vecs(best)(src) < 0) -1d else 1d
      var c0 = 0
      while (c0 < d) { mat(r * d + c0) = s * vecs(c0)(src); c0 += 1 }
      r += 1
    }
    (topVals, mat)
  }

  /** Cyclic Jacobi rotations on a symmetric matrix until the
    * off-diagonal mass vanishes (machine precision in ~8 sweeps for
    * d ≤ 128). Returns (eigenvalues, column eigenvectors). */
  private def jacobiEigen(a: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1d else 0d)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0d
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off = math.max(off, math.abs(a(p)(q)))
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
            val t =
              if (theta == 0d) 1d
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project the vector column onto the top-k PCA basis: the basis rides
    * the generated code as ONE referenced double[] ([[graft.functions
    * .expressions.MatVecProject]]) — a narrow map, no join, no shuffle.
    * Adds `outCol: array<double>` of length k. */
  def pcaProject(df: DataFrame, vecCol: String, d: Int, k: Int,
      outCol: String = "pc"): DataFrame = {
    val (_, mat) = pcaBasis(df, vecCol, d, k)
    df.withColumn(outCol, GraftFunctions.matVec(col(vecCol), mat, k, d))
  }

  // ------------------------------------------------------------------
  // Frozen-quantizer semantic dedup (the streaming SemGate's contract)
  // ------------------------------------------------------------------

  /** Unit-normalized DOUBLE vector of a float-vector column — the
    * cosine geometry the semantic-dedup index lives in: on unit
    * vectors, cos(a,b) ≥ t ⟺ ‖â−b̂‖² ≤ 2−2t, so a cosine threshold
    * becomes an L2 radius the PQ screen can bound. Fold order matches
    * [[graft.functions.XFormulas.duckUnitVec]] bit-for-bit. */
  def unitVec(vecCol: String): Column =
    expr(graft.functions.XFormulas.sparkUnitVec(vecCol))

  /** Centroids as a persistable (cell, c) frame (the gate commits this
    * as its frozen coarse quantizer) and back. The collect is
    * ncells-bounded — codebook-sized, never corpus-sized. */
  def centToFrame(spark: org.apache.spark.sql.SparkSession,
      cent: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cent.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cell", "c")
  }

  def centFromFrame(df: DataFrame): Array[Array[Double]] =
    df.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  /** Each vector with its FROZEN cell: (vid, vv original floats, nv
    * unit doubles, cell by nearest frozen centroid over nv). */
  private[graft] def assignFrozenCells(vectors: DataFrame, idCol: String,
      vecCol: String, cent: Array[Array[Double]]): DataFrame =
    vectors.select(col(idCol).cast("long").as("vid"),
        col(vecCol).as("vv"), unitVec(vecCol).as("nv"))
      .withColumn("cell", nearestCell(col("nv"), cent))

  /** Residual of a unit vector wrt its frozen cell centroid — what the
    * gate PQ-encodes (the IVF-PQ residual discipline, here over the
    * normalized space). */
  private[graft] def frozenResidual(nv: Column, cellCol: Column,
      cent: Array[Array[Double]]): Column =
    zip_with(nv, element_at(typedLit(cent.map(_.toSeq).toSeq),
      cellCol.cast("int") + 1), (x, c) => x - c)

  /** BATCH TRUTH of the streaming semantic-dedup gate: SemDeDup with a
    * FROZEN quantizer — every within-cell pair (id_a < id_b, cells by
    * nearest frozen centroid over the UNIT vectors) whose exact cosine
    * over the ORIGINAL vectors clears the threshold, as (id_a, id_b,
    * cosine). Unlike [[semDedup]] (which re-clusters per run), the
    * frozen quantizer makes the pair set PREFIX-MONOTONE: a vector's
    * cell never changes, so streaming a corpus through the gate in any
    * batch split accumulates exactly this operator's output — the
    * contract `SemGateSpec`/`GatePropertySpec` pin and the q_sem_gate
    * oracle replays. Production SemDeDup runs exactly this regime
    * between re-clusterings; a re-cluster opens a new gate epoch. */
  def cellPairsFrozen(vectors: DataFrame, idCol: String, vecCol: String,
      cent: Array[Array[Double]], threshold: Double): DataFrame = {
    val a = Dedup.persistTracked(
      assignFrozenCells(vectors, idCol, vecCol, cent)
        .select(col("vid"), col("vv"), col("cell")))
    a.select(col("vid").as("id_a"), col("vv").as("v_a"), col("cell"))
      .join(a.select(col("vid").as("id_b"), col("vv").as("v_b"),
        col("cell")), "cell")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosineSim(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Approximate top-k: only candidates whose LSH signature matches the
    * query's. Recall < 1; candidate work divided by ~2^nbits. */
  def lshTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nbits: Int = 8, dim: Int = 64): DataFrame = {
    def sig(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        GraftFunctions.simSig(col(vecCol), nbits).as("sig"))
    val q = broadcast(sig(queries, "qid", "qv"))
    val c = sig(candidates, "cid", "cv")
    val scored = q.join(c, "sig").filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        GraftFunctions.cosineSim(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{Dedup, Similarity}
import graft.sources.VersionedTable

/** Streaming SEMANTIC dedup gate — the ingest-time twin of
  * [[Similarity.semDedup]] and the gate a production training-data
  * pipeline runs hottest: every arriving embedding is checked against
  * everything seen so far AND its own batch for near-duplicates above
  * a cosine threshold, through the pinned ANN index's funnel, and the
  * discovered pairs APPEND to an output table whose cumulative content
  * provably equals [[Similarity.cellPairsFrozen]] over the stream's
  * prefix (`SemGateSpec` asserts it batch by batch).
  *
  * CONTRACT — SemDeDup with a frozen quantizer, between epoch rolls.
  * The coarse k-means codebook trains ONCE per EPOCH — epoch 0 on the
  * first non-empty batch, over UNIT vectors (committed as a
  * [[VersionedTable]] — the release-pinned quantizer) — and every
  * vector keeps the cell that epoch's codebook assigns. Within-cell
  * pairs with exact cosine ≥ threshold (over the ORIGINAL vectors) are
  * the truth; a frozen quantizer is what makes that truth
  * PREFIX-MONOTONE (pairs only accumulate), i.e. streamable with an
  * append-only output — re-clustering per batch would re-assign cells
  * and retro-invalidate earlier verdicts. Production SemDeDup
  * periodically re-clusters: [[rollEpoch]] is that operator — it
  * retrains coarse + PQ on the ACCUMULATED vector state (one bounded
  * job, the inherent re-cluster cost), re-encodes the encoding state
  * into the new epoch's tables, emits the CATCH-UP pairs (within-cell
  * under the new codebook over the full prefix, minus pairs already
  * emitted), and only then commits the new codebook — the epoch flip
  * is the commit point. After a roll the cumulative output equals
  * `truth(old codebook, prefix-at-roll) ∪ truth(new codebook, prefix)`
  * — recall is complete under the CURRENT codebook over the full
  * prefix, and every emitted pair is a genuine exact-cosine pair
  * regardless of which epoch found it (`SemGateSpec` pins both, with
  * a crash injected at the flip). Epoch attribution of output pairs is
  * a read-side view ([[pairsWithEpoch]]) derived from the commit
  * history, so the committed output schema never changes.
  *
  * FUNNEL — ADC shortlist + exact-cosine refine, with a PROVABLE
  * screen. The stored state is the IVF-PQ encoding of each unit
  * vector's cell residual ([[Similarity.pqTrainCodebook]], trained on
  * the same first batch) PLUS that vector's own quantization error
  * e(x) = ‖resid(x) − decode(codes(x))‖. For an arriving q and stored
  * x in the same cell, ADC gives a = ‖resid(q) − decode(codes(x))‖,
  * and the triangle inequality bounds the true unit-space distance:
  * ‖q̂−x̂‖ ≥ a − e(x). Since cos ≥ t ⟺ ‖q̂−x̂‖² ≤ 2−2t, any candidate
  * with a − e(x) > √(2−2t) + ε is PROVABLY below threshold and is
  * dropped before its float vector is ever fetched; survivors are
  * exact-cosine refined against the pinned stored vectors. The screen
  * is conservative by construction (ε covers float rounding), so the
  * output equals the unscreened exact operator bit-for-bit — the
  * oracle never needs to replay the PQ. A first batch too small to
  * seed `ks` codewords skips PQ training and the gate runs the same
  * joins unscreened (codes NULL) — output unchanged, by the same
  * argument. Each epoch's PQ codebook lives in that epoch's own table
  * (`pq-e<n>`), so a crash between a roll's PQ and coarse commits can
  * never pair a new PQ with an old coarse: the gate reads only the
  * CURRENT epoch's PQ and falls back to unscreened if it is absent.
  *
  * SCALE shape: both state tables are [[BucketedState]] — encodings
  * (cid, cell, codes, err) bucketed by `cell`, float vectors (id, v)
  * bucketed by `id` — so the per-batch cell join and the refine fetch
  * stream the accumulated state with NO exchange and NO sort; the
  * batch's shuffle bill is increment-sized forever (the SubstrGate
  * discipline). The screen means float vectors ride the refine join
  * only for candidates that might actually match; the corpus-sized
  * path carries byte codes. `ncells` should scale with the corpus
  * (√n cells keeps per-cell pair work flat — [[Similarity.semDedup]]'s
  * own sizing rule) and sets the cell join's parallelism floor. The
  * increment's own floats ride a broadcast into the refine only while
  * the micro-batch is broadcast-sized (`maxBroadcastInc`); an
  * oversized batch (backlog catch-up, initial load) falls back to a
  * shuffled join on `qid` instead of failing the broadcast.
  *
  * Exactly-once rides [[GateKit]]: the output commit is the completion
  * marker; state appends land before it, idempotent per batch id
  * ([[BucketedState.appendOnce]]); replays read state as it stood
  * before the batch by partition pruning ([[BucketedState.readBefore]])
  * — reading latest would pair the increment against its own replayed
  * encodings and double-report intra pairs as cross pairs. The
  * codebook commits are idempotent via their version listing (training
  * is deterministic, so a replayed train writes identical bytes). A
  * re-delivered id must not pair with its own stored copy (the batch
  * truth's id_a < id_b never emits self-pairs): the cid ≠ qid guard. */
object SemGate {

  /** Current epoch of the gate at `statePath`: one committed coarse
    * codebook version per epoch; −1 before any training. */
  def currentEpoch(spark: SparkSession, statePath: String): Int =
    VersionedTable.versions(spark, s"$statePath/coarse").length - 1

  /** Epoch-scoped state path (epoch 0 keeps the unsuffixed name). */
  private def sub(statePath: String, name: String, epoch: Int): String =
    if (epoch <= 0) s"$statePath/$name" else s"$statePath/$name-e$epoch"

  /** The (cid, cell, codes, err) encoding of assigned+residualed rows
    * under `pq` (NULL codes when no PQ is trained — unscreened). */
  private def encode(asg: DataFrame, pq: Option[DataFrame], m: Int,
      ks: Int, sd: Int): DataFrame = pq match {
    case Some(cb) => asg.crossJoin(broadcast(cb))
      .select(col("vid").as("cid"), col("cell"), col("resid"),
        GraftFunctions.pqCodes(col("resid"), col("cb"), m, ks, sd)
          .as("codes"), col("cb"))
      .select(col("cid"), col("cell"), col("codes"),
        sqrt(GraftFunctions.pqAdc(col("resid"), col("codes"),
          col("cb"), m, sd)).as("err"))
    case None => asg.select(col("vid").as("cid"), col("cell"),
      lit(null).cast("array<bigint>").as("codes"),
      lit(null).cast("double").as("err"))
  }

  /** Deterministic PQ training over residuals: seeds are the `ks`
    * lowest ids, so a crash-replayed train writes identical bytes. */
  private def trainPq(vecs: DataFrame, cent: Array[Array[Double]],
      m: Int, ks: Int, sd: Int, pqIters: Int): DataFrame = {
    val res = Dedup.persistTracked(
      Similarity.assignFrozenCells(vecs, "id", "v", cent)
        .withColumn("resid", Similarity.frozenResidual(
          col("nv"), col("cell"), cent))
        .select(col("vid"), col("resid")))
    val seedIds = vecs.orderBy("id").limit(ks)
      .collect().map(_.getLong(0))
    Similarity.pqTrainCodebook(res, "vid", "resid",
      s"vid IN (${seedIds.mkString(",")})", m, ks, sd, pqIters)
  }

  /** `embeddings.writeStream.foreachBatch(SemGate.sink(...))`.
    * State lives under `statePath`: vectors/ enc/ coarse/ pq/ (enc and
    * pq gain an `-e<epoch>` suffix after a [[rollEpoch]]). */
  def sink(statePath: String, outPath: String, idCol: String,
      vecCol: String, threshold: Double, ncells: Int = 8,
      kmIters: Int = 2, m: Int = 8, ks: Int = 16, sd: Int = 8,
      pqIters: Int = 1, nBuckets: Int = 32,
      maxBroadcastInc: Long = 500000L)
      : (DataFrame, Long) => Unit = (batch, batchId) => {
    val spark = batch.sparkSession
    val vecPath = s"$statePath/vectors"
    val coarsePath = s"$statePath/coarse"
    GateKit.runOnce(spark, outPath, batchId) {
      import spark.implicits._
      val inc = Dedup.persistTracked(batch.select(
        col(idCol).cast("long").as("id"), col(vecCol).as("v")))
      val n = inc.count()
      // ---- frozen quantizer: train once, on the first NON-EMPTY batch.
      // PQ commits BEFORE coarse: the coarse table is the "trained"
      // flag, so a crash between the two retrains both on replay
      // (deterministic — identical bytes), never half-trains.
      if (currentEpoch(spark, statePath) < 0 && n > 0) {
        val cent0 = Similarity.kmeansCodebook(
          inc.select(col("id"), Similarity.unitVec("v").as("nv")),
          "id", "nv", ncells, kmIters)
        if (n >= ks) {
          val cb = trainPq(inc, cent0, m, ks, sd, pqIters)
          if (VersionedTable.versions(spark,
              sub(statePath, "pq", 0)).isEmpty)
            VersionedTable.commit(cb, sub(statePath, "pq", 0))
        }
        VersionedTable.commit(
          Similarity.centToFrame(spark, cent0), coarsePath)
      }
      val epoch = currentEpoch(spark, statePath)
      if (epoch < 0) {
        // every batch so far was empty: nothing to state, empty commit
        VersionedTable.streamingCommit(
          Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cosine"),
          batchId, outPath, "append")
      } else {
        val encPath = sub(statePath, "enc", epoch)
        val pqPath = sub(statePath, "pq", epoch)
        val cent = Similarity.centFromFrame(
          VersionedTable.read(spark, coarsePath))
        val pq =
          if (VersionedTable.versions(spark, pqPath).nonEmpty)
            Some(VersionedTable.read(spark, pqPath))
          else None
        val asg = Dedup.persistTracked(
          Similarity.assignFrozenCells(inc, "id", "v", cent)
            .withColumn("resid", Similarity.frozenResidual(
              col("nv"), col("cell"), cent))
            .select(col("vid"), col("vv"), col("cell"), col("resid")))
        val encInc = encode(asg, pq, m, ks, sd)
        // SERVED state: forgotten vectors are tombstone-filtered out
        // of both the cell join and the refine fetch
        val cross = (BucketedState.readBeforeServed(spark, encPath, batchId),
            BucketedState.readBeforeServed(spark, vecPath, batchId)) match {
          case (Some(baseE), Some(baseV)) =>
            val q = asg.select(col("vid").as("qid"), col("cell"),
              col("resid").as("qres"))
            // increment = build side; the bucketed encoding STREAMS
            val cand = baseE
              .join(q.hint("shuffle_hash"), Seq("cell"))
              .filter(col("cid") =!= col("qid"))
            val radius = math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold))
            val screened = pq match {
              case Some(cb) => cand.crossJoin(broadcast(cb))
                // keep unless PROVABLY outside the radius (ε absorbs
                // float rounding — the screen must never falsely drop)
                .filter(col("codes").isNull || col("err").isNull ||
                  sqrt(GraftFunctions.pqAdc(col("qres"), col("codes"),
                    col("cb"), m, sd)) - col("err") <=
                    lit(radius + 1e-6))
              case None => cand
            }
            // the refine exchange carries BARE (qid, cid) pairs — 16
            // bytes per survivor, never a vector: the stored floats
            // stream out of the bucketed-by-id state, and the
            // increment's floats ride a broadcast while the micro-batch
            // is broadcast-sized (else a shuffled join on qid — an
            // oversized backlog batch must degrade, not fail). Shipping
            // qv through this exchange instead was measured at 30× as a
            // ~16× larger per-batch shuffle that grew with state.
            val fetched = screened.select(col("qid"), col("cid"))
              // survivors = build side; the bucketed vector state
              // STREAMS through the refine fetch
              .hint("shuffle_hash")
              .join(baseV.select(col("id").as("cid"), col("v").as("cv")),
                Seq("cid"))
            val qv = inc.select(col("id").as("qid"), col("v").as("qv"))
            // fallback deliberately UNHINTED: both sides are unbounded
            // there (survivors scale with inc × cell density, qv with
            // the oversized batch), so a shuffled-HASH build on either
            // could exceed task memory — sort-merge degrades instead
            val joined =
              if (n <= maxBroadcastInc) fetched.join(broadcast(qv), Seq("qid"))
              else fetched.join(qv, Seq("qid"))
            joined
              .select(col("qid"), col("cid"),
                GraftFunctions.cosineSim(col("qv"), col("cv"))
                  .as("cosine"))
              .filter(col("cosine") >= threshold)
              .select(least(col("qid"), col("cid")).as("id_a"),
                greatest(col("qid"), col("cid")).as("id_b"),
                col("cosine"))
          case _ =>
            Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cosine")
        }
        val intra = asg
          .select(col("vid").as("id_a"), col("vv").as("v_a"), col("cell"))
          .join(asg.select(col("vid").as("id_b"), col("vv").as("v_b"),
            col("cell")), Seq("cell"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            GraftFunctions.cosineSim(col("v_a"), col("v_b")).as("cosine"))
          .filter(col("cosine") >= threshold)
        BucketedState.appendOnce(encInc, encPath, batchId, "cell",
          nBuckets)
        BucketedState.appendOnce(inc, vecPath, batchId, "id", nBuckets)
        VersionedTable.streamingCommit(cross.unionByName(intra), batchId,
          outPath, "append")
      }
    }
  }

  /** RE-CLUSTER the gate — production SemDeDup's periodic epoch roll,
    * run at a quiet stream boundary (no batch in flight). One bounded
    * job over the accumulated vector state: retrain coarse (+PQ) with
    * fresh parameters if desired, re-encode every stored vector into
    * the NEW epoch's encoding table, emit the catch-up pairs (within-
    * cell under the new codebook over the full prefix, minus pairs
    * already emitted — committed under a reserved negative batch id
    * derived from (target epoch, prefix), disjoint from foreachBatch's
    * id space), and COMMIT the new coarse codebook — the epoch flip,
    * after which the sink serves the new epoch transparently. Every
    * step is idempotent per (target epoch, prefix), so a crashed roll
    * is completed by re-invoking with the same `fromEpoch` — including
    * after the STREAM HAS RESUMED over the crash (batches committed in
    * between): the retry retracts the crashed attempt's re-encode
    * snapshot (pinned to the superseded prefix — keeping it would leave
    * every stored encoding duplicated) and recomputes the re-encode and
    * catch-up under the advanced prefix's freshly retrained codebook;
    * the crashed attempt's already-committed catch-up pairs stay (they
    * are genuine exact-cosine pairs) and the recompute's anti-join
    * skips them. Until the flip commits the gate keeps serving the old
    * epoch correctly. `fromEpoch` guards retries: the roll is a no-op
    * unless the gate is currently at that epoch. Returns the new epoch
    * (or the current one if the roll did not apply). */
  def rollEpoch(spark: SparkSession, statePath: String, outPath: String,
      threshold: Double, fromEpoch: Int, ncells: Int = 8,
      kmIters: Int = 2, m: Int = 8, ks: Int = 16, sd: Int = 8,
      pqIters: Int = 1, nBuckets: Int = 32,
      onBeforeCommit: () => Unit = () => ()): Int = {
    val coarsePath = s"$statePath/coarse"
    val vecPath = s"$statePath/vectors"
    val cur = currentEpoch(spark, statePath)
    if (cur != fromEpoch || cur < 0) return cur
    val next = cur + 1
    // exclusive maintenance leases on both live state tables: a stream
    // appending mid-roll fails fast instead of racing the re-encode
    BucketedState.withMaintenanceLease(spark, vecPath) {
    BucketedState.withMaintenanceLease(spark, sub(statePath, "enc", cur)) {
    Dedup.scoped(spark) {
      // SERVED vectors: a roll re-encodes only the un-forgotten state,
      // so the epoch flip doubles as the semantic gate's physical purge
      val allVecs = BucketedState
        .readBeforeServed(spark, vecPath, Long.MaxValue) match {
        case Some(v) => Dedup.persistTracked(v)
        case None => return cur
      }
      val nAll = allVecs.count()
      // retrain on the accumulated prefix (deterministic, so every
      // retry re-derives identical bytes)
      val cent1 = Similarity.kmeansCodebook(
        allVecs.select(col("id"), Similarity.unitVec("v").as("nv")),
        "id", "nv", ncells, kmIters)
      val pq1 =
        if (nAll >= ks) {
          val cb = trainPq(allVecs, cent1, m, ks, sd, pqIters)
          if (VersionedTable.versions(spark,
              sub(statePath, "pq", next)).isEmpty)
            VersionedTable.commit(cb, sub(statePath, "pq", next))
          Some(VersionedTable.read(spark, sub(statePath, "pq", next)))
        } else None
      // re-encode the full vector state into the new epoch's table,
      // tagged with the max committed batch id so readBefore pruning
      // works unchanged (batches ≤ it are all committed — past replay)
      val committed = VersionedTable.committedBatches(spark, outPath)
        .filter(_ >= 0L)
      // QUIET-BOUNDARY GUARD: every state append must belong to an
      // OUTPUT-committed batch. A batch that crashed between its state
      // appends and its output commit leaves vector-state markers ahead
      // of the output markers; rolling over it would re-encode (and
      // catch-up-pair) vectors the replay will process again —
      // permanent duplicate state and output. Refuse; the caller must
      // let the stream replay the batch first.
      val vecCommitted = BucketedState.committedBatches(spark, vecPath)
      if (committed.isEmpty ||
          vecCommitted.exists(_ > committed.max)) return cur
      val lastBatch = committed.max
      // STALE-ATTEMPT GUARD: a roll that crashed before the flip and was
      // retried only after the stream RESUMED (batches fully committed
      // in between) left a full re-encode snapshot in the new epoch's
      // enc table pinned to the OLD prefix's last batch id. appendOnce
      // idempotence is per batch id, so re-encoding under the advanced
      // prefix's id would leave BOTH snapshots live — every stored
      // encoding duplicated, and (the sink emits pairs without a
      // distinct) duplicate output rows on every subsequent batch.
      // Nothing reads the unflipped epoch's enc table yet, so the stale
      // snapshot is retractable: drop it and re-encode fresh. The
      // catch-up/boundary commits are keyed by (epoch, lastBatch) below
      // for the same reason — a retry over an advanced prefix must
      // recompute the catch-up under the freshly retrained codebook,
      // not no-op on the crashed attempt's (already-sound, but
      // old-prefix) commit.
      val encNextPath = sub(statePath, "enc", next)
      BucketedState.committedBatches(spark, encNextPath)
        .filter(_ != lastBatch)
        .foreach(BucketedState.retract(spark, encNextPath, _))
      // reserved id space for roll commits: disjoint from foreachBatch's
      // non-negative ids AND unique per (target epoch, prefix), so a
      // same-prefix retry stays idempotent while an advanced-prefix
      // retry commits fresh
      val rollId = -((next.toLong << 40) | (lastBatch + 1L))
      val asgAll = Dedup.persistTracked(
        Similarity.assignFrozenCells(allVecs, "id", "v", cent1)
          .withColumn("resid", Similarity.frozenResidual(
            col("nv"), col("cell"), cent1))
          .select(col("vid"), col("vv"), col("cell"), col("resid")))
      BucketedState.appendOnce(encode(asgAll, pq1, m, ks, sd),
        sub(statePath, "enc", next), lastBatch, "cell", nBuckets)
      // catch-up: new-codebook pairs over the full prefix not yet
      // emitted (pairs the OLD cells never co-located)
      val emitted = VersionedTable.read(spark, outPath)
        .select(col("id_a"), col("id_b"))
      val catchup = Similarity
        .cellPairsFrozen(allVecs, "id", "v", cent1, threshold)
        .join(emitted, Seq("id_a", "id_b"), "left_anti")
      // epoch boundary for read-side attribution: the last output
      // version that belongs to the OLD epoch (deterministic on retry:
      // derived from the catch-up commit's own version once it lands).
      // A crashed attempt over an earlier prefix may have logged its
      // own (epoch, boundary) row too; pairsWithEpoch composes the
      // duplicates — pairs between the two boundaries keep the old tag.
      VersionedTable.streamingCommit(catchup, rollId, outPath, "append")
      val vCatch = VersionedTable
        .versionOfBatch(spark, outPath, rollId).get
      val boundary = VersionedTable.versions(spark, outPath)
        .filter(_ < vCatch).lastOption.getOrElse(-1)
      import spark.implicits._
      VersionedTable.streamingCommit(
        Seq((next.toLong, boundary)).toDF("epoch", "prev_boundary"),
        rollId, s"$statePath/epochs", "append")
      onBeforeCommit()
      // THE FLIP: one committed coarse version per epoch
      if (VersionedTable.versions(spark, coarsePath).length == next)
        VersionedTable.commit(
          Similarity.centToFrame(spark, cent1), coarsePath)
      next
    } } }
  }

  /** FORGET vectors — the semantic gate's takedown: tombstone the ids
    * in the vector state and the CURRENT epoch's encoding state,
    * exactly once per `forgetId`. After this, (a) the vectors never
    * pair with any future arrival (the sink reads served state),
    * (b) [[served]] excludes every already-emitted pair touching them,
    * and (c) the next [[rollEpoch]] physically drops them (the
    * re-encode reads served vectors — the roll IS the purge; or run
    * [[BucketedState.purgeForgotten]] on both tables without waiting
    * for a roll). Vector table FIRST: it is the exact-cosine refine
    * substrate, so even the crash window between the two tombstones
    * cannot emit a forgotten vector into a new pair. */
  def forget(spark: SparkSession, statePath: String, ids: Seq[Long],
      forgetId: Long): Unit = {
    import spark.implicits._
    BucketedState.forget(spark, s"$statePath/vectors",
      ids.toDF("id"), forgetId)
    val epoch = currentEpoch(spark, statePath)
    if (epoch >= 0)
      BucketedState.forget(spark, sub(statePath, "enc", epoch),
        ids.toDF("cid"), forgetId)
  }

  /** The gate's cumulative pair output SERVED through the takedown
    * tombstones (pairs touching a forgotten vector excluded — two
    * broadcast anti-joins; the committed history stays for audit). */
  def served(spark: SparkSession, statePath: String,
      outPath: String): DataFrame = {
    val out = VersionedTable.read(spark, outPath)
    BucketedState.forgottenKeys(spark, s"$statePath/vectors") match {
      case Some(t) => BucketedState.antiTomb(
        BucketedState.antiTomb(out, t, "id_a"), t, "id_b")
      case None => out
    }
  }

  /** Output pairs tagged with the epoch that emitted them — a read-
    * side view over the commit history (the committed output schema
    * never carries the tag): pairs at or below epoch e's recorded
    * boundary version belong to an earlier epoch; rolls are rare, so
    * the per-boundary snapshot reads stay few. Catch-up pairs carry
    * the epoch that discovered them (the new one). */
  def pairsWithEpoch(spark: SparkSession, statePath: String,
      outPath: String): DataFrame = {
    val epochsPath = s"$statePath/epochs"
    // only FLIPPED epochs attribute: a crashed roll has already logged
    // its boundary but the gate still serves (and emits under) the old
    // codebook until the retry, so pairs from the crash window must
    // keep the old tag
    val cur = currentEpoch(spark, statePath).toLong
    val bounds =
      if (VersionedTable.versions(spark, epochsPath).isEmpty) Seq.empty
      // sort by (epoch, boundary): a crashed-then-retried roll logs TWO
      // rows for one epoch, and walking the earlier boundary first is
      // what keeps the crash window's pairs on the old epoch's tag
      else VersionedTable.read(spark, epochsPath).collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .sortBy(t => (t._1, t._2)).toSeq
        .filter(_._1 <= cur)
    // persist barriers: the full table and each boundary snapshot feed
    // multiple consumers (the per-epoch anti-joins + the tail), and the
    // snapshots' files are a subset of the table's — without the
    // barriers every output file is scanned once per consumer
    // (PlanHygieneSpec's multi-scan guard catches it). The caller's
    // Dedup.scoped (or a harness's releaseAll) frees them.
    val all = Dedup.persistTracked(VersionedTable.read(spark, outPath))
    // walk epochs oldest-first: what a boundary snapshot contains and
    // earlier epochs did not, that epoch emitted
    var tagged = Seq.empty[DataFrame]
    var prev: Option[DataFrame] = None
    for ((epoch, boundary) <- bounds) {
      val snap =
        if (boundary < 0) None
        else Some(Dedup.persistTracked(
          VersionedTable.read(spark, outPath, Some(boundary))))
      val own = (snap, prev) match {
        case (Some(s), Some(p)) =>
          s.join(p.select(col("id_a"), col("id_b")),
            Seq("id_a", "id_b"), "left_anti")
        case (Some(s), None) => s
        case (None, _) => None.orNull
      }
      if (own != null)
        tagged = tagged :+ own.withColumn("epoch", lit(epoch - 1))
      prev = snap.orElse(prev)
    }
    val lastEpoch = bounds.lastOption.map(_._1)
      .getOrElse(currentEpoch(spark, statePath).toLong.max(0L))
    val rest = prev match {
      case Some(p) => all.join(p.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      case None => all
    }
    (tagged :+ rest.withColumn("epoch", lit(lastEpoch)))
      .reduce(_.unionByName(_))
  }
}

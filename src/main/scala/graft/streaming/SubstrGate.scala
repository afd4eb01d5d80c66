package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.VersionedTable

/** Streaming exact-substring dedup gate — the streaming twin of
  * [[Dedup.duplicatedSubstrings]]: every arriving document is checked
  * for maximal verbatim-shared spans (length ≥ minLen) against
  * everything seen so far AND against its own batch, and the
  * discovered runs APPEND to an output table whose cumulative content
  * provably equals the one-shot batch operator over the stream's
  * prefix (`SubstrGateSpec` asserts it batch by batch).
  *
  * State is TWO [[BucketedState]] tables, each bucketed by its join
  * key AT REST: the positional gram index (id, pos, h) bucketed by
  * `h`, and the document texts (id, t) — the residual-verify
  * substrate — bucketed by `id`. Per batch the increment grams join
  * the PINNED stored index on the 64-bit anchor hash as a
  * shuffled-hash join whose BUILD side is the increment: the stored
  * index streams out of its own bucket files with NO exchange and NO
  * sort, so the batch's shuffle bill is increment-sized however much
  * state has accumulated (the round-7 layout re-shuffled the entire
  * index every batch — 13.7 GB by batch 2 on the 30× probe; the
  * bucketed layout holds per-batch exchange flat, the `substr_gate`
  * scale probe measures it). Survivors pass the exact substring-equality residual
  * against the pinned stored texts (bucketed by id — same
  * increment-only exchange shape) plus the batch's own, pairs orient
  * to (min id, max id), and the diagonal-runs grouping emits maximal
  * spans; intra-batch runs come from the batch operator itself. Cross
  * and intra pair sets are disjoint (one side strictly earlier vs
  * both in the batch), and a pair's gram matches all live on one side
  * of that split, so the appended union is exactly the prefix
  * operator's increment.
  *
  * Doc ids are expected unique across the stream; if an id already in
  * the stored state is re-delivered in a later batch anyway, the
  * doc_a =!= doc_b guard below keeps it from pairing with its own
  * stored copy — the batch operator (doc_a < doc_b) never emits
  * self-pairs, so the gate must not either.
  *
  * State size honesty: the gram index is ~24 bytes per character
  * position — the same order as the suffix structures exact
  * substring dedup needs in any architecture; at 100 TB it shards by
  * hash like any index table (`nBuckets` is that shard count — size
  * it for the cluster, not the increment), and the per-batch cost is
  * one increment-grams-vs-index hash join, never a corpus re-scan.
  *
  * Exactly-once rides [[GateKit]]: the output commit is the completion
  * marker ([[GateKit.runOnce]]); state appends land before it, each
  * idempotent per batch id ([[BucketedState.appendOnce]]); and a
  * replay reads the state as it stood BEFORE the batch by partition
  * pruning (`__bt < batchId` — [[BucketedState.readBefore]]), whether
  * or not the batch's own appends landed — reading latest would pair
  * the increment against its own replayed grams and double-report
  * intra runs as cross runs. */
object SubstrGate {

  /** `docs.writeStream.foreachBatch(SubstrGate.sink(...))`. */
  def sink(docsPath: String, gramsPath: String, outPath: String,
      idCol: String, textCol: String, minLen: Int, nBuckets: Int = 32)
      : (DataFrame, Long) => Unit = (batch, batchId) => {
    val spark = batch.sparkSession
    GateKit.runOnce(spark, outPath, batchId) {
      val inc = Dedup.persistTracked(batch.select(
        col(idCol).cast("long").as("id"), col(textCol).as("t")))
      // gram + bucket-align the increment ONCE: the persisted
      // HashPartitioning(h, nBuckets) is exactly the stored index's
      // bucket function, so the cross join is CO-PARTITIONED (zero
      // exchange on either side), the intra pass's prefilter window
      // runs exchange-free, and the state append skips the writer-side
      // exchange — one gram pass + one exchange per batch, total.
      val incG = Dedup.persistTracked(Dedup.gramFrame(inc, minLen)
        .repartition(nBuckets, col("h")))
      // SERVED state: rows of forgotten docs are tombstone-filtered
      // (a broadcast anti-join of the takedown set), so a forgotten
      // doc never pairs with a new arrival
      val cross = (BucketedState.readBeforeServed(spark, gramsPath, batchId),
          BucketedState.readBeforeServed(spark, docsPath, batchId)) match {
        case (Some(baseG), Some(baseT)) =>
          // orient BEFORE the runs grouping: doc_a = min id carries pa.
          // The increment side carries the shuffle_hash hint: it is the
          // BUILD side, the bucketed index STREAMS exchange-free.
          val matches = Dedup.verifyGramMatches(
            baseG.select(col("h"), col("id").as("doc_a"),
                col("pos").as("pa"))
              .join(incG.select(col("h"), col("id").as("doc_b"),
                col("pos").as("pb")).hint("shuffle_hash"), Seq("h"))
              // a re-delivered id must not pair with its stored copy
              .filter(col("doc_a") =!= col("doc_b"))
              // match-sized from here on: the pinned-text join must
              // not inherit the index's bucket count as its plan shape
              .hint("shuffle_hash"),
            baseT, inc, minLen)
          val oriented = matches.select(
            least(col("doc_a"), col("doc_b")).as("doc_a2"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b2"),
            when(col("doc_a") < col("doc_b"), col("pa"))
              .otherwise(col("pb")).as("pa2"),
            when(col("doc_a") < col("doc_b"), col("pb"))
              .otherwise(col("pa")).as("pb2"))
            .select(col("doc_a2").as("doc_a"), col("doc_b2").as("doc_b"),
              col("pa2").as("pa"), col("pb2").as("pb"))
          Dedup.maximalRuns(oriented, minLen)
        case _ =>
          import spark.implicits._
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("doc_a", "doc_b", "start_a", "start_b", "len")
      }
      val intra = Dedup.denseRunsFromGrams(inc, incG, minLen)
      BucketedState.appendOnce(incG, gramsPath, batchId, "h", nBuckets,
        prePartitioned = true)
      BucketedState.appendOnce(inc, docsPath, batchId, "id", nBuckets)
      VersionedTable.streamingCommit(cross.unionByName(intra), batchId,
        outPath, "append")
    }
  }

  /** FORGET documents — takedown / contamination discovered after
    * ingest / right-to-be-forgotten: tombstone the ids in both state
    * tables, exactly once per `forgetId` (a retried takedown is a
    * no-op). After this, (a) the docs never pair with any future
    * arrival (the sink reads state served through the tombstones) and
    * (b) [[served]] excludes every already-emitted pair touching them.
    * Run at a quiet stream boundary; the maintenance lease makes a
    * non-quiet stream fail fast rather than race. The doc-text table
    * tombstones FIRST: it is the residual-verify substrate, so even
    * the crash window between the two appends (texts tombstoned,
    * grams not) can no longer verify a forgotten doc into a new pair —
    * the retry completes the gram tombstone. Physical reclaim of the
    * bytes rides [[BucketedState.purgeForgotten]] (or any rebucket) on
    * each state table. */
  def forget(spark: org.apache.spark.sql.SparkSession, docsPath: String,
      gramsPath: String, ids: Seq[Long], forgetId: Long): Unit = {
    import spark.implicits._
    BucketedState.forget(spark, docsPath, ids.toDF("id"), forgetId)
    BucketedState.forget(spark, gramsPath, ids.toDF("id"), forgetId)
  }

  /** The gate's cumulative output SERVED through the takedown
    * tombstones: pairs touching a forgotten doc are excluded (two
    * broadcast anti-joins — the committed history is append-only and
    * never rewritten). This is the read surface a downstream consumer
    * uses; the raw [[VersionedTable.read]] keeps the full audit
    * history. */
  def served(spark: org.apache.spark.sql.SparkSession, docsPath: String,
      outPath: String): org.apache.spark.sql.DataFrame = {
    val out = VersionedTable.read(spark, outPath)
    BucketedState.forgottenKeys(spark, docsPath) match {
      case Some(t) => BucketedState.antiTomb(
        BucketedState.antiTomb(out, t, "doc_a"), t, "doc_b")
      case None => out
    }
  }
}

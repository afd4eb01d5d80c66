package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup
import graft.sources.VersionedTable

/** The exactly-once skeleton every streaming gate shares —
  * [[SubstrGate]], [[SpatialGate]], [[ChangepointGate]],
  * [[BoilerplateGate]], [[ClusterMaintainer]] each hand-rolled this
  * contract before, and a sixth gate could get the replay pinning
  * subtly wrong. The contract: (1) the OUTPUT commit is the batch's
  * completion marker ([[runOnce]] skips committed re-deliveries and
  * frees the batch's own tracked blocks on every exit); (2) cross
  * joins against append-mode state see the table as it stood BEFORE
  * the batch's own append ([[pinnedBefore]] — reading latest on a
  * replay whose append landed would pair the increment against its
  * own replayed rows, double-reporting intra results as cross results
  * or pushing capped candidate buckets over their cap and DROPPING
  * genuine pairs);
  * (3) state commits land before the output commit, each idempotent
  * per batch id ([[VersionedTable.streamingCommit]] for versioned
  * state, [[MergeState.appendDelta]]/[[BucketedState.appendOnce]] for
  * the delta layouts — since round 10 every gate's state is one of
  * those two), so every crash window replays into the same final
  * table. */
object GateKit {

  /** Run `body` only if `batchId` has not yet committed to `outPath`
    * (the completion marker), as one [[Dedup.scoped]] unit: on every
    * exit path it frees the caches and localCheckpoint blocks the batch
    * tracked, and only those. */
  def runOnce(spark: SparkSession, outPath: String, batchId: Long)(
      body: => Unit): Unit =
    if (!VersionedTable.committedBatches(spark, outPath)
        .contains(batchId)) Dedup.scoped(spark)(body)

  /** The version of `path` as it stood BEFORE this batch's own append —
    * latest on the fresh path; on a replay whose append already landed
    * ([[VersionedTable.versionOfBatch]]), the version preceding it.
    * None = no usable state. */
  def pinnedBefore(spark: SparkSession, path: String,
      batchId: Long): Option[Int] = {
    val vs = VersionedTable.versions(spark, path)
    VersionedTable.versionOfBatch(spark, path, batchId) match {
      case Some(own) => vs.filter(_ < own).lastOption
      case None => vs.lastOption
    }
  }

  /** [[pinnedBefore]], materialized: the pinned state frame, or None
    * when there is no usable state yet. */
  def readPinnedBefore(spark: SparkSession, path: String,
      batchId: Long): Option[DataFrame] =
    pinnedBefore(spark, path, batchId)
      .map(v => VersionedTable.read(spark, path, Some(v)))

}

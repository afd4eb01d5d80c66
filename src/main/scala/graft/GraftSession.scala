package graft

import org.apache.spark.sql.SparkSession

/** Session factory: one place for the config posture described in
  * SCALE.md, so every entry point (Verify, Bench, the athenaeum CLI, a
  * user's driver) starts from the same tuned baseline instead of
  * re-deriving it. It is also the test posture: the specs' shared
  * session is built here too, adding only deployment settings (UI off,
  * a temp warehouse), so tests prove the configuration the product ships.
  *
  * Everything here is a default — callers can still override any key on
  * the returned builder before `getOrCreate()`. Session-wide settings
  * belong here, set once at build time; a query never changes its
  * session's conf or planner hooks.
  */
object GraftSession {

  /** Dedup.scoped and Dedup.releaseAll unpersist localCheckpoint blocks
    * ON PURPOSE (they are dead once the gate batch, epoch roll or query
    * that tracked them ends); Spark's "RDD was locally checkpointed,
    * its lineage has been truncated" WARN is the expected
    * consequence, and at 355+ queries it buries real signals in the
    * harness tail — silence that one logger, nothing broader. Call
    * AFTER `setLogLevel` (which re-applies the logging configuration
    * and would wipe an earlier per-logger override). */
  def quietCheckpointNoise(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

  /** @param cores parallelism for local mode; on a cluster pass 0 and set
    *              master/resources externally (spark-submit) — the SQL
    *              knobs still apply. */
  def builder(appName: String = "graft", cores: Int = 0)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      // deterministic timestamp semantics (oracle parity + sane pipelines)
      .config("spark.sql.session.timeZone", "UTC")
      // INT64 TIMESTAMP(NANOS) parquet columns read as BIGINT epoch-nanos
      // instead of failing the scan (see sources.Tables)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE: runtime re-planning, skew-join split, partition coalescing
      .config("spark.sql.adaptive.enabled", "true")
      // probe-side pruning for selective dim joins (see ScaleJoinsSpec)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // JOIN STRATEGY stays at Spark defaults. Round-11 measured both
      // guide §3.1/§9 knobs (`preferSortMergeJoin=false`, AQE
      // `maxShuffledHashJoinLocalMapThreshold=64m`) across the bench:
      // isolated batch queries improved, but the streaming-gate
      // pipelines REGRESSED hard (q_spatial_gate 1.9→3.3 s warm,
      // q_substr_gate 3.7→5.1 s, full-bench warm +50 s) — the AQE
      // rewrite re-plans the bucketed-state joins' build sides away
      // from the hand-hinted increment-side builds. Join strategy is
      // therefore pinned PER JOIN with explicit hints at the call
      // sites that provably benefit (the gates already hint
      // `shuffle_hash` on their increment sides), not session-wide. The
      // athenaeum's `Executor` is another such site: it hints
      // `shuffle_replicate_nl` on FROM instances with no `=` to another
      // instance, so their theta joins stay one-job CartesianProducts.
      // graft_* SQL functions, optimizer rules and planner strategy: the
      // only install path (see GraftExtensions)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // codegen COMPILED-CLASS cache (static conf, JVM-wide): the
      // default 100 entries thrashes under a 368-query bench — every
      // query evicts its predecessors' generated classes, so the warm
      // pass re-pays the full Janino compile bill (~30+ s/run; Bench
      // records each query's exact compile count, `Work.compiles`, in
      // BENCH_FULL.json). 4096 keeps every distinct codegen
      // unit of the whole query surface resident; cost is metaspace
      // for generated classes only, and a long-lived production driver
      // wants exactly the same (repeated micro-batch plans recompiling
      // per batch is the same thrash at cluster scale).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    if (cores > 0)
      b.master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
    else b
  }
}

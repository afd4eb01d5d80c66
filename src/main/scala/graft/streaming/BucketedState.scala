package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate state BUCKETED BY ITS JOIN KEY AT REST — the storage layout
  * that makes a streaming gate's per-batch state join exchange only
  * the increment. A [[graft.sources.VersionedTable]] state table is
  * plain parquet: every batch's `state ⋈ increment` re-shuffles the
  * ENTIRE accumulated state through the exchange (the round-7 30×
  * probe measured 1.45 → 8.2 → 13.7 GB across three equal increments
  * — a per-batch full-state exchange, the one pattern that cannot
  * survive 100 TB of accumulated state). Here the state is an
  * EXTERNAL CATALOG TABLE, `CLUSTERED BY (key) INTO n BUCKETS` and
  * `PARTITIONED BY (__bt)` (the committing batch id):
  *
  *  - the state-side scan reports `HashPartitioning(key, n)`, so the
  *    join plans with NO exchange and NO sort on the state side (pair
  *    it with a `shuffle_hash` hint on the increment side — the
  *    increment is the build side, the state streams);
  *  - replay pinning is PARTITION PRUNING, not version math: the
  *    state as it stood before batch b is exactly `__bt < b`, on a
  *    fresh run and on a crash-replay alike (the batch's own partial
  *    or committed append always lands in `__bt = b`);
  *  - idempotence is a marker file per batch id, created only after
  *    the append commits; a crashed append leaves an UNREGISTERED
  *    partial partition directory that readers never list (catalog
  *    partitions are the read index) and the replay scrubs — partition
  *    dir AND the commit protocol's staging dirs (`_temporary`,
  *    `.spark-staging-*`): a crashed job's already-committed task
  *    files under `_temporary/0` would otherwise be ADOPTED by the
  *    replay's own commitJob (same app attempt id) and double the
  *    batch's rows — before re-appending.
  *
  * Catalog loss (a new driver/JVM over existing state) is recovered
  * from a schema sidecar written on first append: re-register with
  * `CREATE TABLE ... LOCATION` + `MSCK REPAIR TABLE`. All sidecar
  * writes go through a temp-then-rename protocol (`_schema.txt.new`
  * promoted only after a full write), so a truncated sidecar is
  * impossible by construction: the main file is only ever created by
  * renaming a fully-written temp, and the one window where the main
  * file is missing while state exists (mid-swap during [[rebucket]])
  * self-repairs by promoting the complete temp on the next read.
  *
  * The bucket count is a LAYOUT constant of the table (like any
  * bucketed warehouse table): size it for the target cluster's join
  * parallelism, not the increment. A gate that outgrows it does NOT
  * need a new epoch: [[rebucket]] rewrites the state into a new
  * bucket count exactly-once (generation directories + an atomic
  * sidecar swap as the commit point), and every reader/writer resolves
  * the live generation through the sidecar, so the gate's sinks adopt
  * the migrated state transparently — appends whose `prePartitioned`
  * alignment was built for the OLD count are detected by the layout
  * mismatch and re-aligned. */
object BucketedState {

  /** Layout of a live state table, as recorded in the sidecar. */
  private[streaming] case class Layout(
      gen: Int, nBuckets: Int, bucketCol: String, ddl: String)

  /** Catalog name for the state table at `path` (generation 0) —
    * content-addressed so concurrent gates at different paths never
    * collide. Rebucketed generations get a `_g<n>` suffix. */
  def tableName(path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
    "graft_state_" + md.map("%02x".format(_)).mkString.take(16)
  }

  private def tableNameG(path: String, gen: Int): String =
    if (gen == 0) tableName(path) else tableName(path) + s"_g$gen"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // the catalog table's LOCATION is path/data (path/data-g<n> after a
  // rebucket) — saveAsTable's CREATE path truncates the location
  // directory, so markers and the schema sidecar must live OUTSIDE it
  private def dataDir(path: String, gen: Int): Path =
    new Path(path, if (gen == 0) "data" else s"data-g$gen")

  private def markersRoot(path: String) = new Path(path, "_markers")

  private def markerPath(path: String, batchId: Long) =
    new Path(markersRoot(path), s"bt-$batchId")

  private def schemaPath(path: String) =
    new Path(markersRoot(path), "_schema.txt")

  private def schemaTmpPath(path: String) =
    new Path(markersRoot(path), "_schema.txt.new")

  // ---- single-writer lease -------------------------------------------
  // The exactly-once protocol assumes ONE writer per state path
  // (foreachBatch serializes a stream's own batches). Two sinks
  // accidentally sharing a path — a copy-pasted fixture suffix — would
  // interleave appends under two independent batch-id sequences and
  // corrupt replay pinning SILENTLY (sink B's batch 0 no-ops on sink
  // A's bt-0 marker and B's data is simply lost). The lease makes that
  // a deterministic error: the first streaming append records the
  // query's id in `_markers/_writer`; a DIFFERENT streaming query
  // appending while the lease is fresh fails fast. The lease is
  // heartbeat-refreshed and STALE-EXPIRING (`graft.state.writerLeaseMs`,
  // default 10 min), so a dead query never wedges the path — and it is
  // only enforced between real streaming queries (the id is the stream's
  // checkpoint-stable queryId): maintenance calls, tests, and batch
  // surgery carry no query id and neither take nor honor leases.

  private def leasePath(path: String) =
    new Path(markersRoot(path), "_writer")

  /** The streaming query id of the caller, when running inside a
    * streaming query's microbatch thread. */
  private def writerId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

  private def leaseTtlMs(spark: SparkSession): Long =
    spark.conf.getOption("graft.state.writerLeaseMs").map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft.state.writerLeaseMs must be a millisecond count, got " +
            s"'$v' — fix the conf value (default 600000)")
      }
    }.getOrElse(600000L)

  /** Parse the lease file at `p`: (holder id, heartbeat millis). A
    * torn/corrupt/missing lease reads as None (treated as stale). */
  private def readLease(f: FileSystem, p: Path): Option[(String, Long)] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try scala.io.Source
        .fromInputStream(in, "UTF-8").mkString
      finally in.close()
      text.stripLineEnd.split("\t") match {
        case Array(id, ms) if ms.nonEmpty && ms.forall(_.isDigit) =>
          Some((id, ms.toLong))
        case _ => None
      }
    }

  /** Write a lease claiming `path` for `self`, then re-read to confirm
    * ownership — two callers racing a stale/absent lease each write a
    * PER-ATTEMPT temp and delete-then-rename, so the loser's rename can
    * fail or be overwritten; only the caller the final re-read names
    * actually holds the lease. Throws for the loser. */
  private def claimLease(f: FileSystem, path: String, self: String,
      now: Long): Unit = {
    val p = leasePath(path)
    f.mkdirs(markersRoot(path))
    val tmp = new Path(markersRoot(path),
      s"_writer.new-${java.util.UUID.randomUUID}")
    val out = f.create(tmp, true)
    try out.write(s"$self\t$now\n".getBytes("UTF-8"))
    finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p)) f.delete(tmp, false)
    readLease(f, p) match {
      case Some((id, _)) if id == self => ()
      case Some((id, _)) => throw new IllegalStateException(
        s"lost the lease race at $path to $id — another writer claimed " +
          "the state concurrently; this attempt must not proceed")
      case None => throw new IllegalStateException(
        s"lease takeover at $path raced a concurrent delete — retry")
    }
  }

  /** Enforce the single-writer lease at `path` for the current caller;
    * no-op for non-streaming callers. Steady state for the holder is
    * one tiny read per append (the heartbeat rewrites only after
    * ttl/4). */
  private def acquireLease(spark: SparkSession, path: String): Unit =
    writerId(spark).foreach { self =>
      val f = fs(spark, path)
      val p = leasePath(path)
      val now = System.currentTimeMillis()
      val ttl = leaseTtlMs(spark)
      readLease(f, p) match {
        case Some((id, ms)) if id != self && now - ms < ttl =>
          val who =
            if (id.startsWith("maint-"))
              s"under maintenance surgery ($id, started ${now - ms} ms " +
                "ago) — the stream must not append mid-surgery; it will " +
                "recover once the operation releases the lease"
            else
              s"leased to streaming query $id (${now - ms} ms ago); " +
                s"this query is $self. Two sinks are sharing one state " +
                "path — give each its own"
          throw new IllegalStateException(
            s"bucketed state at $path is $who. (A dead holder's lease " +
              s"expires after graft.state.writerLeaseMs=$ttl ms.)")
        case Some((id, ms)) if id == self && now - ms < ttl / 4 =>
          () // fresh own lease: no write
        case _ =>
          // take over (stale or unreadable) or refresh own heartbeat;
          // claimLease re-reads after the write, so a lost race throws
          // instead of both writers proceeding
          claimLease(f, path, self, now)
      }
    }

  /** Run `body` holding an exclusive MAINTENANCE lease on `path`:
    * streaming appends fail fast for the duration instead of racing
    * the surgery (a rebucket, retraction, or epoch roll mutating state
    * under a live stream's feet). Takes over any existing lease
    * unconditionally — maintenance is run at a quiet stream boundary
    * by contract, and the lease's job is to make a NON-quiet stream
    * fail deterministically, not to arbitrate. Released on exit, so
    * the stream's next append re-takes its own lease; a crashed
    * maintenance run's lease expires after `graft.state.writerLeaseMs`
    * like any other. NOT heartbeat-refreshed: an operation expected to
    * run longer than the ttl should raise the conf for its duration. */
  def withMaintenanceLease[A](spark: SparkSession, path: String)(
      body: => A): A = {
    val f = fs(spark, path)
    val self = s"maint-${java.util.UUID.randomUUID}"
    claimLease(f, path, self, System.currentTimeMillis())
    try body
    finally readLease(f, leasePath(path)).foreach { case (id, _) =>
      if (id == self) { f.delete(leasePath(path), false); () }
    }
  }

  /** O(1) probe: has batch `batchId` committed? (one file-existence
    * check — never a directory listing, whose cost grows with stream
    * age at one marker file per batch). */
  def isCommitted(spark: SparkSession, path: String,
      batchId: Long): Boolean =
    fs(spark, path).exists(markerPath(path, batchId))

  /** O(1)-ish probe: has ANY batch committed? (iterator, first entry —
    * not a full listing). */
  private def anyCommitted(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val dir = markersRoot(path)
    if (!f.exists(dir)) return false
    val it = f.listStatusIterator(dir)
    while (it.hasNext) {
      if (it.next().getPath.getName.startsWith("bt-")) return true
    }
    false
  }

  /** Batch ids whose appends committed (marker files). */
  def committedBatches(spark: SparkSession, path: String): Set[Long] = {
    val f = fs(spark, path)
    val dir = markersRoot(path)
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("bt-") =>
        n.stripPrefix("bt-").toLong }
      .toSet
  }

  /** A folded run committed by [[MergeState]]'s tiered compaction:
    * level ≥ 1, covering the batch-id range [start, hi] (both
    * inclusive). Level-0 runs are the raw per-batch deltas themselves
    * (`id == start == hi == the batch id`); folded runs own the
    * negative partition-id space, encoded uniquely per (level, hi).
    * Markers (`cmp-<level>-<start>-<hi>`) live in the markers root so
    * they survive rebuckets. */
  private[graft] case class Fold(level: Int, start: Long, hi: Long) {
    def id: Long =
      if (level == 0) start else -(((hi + 1L) << 6) | level.toLong)
  }

  /** All committed fold markers at `path` (unparseable names — e.g. a
    * foreign file — are skipped, never a crash — EXCEPT a legacy
    * single-level `cmp-<T>` watermark, which fails fast: silently
    * skipping it would exclude the compacted base partition from every
    * read while its folded deltas are already deleted — silent loss of
    * all pre-watermark state — and the next compaction pass would then
    * delete the base as unmarked debris, making the loss permanent).
    * `private[graft]` so the scale probes can report fold events per
    * batch. */
  private[graft] def foldMarkers(spark: SparkSession,
      path: String): Seq[Fold] = {
    val f = fs(spark, path)
    val dir = markersRoot(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("cmp-") =>
        (n, n.stripPrefix("cmp-").split("-")) }
      .collect {
        case (_, Array(l, s, h)) if Seq(l, s, h).forall(x =>
            x.nonEmpty && x.forall(_.isDigit)) =>
          Fold(l.toInt, s.toLong, h.toLong)
        case (n, Array(t)) if t.nonEmpty && t.forall(_.isDigit) =>
          throw new IllegalStateException(
            s"state at $path carries a legacy single-level compaction " +
              s"watermark '$n' (pre-tiered layout). Migrate before any " +
              "read or compaction runs: rename the marker to " +
              s"'cmp-1-0-$t' and the base partition directory " +
              s"'__bt=-${t.toLong + 1}' to '__bt=${Fold(1, 0, t.toLong).id}' " +
              "(then MSCK REPAIR the state table), or rebuild the state.")
      }
  }

  /** Commit a folded run (the fold's write landed; readers may now
    * prefer it over its inputs). */
  private[streaming] def foldMarker(spark: SparkSession, path: String,
      fold: Fold): Unit = {
    val f = fs(spark, path)
    f.create(new Path(markersRoot(path),
      s"cmp-${fold.level}-${fold.start}-${fold.hi}"), true).close()
  }

  /** A RETRACTION run committed by [[MergeState.retractDelta]]: negated
    * delta rows that cancel previously-appended state additively (the
    * CRDT forget). Retractions live in their own sequence space
    * (`start`/`hi` are retraction sequence numbers, NOT batch ids) and
    * their own fold lattice — level 0 is one retraction each, and
    * [[MergeState.compactIfDue]] folds them among themselves by the
    * same oldest-`fanout` rule, superseded by strict range containment
    * exactly like [[Fold]]s. The id owns a distinct negative subspace
    * (bit 58) so it can never collide with fold ids or batch ids. */
  private[graft] case class Rt(level: Int, start: Long, hi: Long) {
    def id: Long = -((1L << 58) | ((hi + 1L) << 6) | level.toLong)
  }

  /** All committed retraction markers at `path` (`rt-<level>-<lo>-<hi>`
    * in the markers root — they survive rebuckets like fold markers). */
  private[graft] def rtMarkers(spark: SparkSession,
      path: String): Seq[Rt] = {
    val f = fs(spark, path)
    val dir = markersRoot(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("rt-") =>
        n.stripPrefix("rt-").split("-") }
      .collect {
        case Array(l, s, h) if Seq(l, s, h).forall(x =>
            x.nonEmpty && x.forall(_.isDigit)) =>
          Rt(l.toInt, s.toLong, h.toLong)
      }
  }

  /** Commit a retraction run (its write landed). */
  private[streaming] def rtMarker(spark: SparkSession, path: String,
      rt: Rt): Unit = {
    val f = fs(spark, path)
    f.create(new Path(markersRoot(path),
      s"rt-${rt.level}-${rt.start}-${rt.hi}"), true).close()
  }

  /** Retire a superseded retraction run's marker. */
  private[streaming] def dropRtMarker(spark: SparkSession,
      path: String, rt: Rt): Unit = {
    val f = fs(spark, path)
    val p = new Path(markersRoot(path),
      s"rt-${rt.level}-${rt.start}-${rt.hi}")
    if (f.exists(p)) f.delete(p, false)
    ()
  }

  /** Retire a superseded fold's marker (its range is covered by a
    * higher fold — cleanup after the covering fold committed). */
  private[streaming] def dropFoldMarker(spark: SparkSession,
      path: String, fold: Fold): Unit = {
    val f = fs(spark, path)
    val p = new Path(markersRoot(path),
      s"cmp-${fold.level}-${fold.start}-${fold.hi}")
    if (f.exists(p)) f.delete(p, false)
    ()
  }

  /** Sidecar: "nBuckets\tbucketCol\tgen\nschemaDDL" — what catalog
    * recovery and generation resolution need without reading any data.
    * ATOMIC: written to `.new`, closed, then renamed into place; when
    * `overwrite` (a rebucket swap) the stale main file is deleted
    * between the full write and the rename, so a missing main file
    * with live markers always has a COMPLETE `.new` to promote. */
  private def writeSidecar(spark: SparkSession, path: String,
      layout: Layout, overwrite: Boolean): Unit = {
    val f = fs(spark, path)
    val p = schemaPath(path)
    if (!overwrite && f.exists(p)) return
    val tmp = schemaTmpPath(path)
    val bytes =
      (s"${layout.nBuckets}\t${layout.bucketCol}\t${layout.gen}\n" +
        layout.ddl + "\n").getBytes("UTF-8")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (overwrite && f.exists(p)) f.delete(p, false)
    require(f.rename(tmp, p), s"sidecar rename failed at $path")
  }

  /** Parse the sidecar, promoting a mid-swap `.new` (main missing,
    * markers live ⇒ the temp is complete by protocol) first. Returns
    * None when no readable sidecar exists. */
  private def readSidecar(spark: SparkSession, path: String)
      : Option[Layout] = {
    val f = fs(spark, path)
    val p = schemaPath(path)
    val tmp = schemaTmpPath(path)
    if (!f.exists(p) && f.exists(tmp) && anyCommitted(spark, path))
      f.rename(tmp, p)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.split("\n", 2) match {
      case Array(head, ddl) => head.split("\t") match {
        case Array(n, c) if n.forall(_.isDigit) && n.nonEmpty =>
          Some(Layout(0, n.toInt, c, ddl.stripLineEnd))
        case Array(n, c, g)
            if n.forall(_.isDigit) && g.forall(_.isDigit) &&
              n.nonEmpty && g.nonEmpty =>
          Some(Layout(g.toInt, n.toInt, c, ddl.stripLineEnd))
        case _ => None
      }
      case _ => None
    }
  }

  /** Re-register the external table from its layout after catalog
    * loss: CREATE TABLE with the recorded schema/bucketing at the
    * state location, then recover the partition index. */
  private def reRegister(spark: SparkSession, path: String,
      l: Layout): Unit = {
    val name = tableNameG(path, l.gen)
    // MSCK fails on a missing location: recreate the data dir when it
    // was removed out-of-band while the batch markers survived
    fs(spark, path).mkdirs(dataDir(path, l.gen))
    spark.sql(s"""CREATE TABLE $name (${l.ddl}, __bt BIGINT)
      USING parquet
      PARTITIONED BY (__bt)
      CLUSTERED BY (`${l.bucketCol}`) SORTED BY (`${l.bucketCol}`)
        INTO ${l.nBuckets} BUCKETS
      LOCATION '${dataDir(path, l.gen)}'""")
    spark.sql(s"MSCK REPAIR TABLE $name")
    ()
  }

  /** The live layout when the state exists (registering its catalog
    * table from the sidecar if a previous session created the state);
    * None for a FRESH state path, dropping any stale registration left
    * by an earlier fixture at the same path. A corrupt-but-present
    * sidecar with live state self-repairs from the registered table's
    * own catalog metadata (schema, bucket spec, location ⇒ gen). */
  private[streaming] def liveLayout(spark: SparkSession, path: String)
      : Option[Layout] = {
    val f = fs(spark, path)
    // no committed batch ⇒ the state is logically empty even if a
    // crashed first append left debris
    if (!anyCommitted(spark, path)) {
      // fresh state: a same-path table from a deleted fixture would
      // otherwise read stale catalog partitions over missing files —
      // including REBUCKETED generations (`_g<n>` names), which the
      // sidecar-loss rebuild below would otherwise resurrect as the
      // layout. One pattern listing sweeps every generation's
      // registration (the name is content-addressed to the path, so
      // the prefix match can't catch another path's tables)
      val cat = spark.sessionState.catalog
      cat.listTables(cat.getCurrentDatabase, tableName(path) + "*")
        .foreach(cat.dropTable(_, ignoreIfNotExists = true,
          purge = false))
      None
    } else readSidecar(spark, path) match {
      case Some(l) =>
        if (!spark.catalog.tableExists(tableNameG(path, l.gen)))
          reRegister(spark, path, l)
        Some(l)
      case None =>
        // unreachable under the atomic sidecar protocol; if a sidecar
        // is destroyed out-of-band, rebuild it from the registered
        // table's catalog metadata rather than wedging forever
        val cat = spark.sessionState.catalog
        // HIGHEST registered generation WITH a data directory: a
        // crashed post-swap cleanup can leave the superseded generation
        // registered too, and rebuilding from it would resurrect stale
        // data while silently dropping every batch that landed after
        // the swap; a registration whose directory is gone is a stale
        // catalog entry, not a candidate. Candidates come from the data
        // dirs themselves, so a state rebucketed any number of times
        // stays recoverable.
        val gens = dataDirGens(spark, path).filter { g =>
          cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(
            tableNameG(path, g)))
        }.lastOption
        require(gens.nonEmpty,
          s"bucketed state at $path has live markers but no readable " +
            "sidecar and no registered table to rebuild it from")
        val meta = cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            tableNameG(path, gens.get)))
        val spec = meta.bucketSpec.getOrElse(
          sys.error(s"state table at $path lost its bucket spec"))
        val ddl = org.apache.spark.sql.types.StructType(
          meta.schema.filterNot(_.name == "__bt")).toDDL
        val l = Layout(gens.get, spec.numBuckets,
          spec.bucketColumnNames.head, ddl)
        writeSidecar(spark, path, l, overwrite = true)
        Some(l)
    }
  }

  /** Generations that have a data directory at `path` (`data` = 0,
    * `data-g<n>` = n), ascending — the candidate set for sidecar-loss
    * recovery and fresh-path registration sweeps. */
  private def dataDirGens(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName).collect {
      case "data" => 0
      case n if n.startsWith("data-g") &&
          n.stripPrefix("data-g").nonEmpty &&
          n.stripPrefix("data-g").forall(_.isDigit) =>
        n.stripPrefix("data-g").toInt
    }.sorted
  }

  /** Scrub commit-protocol staging debris under the live data dir: a
    * crashed job's committed task files under `_temporary/<attempt>`
    * would be adopted — silently merged into the partition — by the
    * next job's commitJob at the same attempt id. Cheap (one or two
    * existence probes) and run before every append. */
  private def scrubStaging(spark: SparkSession, path: String,
      gen: Int): Unit = {
    val f = fs(spark, path)
    val d = dataDir(path, gen)
    val tmp = new Path(d, "_temporary")
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(d))
      f.listStatus(d).foreach { st =>
        if (st.getPath.getName.startsWith(".spark-staging"))
          f.delete(st.getPath, true)
      }
  }

  /** ADDITIVE SCHEMA EVOLUTION: a delta whose schema is a strict
    * SUPERSET of the state's evolves the state in place — new columns
    * append to the DDL (sidecar first: it is the durable truth
    * catalog-loss recovery reads; then the catalog registration is
    * rebuilt at the widened schema — a crash between the two
    * self-heals on the next widened append). Old partitions simply
    * lack the new columns and read as NULL — the additive identity,
    * so a [[MergeState]] sum over evolved columns is correct by
    * construction (pre-evolution runs contribute nothing). Narrowing
    * is refused: a delta missing state columns is a bug, not an
    * evolution — write explicit nulls/zeros if a column emptied.
    * The bucket column can never change (it is the layout). */
  private def evolveIfWidened(spark: SparkSession, path: String,
      l: Layout, df: DataFrame): Layout = {
    import org.apache.spark.sql.types.StructType
    val existing = StructType.fromDDL(l.ddl)
    val missing = existing.fieldNames
      .filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"delta for state at $path is missing columns " +
        s"${missing.toSeq} — narrowing a state schema is not " +
        "supported (write explicit nulls/zeros instead)")
    val added = df.schema.filterNot(f =>
      existing.fieldNames.contains(f.name))
    if (added.isEmpty) return l
    val l2 = l.copy(ddl = StructType(existing ++ added).toDDL)
    writeSidecar(spark, path, l2, overwrite = true)
    // rebuild the registration at the widened schema (DROP leaves the
    // external data untouched; MSCK recovers the partition index)
    spark.sql(s"DROP TABLE IF EXISTS ${tableNameG(path, l.gen)}")
    reRegister(spark, path, l2)
    l2
  }

  /** Heal the evolve crash window: a sidecar widened ahead of a crash
    * leaves the live registration at the old schema — re-register at
    * the sidecar's DDL before any write resolves against it. One
    * catalog metadata read per call. */
  private def ensureRegistrationCurrent(spark: SparkSession,
      path: String, l: Layout): Unit = {
    val name = tableNameG(path, l.gen)
    if (spark.catalog.tableExists(name)) {
      // raw catalog metadata, not spark.table(name).schema — the latter
      // runs a full analyzer pass per append just to list field names
      val have = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
        .schema.fieldNames.toSet
      val want = org.apache.spark.sql.types.StructType
        .fromDDL(l.ddl).fieldNames
      if (!want.forall(have.contains)) {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        reRegister(spark, path, l)
      }
    }
  }

  /** Append `df` as batch `batchId`'s increment, exactly once: a
    * committed batch id (marker present) is a no-op; a crashed
    * previous attempt's partial partition directory AND staging debris
    * are deleted before the re-append. The increment is repartitioned
    * onto the bucket function (murmur3 pmod — `repartition(n, col)`
    * and the bucketed writer agree on it), so each task holds exactly
    * one bucket and the batch adds ONE file per non-empty bucket; this
    * increment-sized exchange plus the join's increment-side exchange
    * is the batch's whole shuffle bill, state never moves.
    *
    * `prePartitioned = true`: the caller already holds `df` exchanged
    * as `repartition(nBuckets, bucketCol)` (e.g. a persisted increment
    * whose partitioning the batch's join also reuses) — skip the
    * writer-side exchange instead of paying it twice. Ignored when the
    * live layout's bucket count differs from the caller's (a
    * [[rebucket]] happened): the append re-aligns to the live count.
    *
    * When the state is live, the LAYOUT's bucket count wins over the
    * caller's `nBuckets` — a rebucketed table keeps its new count even
    * though the gate's sink still passes the original sizing param. */
  def appendOnce(df: DataFrame, path: String, batchId: Long,
      bucketCol: String, nBuckets: Int,
      prePartitioned: Boolean = false): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    // lease BEFORE the idempotence probe: two sinks sharing a path run
    // independent batch-id sequences, so the second sink's batch 0
    // would otherwise no-op on the first sink's bt-0 marker and lose
    // its data silently
    acquireLease(spark, path)
    if (isCommitted(spark, path, batchId)) return
    val live = liveLayout(spark, path)
    val l0 = live.getOrElse(
      Layout(0, nBuckets, bucketCol, df.schema.toDDL))
    require(l0.bucketCol == bucketCol,
      s"state at $path is bucketed by ${l0.bucketCol}, not $bucketCol")
    val l = if (live.isDefined) {
      val l1 = evolveIfWidened(spark, path, l0, df)
      ensureRegistrationCurrent(spark, path, l1)
      l1
    } else l0
    val name = tableNameG(path, l.gen)
    // crashed attempt: its files are unregistered (invisible) but a
    // re-append into the same directory would double them. The catalog
    // partition can only exist if the directory did (a committed
    // append), so the DDL round-trip is gated on the same check
    val partDir = new Path(dataDir(path, l.gen), s"__bt=$batchId")
    if (f.exists(partDir)) {
      f.delete(partDir, true)
      if (live.isDefined) spark.sql(
        s"ALTER TABLE $name DROP IF EXISTS PARTITION (__bt=$batchId)")
    }
    scrubStaging(spark, path, l.gen)
    f.mkdirs(markersRoot(path))
    // fresh path OVERWRITES: a crashed first append may have left a
    // sidecar recording a different layout than this (re-sized) first
    // append actually writes — keeping it would register the wrong
    // bucket modulus over these files after a catalog loss
    writeSidecar(spark, path, l, overwrite = live.isEmpty)
    val aligned =
      if (prePartitioned && l.nBuckets == nBuckets) df
      else df.repartition(l.nBuckets, col(l.bucketCol))
    // write in DDL column order (evolution can leave the caller's
    // order differing from the table's; a narrow projection preserves
    // the alignment partitioning)
    val ordered = org.apache.spark.sql.types.StructType
      .fromDDL(l.ddl).fieldNames.toSeq
    // NOTE (round 12): a static-partition `INSERT INTO ... PARTITION
    // (__bt=N)` via a temp view was tried here to make the insert's
    // codegen batch-invariant and skip dynamic-partition bookkeeping —
    // MEASURED SLOWER (q_substr_gate 4.3 → 6.4 s/run, every gate
    // regressed ~1.5-2x: the SQL insert path re-analyzes the command
    // against the catalog and manages the partition registry per call,
    // costing more than the saveAsTable command it replaced). Keep the
    // dynamic-partition saveAsTable append.
    aligned.select(ordered.map(col): _*)
      .withColumn("__bt", lit(batchId))
      .write.mode("append").format("parquet")
      .partitionBy("__bt")
      .bucketBy(l.nBuckets, l.bucketCol).sortBy(l.bucketCol)
      .option("path", dataDir(path, l.gen).toString)
      .saveAsTable(name)
    // (no refreshTable: the insert path invalidates the cached relation
    // itself; SubstrGateSpec/SemGateSpec read-after-append would catch
    // a stale listing)
    // marker LAST: the append is the work, the marker is the commit
    f.create(markerPath(path, batchId), true).close()
  }

  /** Write `df` as the single partition `__bt = btValue` of the live
    * state table — [[MergeState]]'s compaction writer (btValue < 0 for
    * compacted base partitions; the normal append path owns the
    * non-negative id space). The caller owns idempotence. */
  private[streaming] def writeBt(df: DataFrame, path: String,
      btValue: Long): Unit = {
    val spark = df.sparkSession
    val l = liveLayout(spark, path).getOrElse(
      sys.error(s"writeBt on non-live state at $path"))
    ensureRegistrationCurrent(spark, path, l)
    val f = fs(spark, path)
    val partDir = new Path(dataDir(path, l.gen), s"__bt=$btValue")
    if (f.exists(partDir)) {
      f.delete(partDir, true)
      spark.sql(s"ALTER TABLE ${tableNameG(path, l.gen)} " +
        s"DROP IF EXISTS PARTITION (__bt=$btValue)")
    }
    scrubStaging(spark, path, l.gen)
    df.select(org.apache.spark.sql.types.StructType
        .fromDDL(l.ddl).fieldNames.toSeq.map(col): _*)
      .repartition(l.nBuckets, col(l.bucketCol))
      .withColumn("__bt", lit(btValue))
      .write.mode("append").format("parquet")
      .partitionBy("__bt")
      .bucketBy(l.nBuckets, l.bucketCol).sortBy(l.bucketCol)
      .option("path", dataDir(path, l.gen).toString)
      .saveAsTable(tableNameG(path, l.gen))
  }

  /** Drop a committed partition (compaction cleanup): catalog entry
    * and directory. Idempotent. The Layout-threaded overload lets a
    * compaction pass resolve the layout ONCE instead of re-reading the
    * sidecar per dropped partition. */
  private[streaming] def dropBt(spark: SparkSession, path: String,
      btValue: Long): Unit =
    liveLayout(spark, path).foreach(dropBt(spark, path, btValue, _))

  private[streaming] def dropBt(spark: SparkSession, path: String,
      btValue: Long, l: Layout): Unit = {
    spark.sql(s"ALTER TABLE ${tableNameG(path, l.gen)} " +
      s"DROP IF EXISTS PARTITION (__bt=$btValue)")
    val f = fs(spark, path)
    val partDir = new Path(dataDir(path, l.gen), s"__bt=$btValue")
    if (f.exists(partDir)) f.delete(partDir, true)
  }

  /** UNCOMMIT a committed batch append: drop its partition (data +
    * catalog) and delete its marker, in that order — a crash between
    * the two leaves a marker over a missing partition, and the next
    * retract of the same id finishes idempotently (the marker is what
    * keeps the id in [[committedBatches]] until the retract completes).
    * For maintenance operators only (e.g. a crashed epoch roll's
    * full-state snapshot pinned to a superseded prefix) — never for a
    * batch the stream could still replay, whose re-append would then
    * double its rows. */
  private[streaming] def retract(spark: SparkSession, path: String,
      batchId: Long): Unit = {
    liveLayout(spark, path).foreach(dropBt(spark, path, batchId, _))
    val f = fs(spark, path)
    val m = markerPath(path, batchId)
    if (f.exists(m)) f.delete(m, false)
    ()
  }

  /** Registered `__bt` partition values of the live table (compaction
    * bookkeeping — one catalog listing, no data touched). */
  private[streaming] def btValues(spark: SparkSession, path: String)
      : Seq[Long] = liveLayout(spark, path) match {
    case None => Seq.empty
    case Some(l) => btValues(spark, path, l)
  }

  private[streaming] def btValues(spark: SparkSession, path: String,
      l: Layout): Seq[Long] =
    spark.sql(s"SHOW PARTITIONS ${tableNameG(path, l.gen)}")
      .collect().toSeq
      .map(_.getString(0).stripPrefix("__bt=").toLong)

  /** The full live state WITH its `__bt` column ([[MergeState]]'s
    * substrate); None until a first batch has committed. */
  private[streaming] def readRaw(spark: SparkSession, path: String)
      : Option[DataFrame] =
    liveLayout(spark, path).map(l => spark.table(tableNameG(path, l.gen)))

  /** The state as it stood BEFORE batch `batchId` — one partition-
    * pruned bucketed scan (`__bt < batchId`), correct on fresh runs
    * and crash-replays alike. None until a first batch has committed
    * (same contract as [[GateKit.readPinnedBefore]]). REFUSES a path
    * with tiered fold markers: `__bt < b` admits every negative fold
    * partition, double-counting folds against superseded runs during
    * crash windows — a folded ([[MergeState]]) path must be read
    * through [[MergeState.readMerged]]. */
  def readBefore(spark: SparkSession, path: String,
      batchId: Long): Option[DataFrame] = {
    require(foldMarkers(spark, path).isEmpty &&
        rtMarkers(spark, path).isEmpty,
      s"state at $path has tiered compaction fold or retraction " +
        "markers; readBefore's __bt pruning would double-count folds " +
        "against the runs they supersede (and mis-time retractions) — " +
        "read merge-state through MergeState.readMerged")
    readRaw(spark, path)
      .map(_.filter(col("__bt") < batchId).drop("__bt"))
  }

  // ---- tombstones: the join-state forget ------------------------------
  // Takedown / right-to-be-forgotten for append-only join state. The
  // committed history is never rewritten in place; forgotten keys live
  // in a tiny DELETE-FILE sidecar (the Iceberg/Delta deletion-vector
  // pattern): [[forget]] records them exactly-once, every serve path
  // anti-joins them out ([[readBeforeServed]] — a broadcast of the
  // takedown set, increment-free), and the bytes are physically purged
  // by the next generation rewrite ([[purgeForgotten]], or any
  // [[rebucket]] — both already rewrite the state, so the purge is
  // free). The sidecar is itself a BucketedState table at
  // `<path>/tomb`, so forget idempotence, crash-window invisibility,
  // and catalog recovery are the same protocol as the state proper.

  private def tombRoot(path: String): String = path + "/tomb"

  /** Record `keys` as forgotten at `path`, exactly once per
    * `forgetId` (a retried takedown that finds its marker is a no-op).
    * `keys` must be a SINGLE-column frame whose column NAME is the
    * state column it filters (e.g. `id` for a doc-text table, `cid`
    * for an encoding table). Takes the exclusive maintenance lease:
    * a live stream's appends fail fast for the duration, so the
    * forget lands at a deterministic point in the batch order. */
  def forget(spark: SparkSession, path: String, keys: DataFrame,
      forgetId: Long): Unit = {
    require(keys.columns.length == 1,
      s"forget keys must be a single column, got ${keys.columns.toSeq}")
    withMaintenanceLease(spark, path) {
      appendOnce(keys, tombRoot(path), forgetId, keys.columns.head, 1)
    }
  }

  /** The forgotten-key set at `path` — one column, named as the state
    * column it filters. None when no forget has ever committed. */
  def forgottenKeys(spark: SparkSession, path: String)
      : Option[DataFrame] =
    readBefore(spark, tombRoot(path), Long.MaxValue)

  private[streaming] def antiTomb(df: DataFrame, tomb: DataFrame,
      onCol: String): DataFrame =
    df.join(broadcast(tomb.withColumnRenamed(tomb.columns.head,
      "__graft_fk")), df(onCol) === col("__graft_fk"), "left_anti")

  /** Anti-join `df` against `path`'s tombstones on `df(onCol)` —
    * broadcast (takedown sets are small by nature), so serve-through
    * adds no state-sized exchange anywhere. Identity when nothing was
    * ever forgotten. */
  def servedOn(spark: SparkSession, path: String, df: DataFrame,
      onCol: String): DataFrame =
    forgottenKeys(spark, path) match {
      case Some(t) => antiTomb(df, t, onCol)
      case None => df
    }

  /** [[readBefore]] SERVED THROUGH the tombstones: state rows whose
    * key was forgotten are filtered out, so a forgotten document can
    * never pair with a new arrival. Same contract as [[readBefore]]
    * otherwise. */
  def readBeforeServed(spark: SparkSession, path: String,
      batchId: Long): Option[DataFrame] = {
    val tomb = forgottenKeys(spark, path)
    readBefore(spark, path, batchId).map { df =>
      tomb match {
        case Some(t) => antiTomb(df, t, t.columns.head)
        case None => df
      }
    }
  }

  /** Physically remove the tombstoned keys' rows: one bounded
    * generation rewrite at the current bucket count (exactly the
    * [[rebucket]] machinery — `__bt` replay pinning preserved
    * verbatim). The REGISTRY persists (takedowns are forever —
    * downstream serve filters over append-only outputs keep using it);
    * a purge watermark makes re-purging with no new takedowns a no-op.
    * Exactly-once: the sidecar swap is the commit point; a crash
    * before it leaves the old generation intact (retry); a crash after
    * it but before the watermark leaves tombstones over already-purged
    * rows — the serve-through anti-join of absent rows is a harmless
    * no-op and the next purge re-runs. No-op when nothing new is
    * tombstoned or the state is empty. */
  def purgeForgotten(spark: SparkSession, path: String,
      onBeforeCommit: () => Unit = () => ()): Unit = {
    val maxForget = committedBatches(spark, tombRoot(path)).maxOption
    if (maxForget.isEmpty ||
      readPurgeWatermark(spark, path) == maxForget) return
    purgeForgottenForce(spark, path, onBeforeCommit)
  }

  private def purgeForgottenForce(spark: SparkSession, path: String,
      onBeforeCommit: () => Unit): Unit = writerId(spark) match {
    case Some(_) =>
      acquireLease(spark, path)
      rebucketBody(spark, path, 0, onBeforeCommit, purge = true)
    case None => withMaintenanceLease(spark, path) {
      rebucketBody(spark, path, 0, onBeforeCommit, purge = true)
    }
  }

  // ---- layout advisory: WHEN to rebucket ------------------------------

  /** One listing's worth of layout health for a live state table.
    * `skew` = max bucket bytes / mean bucket bytes (over all buckets,
    * empty included — an empty bucket is skew, the hash isn't using
    * it). `recommendedBuckets` = the power of two putting mean bucket
    * volume at or under the target. `rebucketDue` when the mean bucket
    * outgrew the target or skew exceeds 4× — the documented thresholds
    * (a bucket is the join-parallelism unit AND the shuffled-hash
    * build-side sizing unit, so an oversized or starved bucket is a
    * straggler/OOM risk long before it is a capacity problem). */
  case class StateAdvisory(nBuckets: Int, totalBytes: Long,
      maxBucketBytes: Long, skew: Double, recommendedBuckets: Int,
      rebucketDue: Boolean)

  /** Compute the [[StateAdvisory]] for `path` from one recursive
    * listing of the live generation's data directory (bucketed file
    * names carry their bucket id — `..._<NNNNN>.c000...`), metadata
    * only, no data read. None for fresh/empty state. */
  def advisory(spark: SparkSession, path: String,
      targetBytesPerBucket: Long = 256L << 20): Option[StateAdvisory] =
    liveLayout(spark, path).map { l =>
      val f = fs(spark, path)
      val perBucket = new Array[Long](l.nBuckets)
      val bucketRe = "_(\\d{5})\\.".r
      val it = f.listFiles(dataDir(path, l.gen), true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile)
          bucketRe.findFirstMatchIn(st.getPath.getName).foreach { m =>
            val b = m.group(1).toInt
            if (b < l.nBuckets) perBucket(b) += st.getLen
          }
      }
      val total = perBucket.sum
      val mean = total.toDouble / l.nBuckets
      val max = perBucket.max
      val skew = if (mean > 0) max / mean else 1.0
      var rec = 1
      while (rec < l.nBuckets ||
          total.toDouble / rec > targetBytesPerBucket) rec *= 2
      StateAdvisory(l.nBuckets, total, max, skew, rec,
        rebucketDue = mean > targetBytesPerBucket || skew > 4.0)
    }

  /** [[advisory]] + act: rebucket to the recommended count when the
    * advisory says the layout is due (exactly-once, under the
    * maintenance lease like any [[rebucket]]). Returns the advisory it
    * acted on. Call it from the same quiet boundary as any other
    * maintenance — e.g. every N batches from the operator driving the
    * stream. */
  def maybeRebucket(spark: SparkSession, path: String,
      targetBytesPerBucket: Long = 256L << 20): Option[StateAdvisory] = {
    val adv = advisory(spark, path, targetBytesPerBucket)
    adv.foreach { a =>
      if (a.rebucketDue && a.recommendedBuckets != a.nBuckets)
        rebucket(spark, path, a.recommendedBuckets)
    }
    adv
  }

  /** Re-shard the state into `newN` buckets, exactly once — the
    * 100 TB story for a gate that outgrows its layout constant, so it
    * never needs a new epoch. The rewrite lands in a fresh GENERATION
    * directory (`data-g<gen+1>`) under a new catalog name; the COMMIT
    * POINT is the atomic sidecar swap, after which every reader and
    * writer resolves the new generation. Crash windows:
    *
    *  - before the swap: the old generation is untouched and live; the
    *    half-written new directory is debris a retry deletes first;
    *  - mid-swap (main sidecar deleted, rename pending): the next
    *    sidecar read promotes the complete `.new` — the swap is
    *    effectively atomic with self-repair;
    *  - after the swap: the state is live at the new generation;
    *    the old directory/table are stale debris that this method (on
    *    a no-op retry) and the next rebucket sweep away.
    *
    * Batch markers and compaction fold markers live outside the data
    * directories and carry over untouched, so exactly-once replay
    * semantics are generation-independent. A no-op on fresh state
    * (nothing accumulated to re-shard — size a fresh gate via its
    * sink's `nBuckets` param instead). `onBeforeCommit` is a test seam
    * for crash injection immediately before the commit point. */
  def rebucket(spark: SparkSession, path: String, newN: Int,
      onBeforeCommit: () => Unit = () => ()): Unit = writerId(spark) match {
    // a streaming caller must hold the path's own lease; a maintenance
    // caller takes an exclusive lease so a live stream's appends fail
    // fast during the surgery instead of racing it
    case Some(_) =>
      acquireLease(spark, path)
      rebucketBody(spark, path, newN, onBeforeCommit)
    case None => withMaintenanceLease(spark, path) {
      rebucketBody(spark, path, newN, onBeforeCommit)
    }
  }

  private def rebucketBody(spark: SparkSession, path: String, newN: Int,
      onBeforeCommit: () => Unit, purge: Boolean = false): Unit = {
    val f = fs(spark, path)
    val live = liveLayout(spark, path)
    if (live.isEmpty) return
    val l = live.get
    // any generation rewrite physically applies pending tombstones for
    // free; a pure purge reuses the machinery at the current count
    val n2 = if (purge) l.nBuckets else newN
    val tomb = forgottenKeys(spark, path)
    if (purge && tomb.isEmpty) return
    // sweep stale generations (a crashed post-swap cleanup)
    if (f.exists(new Path(path))) f.listStatus(new Path(path)).foreach {
      st =>
        val n = st.getPath.getName
        val stale = (n == "data" && l.gen != 0) ||
          (n.startsWith("data-g") &&
            n.stripPrefix("data-g") != l.gen.toString)
        if (stale) {
          val g = if (n == "data") 0 else n.stripPrefix("data-g").toInt
          if (spark.catalog.tableExists(tableNameG(path, g)))
            spark.sql(s"DROP TABLE ${tableNameG(path, g)}")
          f.delete(st.getPath, true)
        }
    }
    if (l.nBuckets == n2 && !purge) return
    val newGen = l.gen + 1
    val newName = tableNameG(path, newGen)
    val newDir = dataDir(path, newGen)
    // debris from a crashed prior attempt
    if (spark.catalog.tableExists(newName))
      spark.sql(s"DROP TABLE $newName")
    if (f.exists(newDir)) f.delete(newDir, true)
    // one bounded rewrite of the accumulated state, __bt partitioning
    // (and with it replay pinning) preserved verbatim; pending
    // tombstones are physically dropped here (the serve-through filter
    // made them invisible already — this reclaims the bytes)
    val base = spark.table(tableNameG(path, l.gen))
    val rewritten = tomb match {
      case Some(t) => servedOn(spark, path, base, t.columns.head)
      case None => base
    }
    rewritten
      .repartition(n2, col(l.bucketCol))
      .write.mode("append").format("parquet")
      .partitionBy("__bt")
      .bucketBy(n2, l.bucketCol).sortBy(l.bucketCol)
      .option("path", newDir.toString)
      .saveAsTable(newName)
    onBeforeCommit()
    writeSidecar(spark, path,
      l.copy(gen = newGen, nBuckets = n2), overwrite = true)
    // post-commit cleanup (a crash here leaks until the next rebucket)
    spark.sql(s"DROP TABLE IF EXISTS ${tableNameG(path, l.gen)}")
    f.delete(dataDir(path, l.gen), true)
    // record how far the physical purge reached. The tombstone
    // REGISTRY itself is permanent — a takedown is forever, and
    // downstream serve filters (a gate's emitted-pair table is
    // append-only and never rewritten) keep anti-joining it; the
    // watermark only makes a re-purge with no new takedowns a no-op.
    if (tomb.isDefined)
      committedBatches(spark, tombRoot(path)).maxOption
        .foreach(writePurgeWatermark(spark, path, _))
    ()
  }

  private def purgeWatermarkPath(path: String) =
    new Path(markersRoot(path), "_purged")

  /** Highest forget id whose keys a generation rewrite has physically
    * purged (None = never purged). A torn read counts as absent — the
    * worst case is one redundant rewrite. */
  private def readPurgeWatermark(spark: SparkSession,
      path: String): Option[Long] = {
    val f = fs(spark, path)
    val p = purgeWatermarkPath(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val t = text.trim
      if (t.nonEmpty && t.forall(_.isDigit)) Some(t.toLong) else None
    }
  }

  private def writePurgeWatermark(spark: SparkSession, path: String,
      id: Long): Unit = {
    val f = fs(spark, path)
    val out = f.create(purgeWatermarkPath(path), true)
    try out.write(s"$id\n".getBytes("UTF-8")) finally out.close()
  }
}

package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal versioned-snapshot tables over plain parquet — the
  * metadata-layer pattern of the open lakehouse formats (a manifest
  * names the exact files of each version; data files are immutable),
  * small enough to audit:
  *
  *   path/data/c-<nonce>/part-*.parquet        immutable data files
  *   path/_manifests/v00003.txt                 "rowCount\nrelPath..."
  *
  * Why a pipeline at 100 TB needs this:
  *  - REPRODUCIBILITY: a training run records the table version it
  *    read; re-reading that version later returns byte-identical input
  *    no matter how many ingests landed since.
  *  - ATOMICITY: a version number is CLAIMED by creating its lock file
  *    with overwrite=false (an atomic create-if-absent on HDFS and
  *    local alike — rename-over-existing is NOT a reliable collision
  *    check on posix), and the manifest then renames into place, so
  *    readers see a version fully or not at all; a crashed writer
  *    leaves orphan data files and a dangling lock, never a partial
  *    version.
  *  - CHEAP APPEND + ROLLBACK: append writes only the increment — the
  *    new manifest re-lists the old files (metadata-sized, no data
  *    copy); rollback commits a manifest that re-lists an old
  *    version's files, O(manifest) regardless of table size.
  *
  * Concurrency: optimistic — racing committers collide on the lock
  * create; the loser rebuilds against the newer base and retries the
  * next number. Readers never lock.
  */
object VersionedTable {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_manifests")

  private def manifestPath(path: String, v: Int) =
    new Path(manifestDir(path), f"v$v%05d.txt")

  private def lockPath(path: String, v: Int) =
    new Path(manifestDir(path), f"v$v%05d.lock")

  /** COMMITTED versions, ascending (empty for a fresh/absent table). */
  def versions(spark: SparkSession, path: String): Seq[Int] =
    listNumbered(spark, path, "txt")

  private def listNumbered(spark: SparkSession, path: String,
      ext: String): Seq[Int] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches(s"v\\d{5}\\.$ext") =>
        n.substring(1, 6).toInt }
      .sorted
  }

  private def readManifest(spark: SparkSession, path: String, v: Int)
      : (Long, Seq[String]) = {
    val lines = manifestLines(spark, path, v)
    (lines.head.toLong, lines.tail.filterNot(_.startsWith("#")))
  }

  private def manifestLines(spark: SparkSession, path: String,
      v: Int): Seq[String] = {
    val f = fs(spark, path)
    val in = f.open(manifestPath(path, v))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  private def deadPath(path: String, v: Int) =
    new Path(manifestDir(path), f"v$v%05d.dead")

  /** Atomically claim the next free version number (lock files count as
    * claims, so a crashed writer's number is skipped, never reused;
    * `.dead` tombstones from abandoned claims likewise). */
  private def claimNext(spark: SparkSession, path: String): Int = {
    val f = fs(spark, path)
    var v = -1
    while (v < 0) {
      val taken = (listNumbered(spark, path, "txt") ++
        listNumbered(spark, path, "lock") ++
        listNumbered(spark, path, "dead"))
      val next = if (taken.isEmpty) 1 else taken.max + 1
      if (atomicClaim(f, lockPath(path, next))) {
        // TOCTOU guard: a committer that already PUBLISHED `next` (or
        // ABANDONED it — releaseClaim's tombstone) removes its lock, so
        // a listing that predates the manifest/tombstone can win the
        // RE-CREATED lock and double-assign the number. Publish (and
        // tombstone-create) strictly precede lock deletion, so at this
        // point either marker existing is a deterministic stale-number
        // signal: release and rescan.
        if (f.exists(manifestPath(path, next)) ||
            f.exists(deadPath(path, next)))
          f.delete(lockPath(path, next), false)
        else v = next
      }
      // else: lost the race; rescan and retry
    }
    v
  }

  /** create-if-absent that is ATOMIC on every scheme: HDFS/object
    * stores get the real exclusive create; the local filesystem needs
    * java.io's O_EXCL createNewFile — Hadoop's ChecksumFileSystem
    * implements overwrite=false as exists-then-create, a TOCTOU race
    * two same-box committers WILL hit. */
  private def atomicClaim(f: FileSystem, p: Path): Boolean =
    if (f.getScheme == "file")
      new java.io.File(p.toUri.getPath).createNewFile()
    else
      try { f.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }

  private def batchMarkerPath(path: String, batchId: Long, v: Int) =
    new Path(manifestDir(path), f"bt-$batchId%d-v$v%05d.txt")

  private def publish(spark: SparkSession, path: String, v: Int,
      rows: Long, files: Seq[String],
      batchTag: Option[Long] = None,
      statLines: Seq[String] = Seq.empty): Unit = {
    val f = fs(spark, path)
    val body = rows.toString + "\n" +
      batchTag.map(b => s"# batch=$b\n").getOrElse("") +
      statLines.map(_ + "\n").mkString +
      files.mkString("\n") + "\n"
    // batch MARKER before the manifest rename: the (batch, version)
    // pair rides in the FILE NAME, so committedBatches/versionOfBatch
    // are pure directory listings instead of one manifest read per
    // version (a long-lived stream's per-batch overhead would otherwise
    // grow linearly — O(versions²) cumulative metadata I/O). A crash
    // between marker and rename leaves a marker whose version is never
    // committed: harmless, because readers intersect markers with the
    // COMMITTED version set. The `# batch=` manifest line stays for the
    // audit path (history()).
    batchTag.foreach { b =>
      val out = f.create(batchMarkerPath(path, b, v), true)
      out.close()
    }
    val tmp = new Path(manifestDir(path),
      s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // we own this version number (the lock) — the rename target cannot
    // be contended, so the manifest appears atomically
    if (!f.rename(tmp, manifestPath(path, v)))
      throw new java.io.IOException(s"manifest publish failed for v$v")
    f.delete(lockPath(path, v), false)
  }

  /** Commit `df` as the next version. mode "overwrite": the new version
    * is exactly `df`. mode "append": the new version is the latest
    * committed version's files PLUS `df`'s — previous data is NOT
    * rewritten. Returns the committed version number.
    *
    * `statCols`: columns to record per-file min/max/null-count for in
    * the manifest (the zone-map/data-skipping metadata of the open
    * lakehouse formats). Stats ride as `# stat` comment lines, so
    * readers that predate them — and [[readManifest]] itself — skip
    * them for free; an APPEND re-lists the base version's stat lines
    * verbatim (stats describe immutable files, so they never go
    * stale). Collection is ONE column-pruned pass over the increment
    * (never the table), grouped by `_metadata.file_path`; parquet
    * footers could supply the same numbers from O(files) metadata
    * reads, but footer binary stats are truncation-lossy for strings —
    * the exact pass keeps [[readWhere]]'s pruning provably
    * conservative. */
  /** `bloomCols`: columns to record a per-file BLOOM FILTER for in the
    * manifest (bloomM bits, bloomK hashes each) — the point-predicate
    * complement to `statCols` zone maps: equality/IN lookups on keys
    * that interleave across files (where min/max spans everything)
    * prune through the blooms instead. Conservative by construction:
    * a bloom has no false negatives, absent blooms keep the file. */
  def commit(df: DataFrame, path: String, mode: String = "overwrite",
      statCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomM: Int = 1 << 14, bloomK: Int = 5): Int =
    commitImpl(df, path, mode, None, statCols,
      bloomCfg = bloomCols.map((_, bloomM, bloomK))).get

  /** Abandon an UNPUBLISHED claim (the optimistic-conflict path). The
    * number is BURNED, not freed: a `.dead` tombstone lands BEFORE the
    * lock is removed, so the number can never be re-claimed by a
    * straggler whose directory listing predated this claim — re-opening
    * it would let that straggler publish UNDER a higher claimant that
    * already finished awaiting its predecessors, silently dropping the
    * straggler's rows from the head (exactly the lost update the
    * optimistic machinery exists to prevent). Tombstones are ignored by
    * [[awaitPredecessors]] (nothing will ever publish there), counted
    * by [[claimNext]], and cost one empty file each. */
  private def releaseClaim(spark: SparkSession, path: String,
      v: Int): Unit = {
    val f = fs(spark, path)
    atomicClaim(f, deadPath(path, v))
    f.delete(lockPath(path, v), false)
  }

  /** `expectedBase`: read-validate-publish for derived commits (compact,
    * deleteWhere) whose DATA was computed FROM a base version — if any
    * other commit landed between the base read and this claim, the
    * derived data is stale and publishing it would silently drop the
    * interleaved commit's rows (the classic lost update; lakehouse
    * formats surface this as a write conflict). On mismatch the claim is
    * released, the just-written data dir deleted, and None returned so
    * the caller rebuilds against the newer base. Plain appends don't
    * need it: they re-list whatever base is latest AT CLAIM TIME. */
  private def commitImpl(df: DataFrame, path: String, mode: String,
      batchTag: Option[Long], statCols: Seq[String] = Seq.empty,
      expectedBase: Option[Int] = None,
      bloomCfg: Seq[(String, Int, Int)] = Seq.empty): Option[Int] = {
    require(mode == "overwrite" || mode == "append", s"bad mode $mode")
    val spark = df.sparkSession
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    // nonce-named data dir: version numbers are assigned at claim time,
    // after the (slow) data write, to keep the claim window tiny
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val dataDir = new Path(path, s"data/c-$nonce")
    writeSized(df, dataDir.toString)
    val newFiles = f.listStatus(dataDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted
      .map(n => s"data/c-$nonce/$n")
    // a fully-empty increment is a valid commit
    val newRows = countRows(spark, path, newFiles)
    // blooms are collected per (m, k) SIZING GROUP so a table whose
    // columns carry different recorded configurations keeps each one —
    // a single-sizing pass would silently resize them all to one config
    val newStats =
      (if (statCols.isEmpty || newFiles.isEmpty) Seq.empty[String]
       else collectStats(spark, path, newFiles, df.schema, statCols)) ++
      (if (bloomCfg.isEmpty || newFiles.isEmpty) Seq.empty[String]
       else bloomCfg.groupBy { case (_, m, k) => (m, k) }.toSeq
         .sortBy(_._1).flatMap { case ((m, k), cols) =>
           collectBlooms(spark, path, newFiles, df.schema,
             cols.map(_._1), m, k) })
    val v = claimNext(spark, path)
    if (mode == "append" || expectedBase.isDefined)
      awaitPredecessors(spark, path, v)
    val committed = versions(spark, path).filter(_ < v)
    if (expectedBase.exists(b => committed.lastOption.getOrElse(0) != b)) {
      releaseClaim(spark, path, v)
      f.delete(dataDir, true)
      return None
    }
    val (baseRows, baseFiles, baseStats) =
      if (mode == "append" && committed.nonEmpty) {
        val (r, fl) = readManifest(spark, path, committed.max)
        (r, fl, metaLinesOf(spark, path, committed.max))
      } else (0L, Seq.empty[String], Seq.empty[String])
    publish(spark, path, v, baseRows + newRows, baseFiles ++ newFiles,
      batchTag, baseStats ++ newStats)
    Some(v)
  }

  /** Commit-path data write with OUTPUT FILE SIZING (opt guide §6:
    * "aim for output files in the 128 MB - 1 GB range", §2.2 "fewer,
    * larger partitions"): AQE's partition coalescing is flipped from
    * parallelism-first to SIZE-first for exactly this write command, so
    * the final (write) stage coalesces to the advisory partition size —
    * one file per ~64 MB of output instead of one per shuffle partition
    * (32 core-count-sized shards at local, thousands at cluster scale).
    * A commit-sized increment then costs O(files) instead of O(cores)
    * in everything downstream of the write: the commit's own listing +
    * footer row-count, the manifest, and every reader's scan planning.
    * Scoped HERE, not session-wide: round 11 measured the session-wide
    * flip regressing compute-heavy mid-plan stages (q_basket_lift
    * 1.7→3.0 s — tiny tasks carrying real per-row work); a commit's
    * terminal write stage has no such downstream, so size-first is
    * strictly right for it. Round 12 A/B (gates, 3 adjacent runs per JVM):
    * sem 7.4→6.9, substr 4.6→4.2, boilerplate 3.4→3.0,
    * changepoint 3.5→3.1 s/run. Conf restored in finally: the prior
    * explicit setting, or unset when there was none (`getOption` would
    * return the default and leave it pinned on the session). */
  private def writeSized(df: DataFrame, dir: String): Unit = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val prev = conf.getAll.get(key)
    conf.set(key, "false")
    try df.write.parquet(dir)
    finally prev match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  /** Exact row count of manifest-relative files from parquet FOOTER
    * metadata — zero Spark jobs for commit-sized lists (a tiny
    * streaming append was otherwise paying a full count job just to
    * record its manifest row total). Falls back to one distributed
    * count for large lists, where a serial driver-side loop over
    * thousands of footers would be slower than the job it avoids. */
  private def countRows(spark: SparkSession, path: String,
      relFiles: Seq[String]): Long =
    if (relFiles.isEmpty) 0L
    else if (relFiles.size <= 256) {
      val conf = spark.sessionState.newHadoopConf()
      // footer opens are independent metadata reads — do them in
      // parallel (a serial driver loop was ~5-10 ms × files of pure
      // latency inside every streaming commit's timed slot)
      import scala.collection.parallel.CollectionConverters._
      relFiles.par.map { r =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(s"$path/$r"), conf)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rd.getRecordCount finally rd.close()
      }.sum
    } else spark.read.parquet(relFiles.map(r => s"$path/$r"): _*).count()

  /** Append must base on its TRUE predecessor chain: a racing writer
    * that claimed a smaller number but has not yet published would
    * otherwise be invisible at base-read time and its rows silently
    * dropped from every later append (the classic lost update). Waiting
    * on smaller-numbered locks is deadlock-free — writers only ever
    * wait DOWNWARD. A lock that never resolves within the timeout is a
    * crashed writer: its number stays a documented gap and the append
    * proceeds without it. */
  private def awaitPredecessors(spark: SparkSession, path: String,
      v: Int, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline &&
      listNumbered(spark, path, "lock").exists(_ < v))
      Thread.sleep(50)
  }

  /** Micro-batch ids already committed (the `# batch=` manifest tags).
    * Small-table scan: one manifest read per version — at production
    * version counts, check only the recent tail. */
  /** Table HISTORY as a DataFrame — the metadata-layer audit readout
    * (the `table$snapshots` shape other lakehouse formats expose): one
    * row per committed version with its row count, file count, and
    * streaming batch tag, all read from manifests with ZERO data I/O —
    * auditing a 100 TB table's ingest history costs kilobytes. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    versions(spark, path).sorted.map { v =>
      val (rows, files) = readManifest(spark, path, v)
      val batch = manifestLines(spark, path, v)
        .find(_.startsWith("# batch="))
        .map(_.stripPrefix("# batch=").toLong)
      (v, rows, files.size, batch)
    }.toDF("version", "n_rows", "n_files", "batch_id")
  }

  /** (batchId, version) pairs from the batch marker files, restricted
    * to COMMITTED versions — two directory listings, zero manifest
    * reads, however many versions the table has accumulated. */
  private def batchMarkers(spark: SparkSession,
      path: String): Seq[(Long, Int)] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return Seq.empty
    val committed = versions(spark, path).toSet
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("bt-") && n.endsWith(".txt") =>
        val core = n.stripPrefix("bt-").stripSuffix(".txt")
        val i = core.lastIndexOf("-v")
        (core.substring(0, i).toLong, core.substring(i + 2).toInt)
      }
      .filter(m => committed.contains(m._2))
  }

  def committedBatches(spark: SparkSession, path: String): Set[Long] =
    batchMarkers(spark, path).map(_._1).toSet

  /** The version a given streaming batch id committed as (None if the
    * batch never landed) — the replay-pinning primitive: a crash-replay
    * that needs "the table as it stood BEFORE this batch" reads the
    * version preceding this one. */
  def versionOfBatch(spark: SparkSession, path: String,
      batchId: Long): Option[Int] =
    batchMarkers(spark, path).collect {
      case (b, v) if b == batchId => v }.minOption

  /** Idempotent streaming commit: structured streaming's foreachBatch
    * re-delivers the last epoch after a recovery, so a batch id that
    * already appears in a committed manifest is skipped (returns None).
    * The id is tagged INSIDE the manifest, so the commit and its
    * replay marker appear atomically — there is no crash window where
    * the data landed but the marker did not. One writing stream per
    * table: ids are compared globally, not per query. */
  def streamingCommit(batch: DataFrame, batchId: Long, path: String,
      mode: String = "append",
      statCols: Seq[String] = Seq.empty): Option[Int] =
    if (committedBatches(batch.sparkSession, path).contains(batchId)) None
    else commitImpl(batch, path, mode, Some(batchId), statCols)

  /** `ds.writeStream.foreachBatch(VersionedTable.sink(path))` — every
    * micro-batch becomes one APPEND version with exactly-once manifest
    * semantics (see [[streamingCommit]]). */
  def sink(path: String, mode: String = "append",
      statCols: Seq[String] = Seq.empty)
      : (DataFrame, Long) => Unit =
    (batch, batchId) =>
      { streamingCommit(batch, batchId, path, mode, statCols); () }

  /** Read a version (default: latest committed). Time travel = pass the
    * version a past run recorded. The read plans over EXACTLY the
    * manifest's files — later commits are invisible.
    *
    * `mergeSchema = true` unions the schemas of all the version's files
    * — the additive-column evolution path: an append whose increment
    * carries a NEW column still reads as one table (old files yield
    * null for it). Off by default: schema union costs a footer read per
    * file and silently widens types, so turn it on only for tables that
    * actually evolve. */
  def read(spark: SparkSession, path: String,
      version: Option[Int] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val (_, files) = readManifest(spark, path, v)
    require(files.nonEmpty, s"version $v lists no files")
    spark.read
      .option("mergeSchema", mergeSchema.toString)
      .parquet(files.map(r => s"$path/$r"): _*)
  }

  /** Compact the latest version into `nFiles` files, committed as a new
    * OVERWRITE version — logically identical data (same rows), fresh
    * physical layout. The small-files antidote for tables grown by many
    * tiny streaming/ingest appends: readers of old versions are
    * untouched (their manifests still name the old files), and after
    * retention lapses the old dirs surface via [[orphanDataDirs]].
    * Size `nFiles` from the manifest row count and the row-group audit
    * (`q_parquet_meta`) — target 128-256 MB per file at rest. */
  def compact(spark: SparkSession, path: String, nFiles: Int,
      statCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomM: Int = 1 << 14, bloomK: Int = 5,
      maxRetries: Int = 10): Int = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    // optimistic loop: the compacted data derives from `latest`, so the
    // publish must verify nothing committed in between (else the
    // interleaved commit's rows would vanish from the table head) —
    // on conflict, rebuild from the new latest and retry. BOUNDED: each
    // retry pays a full data rewrite, so under a sustained append
    // stream an uncapped loop would livelock rewriting forever — a hot
    // table should fail loudly and let the caller reschedule.
    var out = Option.empty[Int]
    var attempts = 0
    while (out.isEmpty) {
      if (attempts > maxRetries) throw new IllegalStateException(
        s"compact($path) lost the optimistic publish race $attempts " +
          "times (concurrent commits kept landing); raise maxRetries " +
          "or run maintenance in a quieter window")
      attempts += 1
      val latest = versions(spark, path).last
      val df = read(spark, path, Some(latest)).repartition(nFiles)
      // a maintenance compact must not silently strip the table's
      // data-skipping metadata (the deleteWhere invariant): with no
      // explicit columns, re-stat / re-bloom whatever the base manifest
      // recorded — each bloom column with ITS OWN recorded (m, k)
      // sizing, preserved per group by commitImpl
      val fields = df.schema.fieldNames.toSet
      val sCols =
        if (statCols.nonEmpty) statCols
        else statLinesOf(spark, path, latest)
          .map(_.stripPrefix(statTag).split("\t", -1)(2)).distinct
          .filter(fields.contains)
      val baseBloomCfg = metaLinesOf(spark, path, latest)
        .filter(_.startsWith(bloomTag))
        .map(_.stripPrefix(bloomTag).split("\t", -1))
        .collect { case Array(_, c, _, m, k, _) if fields.contains(c) =>
          (c, m.toInt, k.toInt) }
        .distinct
      val bCfg =
        if (bloomCols.nonEmpty || baseBloomCfg.isEmpty)
          bloomCols.map((_, bloomM, bloomK))
        else baseBloomCfg
      out = commitImpl(df,
        path, mode = "overwrite", batchTag = None, statCols = sCols,
        expectedBase = Some(latest), bloomCfg = bCfg)
    }
    out.get
  }

  /** Exact row count of a version from its manifest — zero data I/O. */
  def rowCount(spark: SparkSession, path: String, v: Int): Long =
    readManifest(spark, path, v)._1

  /** Roll back by committing a NEW version whose manifest re-lists
    * `toVersion`'s files — history stays intact (an audit can still
    * read the bad versions), data files are untouched. Stat lines ride
    * along: they describe the immutable files, not the version. */
  def rollback(spark: SparkSession, path: String, toVersion: Int): Int = {
    val (rows, files) = readManifest(spark, path, toVersion)
    val v = claimNext(spark, path)
    publish(spark, path, v, rows, files,
      statLines = metaLinesOf(spark, path, toVersion))
    v
  }

  /** Snapshot DIFF between two committed versions, classified per key:
    * insert / delete / update / unchanged — the CDC feed a downstream
    * consumer derives WITHOUT the table ever emitting change events
    * (this is how lakehouse tables serve incremental consumers). Only
    * `keyCols ++ compareCols` are read (column-pruned at both scans);
    * comparison is null-safe. One full-outer join on the key — with
    * snapshots bucketed at rest it is exchange-free, and an
    * append-mostly history means the overlap is shared files serving
    * both sides from cache. */
  def diff(spark: SparkSession, path: String, vOld: Int, vNew: Int,
      keyCols: Seq[String], compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce, col, lit, when}
    val cols = keyCols ++ compareCols
    val o = read(spark, path, Some(vOld))
      .select(cols.map(c => col(c).as(s"__o_$c")): _*)
    val n = read(spark, path, Some(vNew))
      .select(cols.map(c => col(c).as(s"__n_$c")): _*)
    val on = keyCols.map(k => col(s"__o_$k") <=> col(s"__n_$k"))
      .reduce(_ && _)
    val changed = compareCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val oKeyNull = keyCols.map(k => col(s"__o_$k").isNull).reduce(_ && _)
    val nKeyNull = keyCols.map(k => col(s"__n_$k").isNull).reduce(_ && _)
    o.join(n, on, "full_outer")
      .select(
        keyCols.map(k =>
          fnCoalesce(col(s"__o_$k"), col(s"__n_$k")).as(k)) ++
        Seq(when(oKeyNull, "insert")
          .when(nKeyNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged").as("change_type")): _*)
  }

  /** Targeted DELETE (the right-to-be-forgotten path): commit a new
    * version without the rows matching `predicate`, rewriting ONLY the
    * data files that actually contain matches — every untouched file is
    * re-listed in the new manifest verbatim. At 100 TB this is the
    * difference between rewriting a partition's worth of files and
    * rewriting the table: the match scan prunes columns to the
    * predicate's and ships back only distinct FILE NAMES (driver-sized),
    * then the rewrite job reads just the hit files.
    *
    * History semantics are the lakehouse ones: prior versions still
    * list the old files, so time travel BEFORE the delete still sees
    * the deleted rows until those versions are vacuumed
    * ([[orphanDataDirs]] after retention). Vacuum granularity is the
    * commit DIRECTORY, and the new manifest re-lists untouched files
    * from their original dirs — so full physical forgetting is
    * deleteWhere + [[compact]] (fresh layout, nothing references the
    * old dirs) + retention lapse + vacuum; the spec pins that
    * composition. Returns the new version number. */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      maxRetries: Int = 10): Int = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, path)
    // optimistic loop (same contract as [[compact]]): keep/rewrite sets
    // derive from the base version read below, so the publish must
    // verify the base is STILL the latest committed version at claim
    // time — a concurrent append landing in between would otherwise be
    // silently absent from the new table head (lost update). BOUNDED
    // like compact's: fail loudly instead of rewriting forever under a
    // sustained concurrent-append stream.
    var out = Option.empty[Int]
    var attempts = 0
    while (out.isEmpty) {
      if (attempts > maxRetries) throw new IllegalStateException(
        s"deleteWhere($path) lost the optimistic publish race " +
          s"$attempts times (concurrent commits kept landing); raise " +
          "maxRetries or run maintenance in a quieter window")
      attempts += 1
      val latest = versions(spark, path).last
      val (_, files) = readManifest(spark, path, latest)
      val abs = files.map(r => s"$path/$r")
      // relative manifest path of each absolute scan path, by suffix
      def rel(filePath: String): String = {
        val i = filePath.lastIndexOf("/data/")
        filePath.substring(i + 1)
      }
      val src = spark.read.parquet(abs: _*)
      val hitFiles = src
        .filter(predicate)
        .select(col("_metadata.file_path").as("f"))
        .distinct().collect().map(r => rel(r.getString(0))).toSet
      val keep = files.filterNot(hitFiles.contains)
      val keepRows = countRows(spark, path, keep)
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      val dataDir = new Path(path, s"data/c-$nonce")
      val (newFiles, newRows) =
        if (hitFiles.isEmpty) (Seq.empty[String], 0L)
        else {
          // survivors = rows where the predicate is NOT TRUE (false OR
          // null) — SQL DELETE semantics; plain !pred would also drop
          // null-evaluating rows, which the hit-file scan (pred = TRUE)
          // never selected — the two passes must agree on row fate
          val survivors = spark.read
            .parquet(hitFiles.toSeq.sorted.map(r => s"$path/$r"): _*)
            .filter(!org.apache.spark.sql.functions
              .coalesce(predicate, org.apache.spark.sql.functions.lit(false)))
          survivors.write.parquet(dataDir.toString)
          val names = f.listStatus(dataDir).toSeq.map(_.getPath.getName)
            .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
            .sorted.map(n => s"data/c-$nonce/$n")
          (names, countRows(spark, path, names))
        }
      // zone maps AND blooms survive the delete: untouched files carry
      // their base metadata lines verbatim (they describe immutable
      // files), and the rewritten files get fresh stats/blooms over the
      // SAME columns and sizing the base recorded — a targeted delete
      // must not silently strip the table's data-skipping metadata
      val keepSet = keep.toSet
      val baseStats = statLinesOf(spark, path, latest)
      val baseBlooms = metaLinesOf(spark, path, latest)
        .filter(_.startsWith(bloomTag))
      val keptStats = (baseStats ++ baseBlooms).filter { l =>
        val rel = l.stripPrefix(statTag).stripPrefix(bloomTag)
          .split("\t", -1)(0)
        keepSet.contains(rel)
      }
      val baseStatCols = baseStats
        .map(_.stripPrefix(statTag).split("\t", -1)(2)).distinct
        .filter(src.schema.fieldNames.contains)
      val baseBloomCfg = baseBlooms
        .map(_.stripPrefix(bloomTag).split("\t", -1))
        .collect { case Array(_, c, _, m, k, _)
          if src.schema.fieldNames.contains(c) => (c, m.toInt, k.toInt) }
        .distinct
      val newStats =
        (if (newFiles.isEmpty || baseStatCols.isEmpty) Seq.empty[String]
         else collectStats(spark, path, newFiles, src.schema,
           baseStatCols)) ++
        (if (newFiles.isEmpty) Seq.empty[String]
         else baseBloomCfg.flatMap { case (c, m, k) =>
           collectBlooms(spark, path, newFiles, src.schema, Seq(c), m, k) })
      val v = claimNext(spark, path)
      awaitPredecessors(spark, path, v)
      if (versions(spark, path).filter(_ < v).max == latest) {
        publish(spark, path, v, keepRows + newRows, keep ++ newFiles,
          statLines = keptStats ++ newStats)
        out = Some(v)
      } else {
        releaseClaim(spark, path, v)
        if (newFiles.nonEmpty) f.delete(dataDir, true)
      }
    }
    out.get
  }

  // ------------------------------------------------------------------
  // Per-file column stats (manifest zone maps) + data-skipping reads
  // ------------------------------------------------------------------

  /** One stat-column's per-file summary. `kind` pins the comparison
    * semantics: "i" integral, "dt" date (epoch days), "ts" timestamp
    * (epoch micros), "d" double, "s" string. min/max are canonical
    * strings in that kind's decoded space; None = the file is all-null
    * for the column (a comparison predicate can never match there). */
  case class ColStat(kind: String, min: Option[String],
      max: Option[String], nulls: Long)

  /** Per-file stats block: row count + per-column [[ColStat]]. */
  case class FileStat(file: String, rows: Long, cols: Map[String, ColStat])

  private val statTag = "# stat\t"

  // stat VALUES are URL-encoded (tab/newline-proof) and prefixed "v";
  // a bare "-" is the all-null marker — unambiguous because encoded
  // values always start with "v"
  private def encVal(v: Any): String =
    if (v == null) "-"
    else "v" + java.net.URLEncoder.encode(v.toString, "UTF-8")

  private def decVal(s: String): Option[String] =
    if (s == "-") None
    else Some(java.net.URLDecoder.decode(s.substring(1), "UTF-8"))

  /** Ordering-preserving projection of a stat column to its canonical
    * comparable space, plus the kind tag. Unsupported types are
    * rejected at commit time — silently stat-less columns would make
    * [[readWhere]] quietly never prune them. */
  private def statProjection(schema: org.apache.spark.sql.types.StructType,
      c: String): (org.apache.spark.sql.Column, String) = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (col(c).cast("long"), "i")
      case DateType =>
        (expr(s"datediff(`$c`, date'1970-01-01')").cast("long"), "dt")
      case TimestampType | TimestampNTZType =>
        (expr(s"unix_micros(cast(`$c` as timestamp))"), "ts")
      case FloatType | DoubleType => (col(c).cast("double"), "d")
      case StringType => (col(c), "s")
      case other => throw new IllegalArgumentException(
        s"statCols: unsupported type $other for column $c")
    }
  }

  /** ONE grouped pass over the just-written increment: per file, row
    * count + min/max/null-count of each stat column in its canonical
    * space. The scan is pruned to `_metadata.file_path` + the stat
    * columns; result size is O(files × statCols) — driver-safe by the
    * same argument as the manifest itself. */
  private def collectStats(spark: SparkSession, path: String,
      relFiles: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      statCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions._
    val projs = statCols.map(c => statProjection(schema, c))
    val src = spark.read.parquet(relFiles.map(r => s"$path/$r"): _*)
    val sel = col("_metadata.file_path").as("__f") +:
      projs.zipWithIndex.map { case ((p, _), i) => p.as(s"__v$i") }
    val aggs = count(lit(1)).as("__n") +:
      statCols.indices.flatMap(i => Seq(
        min(col(s"__v$i")).as(s"__mn$i"),
        max(col(s"__v$i")).as(s"__mx$i"),
        sum(when(col(s"__v$i").isNull, 1L).otherwise(0L)).as(s"__nl$i")))
    val rows = src.select(sel: _*).groupBy(col("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.toSeq.flatMap { r =>
      val abs = r.getString(0)
      val rel = abs.substring(abs.lastIndexOf("/data/") + 1)
      val n = r.getLong(1)
      statCols.zipWithIndex.map { case (c, i) =>
        statTag + Seq(rel, n.toString, c, projs(i)._2,
          encVal(r.get(2 + 3 * i)), encVal(r.get(3 + 3 * i)),
          r.getLong(4 + 3 * i).toString).mkString("\t")
      }
    }.sorted
  }

  private def statLinesOf(spark: SparkSession, path: String,
      v: Int): Seq[String] =
    manifestLines(spark, path, v).filter(_.startsWith(statTag))

  // ------------------------------------------------------------------
  // Per-file Bloom filters (point-predicate skipping)
  // ------------------------------------------------------------------

  private val bloomTag = "# bloom\t"

  /** Stat + bloom lines together — the full per-file metadata a derived
    * commit (append/rollback/delete) carries forward for files it
    * re-lists verbatim. */
  private def metaLinesOf(spark: SparkSession, path: String,
      v: Int): Seq[String] =
    manifestLines(spark, path, v)
      .filter(l => l.startsWith(statTag) || l.startsWith(bloomTag))

  /** One column's per-file Bloom filter. `kind` pins the key
    * canonicalization ("i" integral via pmod(value, P); "s" string via
    * pmod(xxhash64(value), P)); mask is m bits in m/64 longs. */
  case class BloomStat(kind: String, m: Int, k: Int, mask: Array[Long]) {
    def mightContain(key: Long): Boolean = {
      val h1 = key * 2654435761L % graft.functions.XFormulas.P
      val h2 = (key * 40503L + 7919L) % graft.functions.XFormulas.P + 1L
      var i = 0L
      while (i < k) {
        val p = (h1 + i * h2) % m
        if ((mask((p >> 6).toInt) & (1L << (p & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }

  /** Bloom key canonicalization for a column: the SQL expression whose
    * value feeds [[graft.operators.Bloom.positionsSql]], plus the kind
    * tag. NULL keys contribute no bits (nullness is the zone maps'
    * job); unsupported types are rejected at commit time for the same
    * reason as [[statProjection]]. */
  private def bloomKey(schema: org.apache.spark.sql.types.StructType,
      c: String): (String, String) = {
    import org.apache.spark.sql.types._
    val P = graft.functions.XFormulas.P
    schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (s"pmod(CAST(`$c` AS BIGINT), $P)", "i")
      case StringType => (s"pmod(xxhash64(`$c`), $P)", "s")
      case other => throw new IllegalArgumentException(
        s"bloomCols: unsupported type $other for column $c")
    }
  }

  /** Per-file Bloom masks in ONE distributed pass: key positions →
    * (file, word, bit) → bit_or aggregation — the collect is bounded by
    * files × m/64 longs (metadata-sized, like the manifest), never by
    * row or key count. At very large file counts the bloom lines move
    * to a sidecar metadata file (the puffin-style pattern); the
    * mechanism below is unchanged. */
  private def collectBlooms(spark: SparkSession, path: String,
      relFiles: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      bloomCols: Seq[String], m: Int, k: Int): Seq[String] = {
    import org.apache.spark.sql.functions._
    require(m % 64 == 0 && m > 0,
      s"bloomM must be a positive multiple of 64, got $m")
    val src = spark.read.parquet(relFiles.map(r => s"$path/$r"): _*)
    bloomCols.flatMap { c =>
      val (keyExpr, kind) = bloomKey(schema, c)
      val words = src
        .filter(col(c).isNotNull)
        .select(col("_metadata.file_path").as("__f"),
          explode(expr(
            graft.operators.Bloom.positionsSql(keyExpr, m, k))).as("p"))
        .groupBy(col("__f"), expr("CAST(p DIV 64 AS INT)").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(p % 64 AS INT)))").as("bits"))
        .collect()
      words.toSeq.groupBy(r => r.getString(0)).toSeq.map {
        case (abs, rows) =>
          val rel = abs.substring(abs.lastIndexOf("/data/") + 1)
          val mask = new Array[Long](m / 64)
          rows.foreach(r => mask(r.getInt(1)) |= r.getLong(2))
          bloomTag + Seq(rel, c, kind, m.toString, k.toString,
            mask.map(java.lang.Long.toHexString).mkString(","))
            .mkString("\t")
      }
    }.sorted
  }

  /** Per-file Bloom filters of a version (default latest), parsed from
    * the manifest — zero data I/O. file → column → [[BloomStat]]. */
  def fileBlooms(spark: SparkSession, path: String,
      version: Option[Int] = None)
      : Map[String, Map[String, BloomStat]] = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    val (_, files) = readManifest(spark, path, v)
    val inVersion = files.toSet
    manifestLines(spark, path, v)
      .filter(_.startsWith(bloomTag))
      .map(_.stripPrefix(bloomTag).split("\t", -1))
      .collect { case Array(rel, c, kind, m, k, hex) if inVersion(rel) =>
        (rel, c, BloomStat(kind, m.toInt, k.toInt,
          hex.split(",", -1).map(java.lang.Long.parseUnsignedLong(_, 16))))
      }
      .groupBy(_._1)
      .map { case (rel, ts) =>
        rel -> ts.map(t => t._2 -> t._3).toMap }
  }

  /** Per-file stats of a version (default latest), parsed from the
    * manifest — ZERO data I/O, the zone-map read path. Files committed
    * without `statCols` are simply absent. */
  def fileStats(spark: SparkSession, path: String,
      version: Option[Int] = None): Seq[FileStat] = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    val (_, files) = readManifest(spark, path, v)
    val inVersion = files.toSet
    statLinesOf(spark, path, v)
      .map(_.stripPrefix(statTag).split("\t", -1))
      .collect { case Array(rel, n, c, kind, mn, mx, nl)
        if inVersion(rel) =>
        (rel, n.toLong, c, ColStat(kind, decVal(mn), decVal(mx), nl.toLong))
      }
      .groupBy(t => (t._1, t._2))
      .toSeq.sortBy(_._1._1)
      .map { case ((rel, n), ts) =>
        FileStat(rel, n, ts.map(t => t._3 -> t._4).toMap) }
  }

  /** [[fileStats]] as a DataFrame: one row per (file, column) with the
    * canonical-space min/max strings — the audit/readout surface. */
  def fileStatsDf(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    fileStats(spark, path, version).flatMap { fsRow =>
      fsRow.cols.toSeq.sortBy(_._1).map { case (c, st) =>
        (fsRow.file, fsRow.rows, c, st.kind, st.min.orNull,
          st.max.orNull, st.nulls) }
    }.toDF("file", "n_rows", "col", "kind", "min_v", "max_v", "n_nulls")
  }

  // ---- conservative may-match evaluation of a predicate over stats ----

  private def cmpCanon(kind: String, a: String, b: String): Int =
    kind match {
      case "i" | "dt" | "ts" => java.lang.Long.compare(a.toLong, b.toLong)
      case "d" => java.lang.Double.compare(a.toDouble, b.toDouble)
      case _ => a.compareTo(b)
    }

  /** A literal rendered into `kind`'s canonical space — None when the
    * literal's type does not align with the column's semantics (a
    * date-days bound must never be compared against micros), which
    * disables pruning for that conjunct rather than risking a wrong
    * skip. */
  private def litCanon(kind: String,
      l: org.apache.spark.sql.catalyst.expressions.Literal)
      : Option[String] = {
    import org.apache.spark.sql.types._
    if (l.value == null) None
    else (kind, l.dataType) match {
      case ("i", ByteType | ShortType | IntegerType | LongType) =>
        Some(l.value.toString)
      case ("d", ByteType | ShortType | IntegerType | LongType) =>
        Some(l.value.toString)
      case ("d", DoubleType) => Some(l.value.toString)
      case ("d", FloatType) =>
        Some(l.value.asInstanceOf[Float].toDouble.toString)
      case ("dt", DateType) => Some(l.value.toString) // internal = days
      case ("ts", TimestampType | TimestampNTZType) =>
        Some(l.value.toString) // internal = micros
      case ("s", StringType) => Some(l.value.toString)
      case _ => None
    }
  }

  /** A literal canonicalized into a bloom's key space — must reproduce
    * [[bloomKey]]'s Spark-side expression exactly (pmod into [0, P);
    * strings through the SAME XxHash64 Catalyst expression the commit
    * pass ran). None when the literal's type does not align with the
    * bloom's kind — pruning disabled for that conjunct. */
  private def bloomLitKey(kind: String,
      l: org.apache.spark.sql.catalyst.expressions.Literal)
      : Option[Long] = {
    import org.apache.spark.sql.types._
    val P = graft.functions.XFormulas.P
    if (l.value == null) None
    else (kind, l.dataType) match {
      case ("i", ByteType | ShortType | IntegerType | LongType) =>
        val v = l.value.toString.toLong
        Some(((v % P) + P) % P)
      case ("s", StringType) =>
        // seed 42 = the xxhash64 SQL function's default, which the
        // commit-side bloomKey expression uses
        val h = org.apache.spark.sql.catalyst.expressions
          .XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]
        Some(((h % P) + P) % P)
      case _ => None
    }
  }

  /** TRUE unless the stats PROVE no row of the file can satisfy `e` —
    * the standard may-contain contract: And/Or recurse, comparison
    * conjuncts consult [[ColStat]] bounds, equality/IN conjuncts
    * additionally consult the per-file [[BloomStat]] (no false
    * negatives, so a bloom miss is a proof of absence), everything else
    * (Not, functions, casts, stat-less columns, misaligned literal
    * types) conservatively keeps the file. A wrong TRUE costs a scan; a
    * wrong FALSE would corrupt results — hence every default is TRUE. */
  private def mayMatch(fst: FileStat, blooms: Map[String, BloomStat],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def nameOf(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def bloomMay(cn: String, l: Literal): Boolean =
      blooms.get(cn) match {
        case None => true // bloom-less column: cannot prune
        case Some(bs) => bloomLitKey(bs.kind, l) match {
          case None => true // misaligned literal: cannot prune
          case Some(key) => bs.mightContain(key)
        }
      }
    // col op lit, already oriented so `op` reads "column op literal"
    def bound(cn: String, l: Literal, op: String): Boolean =
      fst.cols.get(cn) match {
        case None => true // stat-less column: cannot prune
        case Some(cs) => litCanon(cs.kind, l) match {
          case None => true // misaligned literal: cannot prune
          case Some(v) => (cs.min, cs.max) match {
            case (Some(mn), Some(mx)) =>
              val cMin = cmpCanon(cs.kind, mn, v)
              val cMax = cmpCanon(cs.kind, mx, v)
              op match {
                case "=" => cMin <= 0 && cMax >= 0
                case "<" => cMin < 0   // some value below v exists
                case "<=" => cMin <= 0
                case ">" => cMax > 0   // some value above v exists
                case ">=" => cMax >= 0
                case _ => true
              }
            case _ => false // all-null file: comparisons never match
          }
        }
      }
    def flip(op: String): String = op match {
      case "<" => ">"
      case "<=" => ">="
      case ">" => "<"
      case ">=" => "<="
      case o => o
    }
    def cmp(a: Expression, b: Expression, op: String): Boolean =
      (nameOf(a), b, nameOf(b), a) match {
        case (Some(cn), l: Literal, _, _) =>
          bound(cn, l, op) && (op != "=" || bloomMay(cn, l))
        case (_, _, Some(cn), l: Literal) =>
          bound(cn, l, flip(op)) && (flip(op) != "=" || bloomMay(cn, l))
        case _ => true
      }
    e match {
      case And(l, r) =>
        mayMatch(fst, blooms, l) && mayMatch(fst, blooms, r)
      case Or(l, r) =>
        mayMatch(fst, blooms, l) || mayMatch(fst, blooms, r)
      case EqualTo(a, b) => cmp(a, b, "=")
      case EqualNullSafe(a, b) => (a, b) match {
        case (x, l: Literal) if l.value == null && nameOf(x).isDefined =>
          fst.cols.get(nameOf(x).get).forall(_.nulls > 0)
        case _ => cmp(a, b, "=")
      }
      case LessThan(a, b) => cmp(a, b, "<")
      case LessThanOrEqual(a, b) => cmp(a, b, "<=")
      case GreaterThan(a, b) => cmp(a, b, ">")
      case GreaterThanOrEqual(a, b) => cmp(a, b, ">=")
      case In(a, vs) if nameOf(a).isDefined &&
          vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => cmp(a, v, "="))
      case IsNull(a) => nameOf(a) match {
        case Some(cn) => fst.cols.get(cn).forall(_.nulls > 0)
        case None => true
      }
      case IsNotNull(a) => nameOf(a) match {
        case Some(cn) =>
          fst.cols.get(cn).forall(cs => fst.rows - cs.nulls > 0)
        case None => true
      }
      case _ => true
    }
  }

  /** (kept, skipped) relative file lists for `predicate` against a
    * version's manifest stats — the planning half of [[readWhere]],
    * exposed for audits ("how much would this predicate skip?") and
    * specs. Files without stats are always kept. */
  def pruneFiles(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      version: Option[Int] = None): (Seq[String], Seq[String]) = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    val (_, files) = readManifest(spark, path, v)
    val stats = fileStats(spark, path, Some(v))
      .map(s => s.file -> s).toMap
    val blooms = fileBlooms(spark, path, Some(v))
    val parsed =
      org.apache.spark.sql.GraftSqlBridge.parsedExpression(predicate)
    val (keep, skip) = files.partition { f =>
      // a file with blooms but no zone maps (or vice versa) still
      // prunes through whichever metadata it has
      val fst = stats.getOrElse(f, FileStat(f, 0L, Map.empty))
      mayMatch(fst, blooms.getOrElse(f, Map.empty), parsed)
    }
    (keep, skip)
  }

  /** Data-skipping read: plan over ONLY the files whose manifest stats
    * may satisfy `predicate`, then apply the predicate exactly — the
    * lakehouse zone-map scan. Pruning is metadata-only (no data I/O
    * before the surviving scan) and provably conservative
    * ([[mayMatch]]'s contract), so the result is identical to
    * `read(...).filter(predicate)` by construction; what changes at
    * 100 TB is the denominator — a clustered table turns a narrow
    * predicate into an O(matching-files) scan instead of O(table). */
  def readWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (keep, _) = pruneFiles(spark, path, predicate, version)
    if (keep.isEmpty)
      // schema-correct empty relation; the optimizer folds it to zero I/O
      read(spark, path, version).filter(lit(false))
    else spark.read.parquet(keep.map(r => s"$path/$r"): _*)
      .filter(predicate)
  }

  /** Data directories referenced by NO version in `keepVersions`
    * (crashed writers; all-rewritten overwrites) — the vacuum candidate
    * list. Deletion is left to the caller: at scale you check the
    * candidates against retention policy before destroying anything. */
  def orphanDataDirs(spark: SparkSession, path: String,
      keepVersions: Seq[Int]): Seq[String] = {
    val f = fs(spark, path)
    val dataRoot = new Path(path, "data")
    if (!f.exists(dataRoot)) return Seq.empty
    val referenced = keepVersions
      .flatMap(v => readManifest(spark, path, v)._2)
      .map(_.split("/")(1)).toSet
    f.listStatus(dataRoot).toSeq.map(_.getPath.getName)
      .filterNot(referenced.contains)
      .map(d => s"data/$d")
  }

  // ------------------------------------------------------------------
  // Tags: durable names for versions (release pins)
  // ------------------------------------------------------------------

  private def tagPath(path: String, name: String) = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name must match [A-Za-z0-9._-]+, got '$name'")
    new Path(manifestDir(path), s"tag-$name.txt")
  }

  /** Pin a NAME to a committed version — "the corpus release run X
    * trained on". Tagged versions survive [[expireAndVacuum]] no matter
    * how old, so a release stays reproducible for exactly as long as
    * its tag exists; deleting the tag re-subjects the version to
    * retention. Tags are immutable unless `retag = true` (a moved
    * release pin should be loud, not a default). */
  def tag(spark: SparkSession, path: String, name: String,
      version: Int, retag: Boolean = false): Unit = {
    val vs = versions(spark, path)
    require(vs.contains(version), s"version $version not in $vs")
    val f = fs(spark, path)
    val p = tagPath(path, name)
    require(retag || !f.exists(p),
      s"tag '$name' exists (points at version ${tags(spark, path)(name)});" +
        " pass retag = true to move it")
    val tmp = new Path(manifestDir(path),
      s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"tag publish failed for '$name'")
  }

  /** All tags → version. */
  def tags(spark: SparkSession, path: String): Map[String, Int] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("tag-") && n.endsWith(".txt") =>
        val in = f.open(new Path(dir, n))
        val v = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toInt finally in.close()
        n.stripPrefix("tag-").stripSuffix(".txt") -> v
      }.toMap
  }

  /** Delete a tag (the version becomes expirable again). */
  def untag(spark: SparkSession, path: String, name: String): Unit =
    fs(spark, path).delete(tagPath(path, name), false)

  /** Read the version a tag names. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame = {
    val t = tags(spark, path)
    require(t.contains(name), s"no tag '$name' at $path (have ${t.keys})")
    read(spark, path, Some(t(name)))
  }

  /** Retention enforcement — EXPIRE old versions, then VACUUM the data
    * directories nothing retained references. Keeps the newest
    * `keepLast` versions PLUS every tagged version: older manifests are
    * deleted (their version NUMBERS stay burned — numbers are never
    * reused, so history stays monotone), then every `data/c-*`
    * directory outside the retained versions' closure is removed —
    * this is where deleteWhere/compact/rollback physically forget: a
    * file is destroyed exactly when the LAST manifest naming it
    * expires. Returns (expired versions, deleted data dirs).
    *
    * Ordering is crash-safe in the destructive direction: manifests
    * are deleted BEFORE the data dirs they exclusively reference, so
    * an interrupted vacuum leaves orphan data (re-vacuumable, invisible
    * to readers) rather than a manifest naming destroyed files. Time
    * travel is only supported within the retention window afterwards —
    * the same contract as the open lakehouse formats' expire-snapshots.
    * Concurrent safety: retention must exceed the longest READER
    * window (a reader pinned to an expired version loses its files,
    * exactly as in those formats), and `minAgeMs` must exceed the
    * longest COMMITTER window: a commit writes its data directory
    * BEFORE claiming a version number, so for the duration of the data
    * write the directory is unreferenced and indistinguishable from a
    * crashed writer's orphan — the age threshold is what keeps a
    * concurrent vacuum from destroying it mid-write (no keepLast value
    * can: an as-yet-unreferenced directory belongs to no version). A
    * directory is vacuumed only when everything under it is older than
    * `minAgeMs`; younger orphans are skipped this pass and collected by
    * the next one. Pass 0 only where no commit can be in flight (e.g.
    * single-writer test fixtures). */
  def expireAndVacuum(spark: SparkSession, path: String,
      keepLast: Int, minAgeMs: Long = 3600000L): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    require(minAgeMs >= 0, s"minAgeMs must be >= 0, got $minAgeMs")
    val f = fs(spark, path)
    val vs = versions(spark, path)
    val pinned = tags(spark, path).values.toSet
    val expired = vs.dropRight(keepLast).filterNot(pinned.contains)
    expired.foreach(v => f.delete(manifestPath(path, v), false))
    // sweep the expired versions' batch markers (they index manifests
    // that no longer exist; an expired batch was already forgotten
    // under the manifest-line scheme too)
    if (expired.nonEmpty) {
      val gone = expired.toSet
      f.listStatus(manifestDir(path)).toSeq.map(_.getPath.getName)
        .foreach { n =>
          if (n.startsWith("bt-") && n.endsWith(".txt")) {
            val i = n.lastIndexOf("-v")
            val v = n.substring(i + 2).stripSuffix(".txt").toInt
            if (gone.contains(v))
              f.delete(new Path(manifestDir(path), n), false)
          }
        }
    }
    val kept = versions(spark, path)
    val cutoff = System.currentTimeMillis - minAgeMs
    val orphans = orphanDataDirs(spark, path, kept).filter { d =>
      val p = new Path(path, d)
      val newest = (f.getFileStatus(p).getModificationTime +:
        f.listStatus(p).toSeq.map(_.getModificationTime)).max
      newest <= cutoff
    }
    orphans.foreach(d => f.delete(new Path(path, d), true))
    (expired, orphans)
  }
}

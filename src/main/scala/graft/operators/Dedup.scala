package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.XFormulas._

/** Deduplication operators for large corpora.
  *
  * Scale design: every near-dup variant is CANDIDATE-GENERATION (LSH
  * banding — a cheap shuffle on small (band, bucket, id) tuples followed
  * by an equi-join) then exact verification on candidate pairs only.
  * There is no all-pairs O(n²) stage anywhere: at 100 TB the banding
  * shuffle is bounded by rows × bands, and bucket skew (a viral doc
  * duplicated millions of times) is the one hotspot to watch — bounded
  * by the `maxBucket` cap on `minhashCandidates` (see there).
  */
object Dedup {

  // One ordered registry of graft-owned intermediates: Left = a frame
  // cached by persistTracked, Right = the RDD id of a checkpointTracked
  // localCheckpoint. Without a release the blocks accumulate until
  // eviction pressure. Library code frees what it tracked by running
  // inside [[scoped]]; harnesses sweep everything between queries with
  // [[releaseAll]]. One tracking thread per session: a scope closing on
  // one thread frees whatever another thread registered meanwhile.
  private val tracked =
    scala.collection.mutable.ArrayBuffer.empty[Either[DataFrame, Int]]

  private def track(e: Either[DataFrame, Int]): Unit =
    tracked.synchronized { tracked += e }

  /** Persist `df` and register it for [[scoped]]/[[releaseAll]] —
    * callers outside the operators (e.g. query definitions) share the
    * same lifecycle. */
  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist()
    track(Left(p))
    p
  }

  /** `df.localCheckpoint()` with the checkpoint's RDD id, read from the
    * `LogicalRDD` leaf of the returned frame, registered for
    * [[scoped]]/[[releaseAll]]. Iterative operators (clusters,
    * PageRank) call this each round; without the registration the
    * checkpoint blocks accumulate across a long session until they
    * evict useful blocks and stall the executors in GC (measured: a
    * 200-query bench pass inflated later iterative queries 3× through
    * exactly this). EAGER on purpose — round 11 measured the lazy form
    * (`eager = false`, hoping to fold the per-round materialization
    * job into the first consuming action): per-query wins were nil
    * (AQE materializes the shuffle stages eagerly either way) and the
    * FULL bench's warm pass degraded progressively with session age
    * (+50–120 s over 368 queries; late-pass deciles 1.5–2.3× baseline)
    * — a deferred checkpoint keeps its full lineage (and the shuffle
    * state it references) live until materialization, and a release
    * can then run before materialization ever happens. Eager keeps
    * truncation and cleanup deterministic. */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
      .foreach(id => track(Right(id)))
    cp
  }

  /** Run `body`, then release exactly the caches and checkpoints
    * registered while it ran, on every exit path (a throw then
    * propagates). Entries registered before the scope opened, by the
    * caller or an enclosing scope, are kept, so scopes nest. Only for
    * state no reader needs after `body` returns: unpersisting a
    * still-referenced checkpoint fails its reader with a missing-block
    * error, since the truncated lineage cannot recompute. */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val mark = tracked.synchronized(tracked.length)
    try body finally release(spark, mark)
  }

  /** Harness-grade sweep between queries: every tracked cache and
    * checkpoint. Scoped to graft-created state only — caches or
    * checkpoints a user made on the shared session are never touched.
    * Only for call sites where no earlier graft query's plan will be
    * re-executed. */
  def releaseAll(spark: SparkSession): Unit = release(spark, 0)

  // unpersist (non-blocking) the entries from index `from` on; a
  // releaseAll inside a scope may have emptied the registry below the
  // scope's mark already
  private def release(spark: SparkSession, from: Int): Unit = {
    val gone = tracked.synchronized {
      val g = tracked.drop(from)
      tracked.dropRightInPlace(g.length)
      g
    }
    lazy val persistent = spark.sparkContext.getPersistentRDDs
    gone.foreach {
      case Left(df) => df.unpersist(blocking = false)
      case Right(id) => persistent.get(id).foreach(_.unpersist(blocking = false))
    }
  }

  /** Exact dedup: group identical keys, keep the lowest id.
    * Map-side partial aggregation makes this one shuffle of distinct
    * keys, not rows. */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature over distinct word n-gram shingles.
    * Fully native codegen'd pipeline (shingle + sign); bit-identical to
    * the XFormulas HOF forms (HashExpressionsSpec) which the DuckDB
    * oracle runs. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, shingle: Int = 3): DataFrame =
    df.select(col(idCol),
      GraftFunctions.minhashSig(
        GraftFunctions.shingles(col(textCol), shingle), k).as("mh"))

  /** MinHash-LSH candidate pairs: docs sharing at least one band bucket,
    * with the signature-estimated Jaccard. `bands * r` must equal `k`.
    *
    * `maxBucket` is the SKEW BOUND for the band self-join: any
    * (band, bucket) group larger than `maxBucket` rows is dropped before
    * the join, capping that bucket's pair output at maxBucket² instead of
    * letting one viral document duplicated millions of times produce a
    * quadratic mega-bucket on a single reducer. Recall loss is confined
    * to those pathological buckets — and byte-identical copies (the
    * overwhelming content of a viral bucket) should be removed by
    * `exact` dedup BEFORE near-dup LSH anyway, which is the pipeline
    * order `CorpusPipeline` uses. Buckets at or under the cap are
    * completely unaffected (DedupSpec proves both properties). The size
    * count is a window over the same (band, bucket) key the join
    * shuffles on, so capping adds no extra exchange of the text or
    * signatures — only a sort within the already-shuffled partitions. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, shingle: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // persist: the signature expression is expensive and feeds BOTH sides
    // of the self-join — without a materialization barrier Catalyst's
    // projection collapse would inline it into the joined output and
    // recompute it per candidate PAIR (quadratic; measured 640s → <5s on
    // the simhash twin at sf0.1)
    val sigs = persistTracked(minhashSignatures(df, idCol, textCol, k, shingle))
    candidatesFromSignatures(sigs, idCol, "mh", k, bands, maxBucket)
  }

  /** Candidate pairs from PRECOMPUTED signatures (`sigCol`: array of k
    * hashes). Lets pipelines that already carry signatures (e.g.
    * `CorpusPipeline`, which computes them while the text column is still
    * in scope) skip a re-join against the raw documents. Callers must
    * hand in a MATERIALIZED frame (persisted / checkpointed) when the
    * signature expression is expensive — see the recompute note in
    * [[minhashCandidates]]. */
  def candidatesFromSignatures(sigs: DataFrame, idCol: String,
      sigCol: String = "mh", k: Int = 12, bands: Int = 4,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val r = k / bands
    val allBuckets = sigs
      .select(col(idCol), col(sigCol).as("mh"))
      .selectExpr(idCol, "mh",
        s"explode(sequence(0L, ${bands - 1}L)) AS band")
      // native codegen'd fold; bit-identical to sparkBandBucket (the
      // 1-indexed slice HOF the DuckDB oracle runs)
      .select(col(idCol), col("mh"), col("band"),
        GraftFunctions.bandBucket(col("mh"), col("band"), r).as("bucket"))
    val buckets =
      if (maxBucket == Int.MaxValue) allBuckets
      else allBuckets
        .withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("bucket_n") <= maxBucket)
        .drop("bucket_n")
    val a = buckets.select(col(idCol).as("doc_a"), col("mh").as("mh_a"),
      col("band"), col("bucket"))
    val b = buckets.select(col(idCol).as("doc_b"), col("mh").as("mh_b"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"CAST(size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v)) AS DOUBLE) / $k")
          .as("est_jaccard"))
      .distinct()
  }

  /** CHARACTER-n-gram MinHash-LSH candidates — the near-dup path for
    * text the word tokenizer cannot segment (CJK, Thai, no-whitespace
    * boilerplate): a whitespace-free document collapses to ONE token, so
    * word-shingle MinHash sees a single shingle and every such doc
    * collides with every other. Char n-grams shingle the raw codepoint
    * stream instead; everything downstream (signature, banding, skew
    * cap, pair estimate) is the word path unchanged. Both stages are
    * native codegen'd expressions
    * ([[graft.functions.expressions.CharShingleHashes]] →
    * [[graft.functions.expressions.MinHashLongs]]) — no string
    * re-splitting, no HOF lambda in the hot path.
    *
    * Same scale shape as [[minhashCandidates]]: the exchange carries
    * (band, bucket, id) and k-long signatures, never text. */
  def charMinhashCandidates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, k: Int = 12, bands: Int = 4,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // persist: same projection-collapse trap as minhashCandidates
    val sigs = persistTracked(df
      .select(col(idCol),
        GraftFunctions.minhashLongs(array_distinct(
          GraftFunctions.charShingleHashes(col(textCol), n)), k).as("mh")))
    candidatesFromSignatures(sigs, idCol, "mh", k, bands, maxBucket)
  }

  /** CROSS-CORPUS candidates: an incoming batch vs the existing base —
    * the INGEST path. Deduplicating a crawl increment against a 100 TB
    * corpus must NOT re-pair the corpus with itself (that work is
    * already done); banding both sides and joining new×base only makes
    * the cost proportional to the INCREMENT, with the corpus side
    * reduced to its (tiny, reusable, persistable) signature buckets.
    * `maxBucket` caps viral buckets on the BASE side, where the mass
    * accumulates. Returns (new_id, base_id, est_jaccard). */
  def crossCorpusCandidates(newDf: DataFrame, baseDf: DataFrame,
      idCol: String, textCol: String, k: Int = 12, bands: Int = 4,
      shingle: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame =
    ingestAgainstIndex(newDf,
      lshIndex(persistTracked(
        minhashSignatures(baseDf, idCol, textCol, k, shingle)),
        idCol, k, bands),
      idCol, textCol, k, bands, shingle, maxBucket)

  /** The REUSABLE LSH base index: per-doc minhash signatures exploded
    * to (id, mh, band, bucket) rows — the table a 100 TB corpus signs
    * ONCE and persists (e.g. `GraftSink.writePartitioned(ix, path,
    * Seq("band"))`), so every ingest batch joins against STORED buckets
    * instead of re-signing the base ([[ingestAgainstIndex]]). `sigs` is
    * [[minhashSignatures]] output (or that table read back from
    * storage). */
  def lshIndex(sigs: DataFrame, idCol: String, k: Int = 12,
      bands: Int = 4): DataFrame = {
    val r = k / bands
    sigs
      .selectExpr(idCol, "mh",
        s"explode(sequence(0L, ${bands - 1}L)) AS band")
      .select(col(idCol), col("mh"), col("band"),
        GraftFunctions.bandBucket(col("mh"), col("band"), r).as("bucket"))
  }

  /** INGEST an increment against a prebuilt base index ([[lshIndex]]
    * rows, typically read back from storage): signs only the NEW batch,
    * joins its band buckets with the stored base buckets, and estimates
    * Jaccard from signature agreement. The base corpus is never
    * re-scanned or re-signed — cost is proportional to the increment
    * (LshIndexSpec pins a scan-count assertion on this). `maxBucket`
    * caps viral buckets on the base side, where the mass accumulates.
    * Returns (new_id, base_id, est_jaccard). */
  def ingestAgainstIndex(newDf: DataFrame, index: DataFrame,
      idCol: String, textCol: String, k: Int = 12, bands: Int = 4,
      shingle: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    val base =
      if (maxBucket == Int.MaxValue) index
      else index
        .withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("bucket_n") <= maxBucket)
        .drop("bucket_n")
    lshIndex(persistTracked(
        minhashSignatures(newDf, idCol, textCol, k, shingle)),
        idCol, k, bands)
      .select(col(idCol).as("new_id"), col("mh").as("mh_n"),
        col("band"), col("bucket"))
      .join(base.select(col(idCol).as("base_id"), col("mh").as("mh_b"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .select(col("new_id"), col("base_id"),
        expr(s"CAST(size(filter(zip_with(mh_n, mh_b, (x, y) -> x = y), v -> v)) AS DOUBLE) / $k")
          .as("est_jaccard"))
      .distinct()
  }

  /** Exact n-gram Jaccard verification on the LSH candidate pairs.
    * `maxBucket` passes through to the candidate generation skew bound. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 12, bands: Int = 4, shingle: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val cands =
      minhashCandidates(df, idCol, textCol, k, bands, shingle, maxBucket)
        .select("doc_a", "doc_b")
    // persist: joined twice (doc_a and doc_b sides) — see minhashCandidates
    val sh = persistTracked(
      df.select(col(idCol),
        GraftFunctions.shingles(col(textCol), shingle).as("shingles")))
    cands
      .join(sh.select(col(idCol).as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      // native sorted-merge overlap; |A∪B| = |A|+|B|-|A∩B| on the
      // distinct shingle arrays, so this is the exact sparkJaccard /
      // duckJaccard value (integer counts, one division) without the
      // HOF's giant generated-code body
      .withColumn("ov", GraftFunctions.setOverlap(col("sh_a"), col("sh_b")))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(ov AS DOUBLE) / nullif(size(sh_a) + size(sh_b) - ov, 0)")
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** CONTAINMENT verification on the LSH candidate pairs:
    * `|A∩B| / |A|` (and the B-side mirror) — catches a short document
    * EMBEDDED inside a longer one, which symmetric Jaccard dilutes
    * toward zero as the length gap grows. Same candidate-then-verify
    * scale shape as [[jaccardPairs]]. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 12, bands: Int = 4, shingle: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val cands =
      minhashCandidates(df, idCol, textCol, k, bands, shingle, maxBucket)
        .select("doc_a", "doc_b")
    // persist: joined twice (doc_a and doc_b sides) — see minhashCandidates
    val sh = persistTracked(
      df.select(col(idCol),
        GraftFunctions.shingles(col(textCol), shingle).as("shingles")))
    cands
      .join(sh.select(col(idCol).as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("ov", GraftFunctions.setOverlap(col("sh_a"), col("sh_b")))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(ov AS DOUBLE) / nullif(size(sh_a), 0)").as("contain_a"),
        expr("CAST(ov AS DOUBLE) / nullif(size(sh_b), 0)").as("contain_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= threshold)
  }

  /** EXACT set-similarity join via prefix filtering (the AllPairs /
    * PPJoin family, Bayardo et al. WWW'07): each doc keeps only its first
    * `p = n - ceil(t*n) + 1` distinct tokens in ascending global
    * document-frequency order (rarest first); any pair with token-set
    * Jaccard >= t must share at least one prefix token, so the prefix
    * equi-join has NO false negatives — exact verification then removes
    * the false positives. Complements the MinHash path: LSH trades
    * recall for speed, prefix filtering is exact with cost governed by
    * rare-token selectivity.
    *
    * Scale: the candidate join keys on PREFIX tokens only — each doc's
    * rarest — so per-token fan-out is bounded by that token's df, and
    * high-frequency tokens (the skew risk) are precisely the ones a
    * prefix excludes first. The per-doc ordering is a window partitioned
    * BY DOC (fully parallel, never a global sort); the only corpus-wide
    * state is the token-df table, reached by an equi-join on token. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingle: Int = 3): DataFrame = {
    // Set elements are word n-gram SHINGLES (on template-heavy corpora
    // raw token sets are so globally dense that every doc pairs with
    // every other — shingles keep set similarity local to genuine
    // near-dups), reduced to 64-bit polynomial HASHES up front: every
    // downstream exchange (df-count, prefix self-join, verify) then
    // moves and compares 8-byte longs, never shingle text — the same
    // hash-before-shuffle discipline as `TextAnalysis.decontaminate`
    // (and measured 4-5x cheaper end-to-end at sf0.1).
    // persist: the arrays feed the df-count, the prefix window, AND
    // both sides of the verify join — see the recompute note on
    // minhashCandidates
    val toks = persistTracked(df.select(col(idCol).as("id"),
        array_distinct(transform(
          GraftFunctions.shingles(col(textCol), shingle),
          s => GraftFunctions.polyHash(s))).as("toks"))
      .withColumn("n_toks", size(col("toks"))))
    val docTok = toks.select(col("id"), col("n_toks"),
      explode(col("toks")).as("tok"))
    val tokDf = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // persist: the prefix table feeds BOTH sides of the candidate
    // self-join — without the barrier the explode + df-join + window
    // chain executes twice inside one plan (measured ~2x the window
    // cost at sf0.1; see the recompute note on minhashCandidates)
    val prefixes = persistTracked(docTok.join(tokDf, "tok")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))))
      .filter(col("rn") <=
        col("n_toks") - ceil(lit(threshold) * col("n_toks")) + 1)
      .select(col("id"), col("tok"), col("n_toks")))
    // size-compatibility bound (also exact): jaccard >= t forces
    // t*|B| <= |A| <= |B|/t, so size-incompatible pairs are pruned
    // INSIDE the token join before they cost a dedup row
    val cands = prefixes
      .select(col("id").as("id_a"), col("tok"), col("n_toks").as("na"))
      .join(prefixes
        .select(col("id").as("id_b"), col("tok"), col("n_toks").as("nb")),
        "tok")
      .filter(col("id_a") < col("id_b") &&
        col("na") >= ceil(lit(threshold) * col("nb")) &&
        col("nb") >= ceil(lit(threshold) * col("na")))
      .select("id_a", "id_b").distinct()
    cands
      .join(toks.select(col("id").as("id_a"), col("toks").as("t_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("t_b")), "id_b")
      // native overlap count — exact sparkJaccard value, see jaccardPairs
      .withColumn("ov", GraftFunctions.setOverlap(col("t_a"), col("t_b")))
      .select(col("id_a"), col("id_b"),
        expr("CAST(ov AS DOUBLE) / nullif(size(t_a) + size(t_b) - ov, 0)")
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-doc 32-bit SimHash over distinct shingle hashes (fully native
    * codegen'd pipeline — see minhashSignatures note). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 3): DataFrame =
    df.select(col(idCol),
      GraftFunctions.simhash32(
        GraftFunctions.shingles(col(textCol), shingle)).as("sh"))

  /** SimHash near-dup pairs: block on the top `blockBits` bits, verify
    * Hamming distance within the block. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, blockBits: Int = 8, shingle: Int = 3): DataFrame = {
    // persist: see minhashCandidates — blocks the per-pair recompute
    val sigs = persistTracked(
      simhashSignatures(df, idCol, textCol, shingle)
        .withColumn("blk", expr(s"shiftright(sh, ${32 - blockBits})")))
    val a = sigs.select(col(idCol).as("doc_a"), col("sh").as("sh_a"), col("blk"))
    val b = sigs.select(col(idCol).as("doc_b"), col("sh").as("sh_b"), col("blk"))
    a.join(b, "blk")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs with EXACT recall at `maxHamming ≤ 3` —
    * the pigeonhole multi-block design of Manku et al. (WWW'07,
    * "Detecting Near-Duplicates for Web Crawling").
    *
    * The 32-bit signature splits into 4 disjoint 8-bit blocks; a pair
    * within Hamming distance 3 differs in at most 3 blocks, so by
    * pigeonhole it agrees EXACTLY on at least one. Each signature is
    * therefore indexed 4× under (block_index, block_value); candidate
    * generation is an equi join on that compound key, and the exact
    * Hamming verify runs only inside blocks. Unlike [[simhashPairs]]'s
    * single top-bits block (which silently MISSES pairs whose
    * differing bits land in the block), no qualifying pair can escape.
    *
    * Scale: 4 index entries per doc, candidates confined to same-value
    * blocks (expected n/2^8 per bucket per block under a uniform hash).
    * The signature table shuffles as (int, long) — text never moves.
    * A degenerate corpus (many empty/near-empty docs sharing one
    * signature) concentrates one bucket; compose with the window-count
    * bucket cap of [[minhashCandidatesCapped]] if that is a real risk.
    */
  def simhashPairsExact(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingle: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 blocks of a 32-bit simhash guarantee " +
      s"recall only to Hamming 3; got $maxHamming")
    // persist: the signature table is indexed 4x and joined twice
    val sigs = persistTracked(
      simhashSignatures(df, idCol, textCol, shingle))
    val idx = sigs.select(col(idCol), col("sh"),
        explode(expr("array(0, 1, 2, 3)")).as("b"))
      .withColumn("key", expr("CAST(shiftright(sh, 8 * b) & 255 AS INT)"))
    val a = idx.select(col(idCol).as("doc_a"), col("sh").as("sh_a"),
      col("b"), col("key"))
    val bb = idx.select(col(idCol).as("doc_b"), col("sh").as("sh_b"),
      col("b"), col("key"))
    a.join(bb, Seq("b", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // a pair can agree on several blocks — one row per pair
      .distinct()
  }

  /** The pigeonhole Hamming join of [[simhashPairsExact]], generalized
    * to ANY fixed-width signature column: split `bits` into
    * `maxHamming + 1` disjoint blocks — a pair within `maxHamming`
    * differing bits cannot touch every block, so it agrees EXACTLY on
    * at least one and the equi join on (block, value) has EXACT
    * recall. The reusable primitive behind simhash text dedup and
    * perceptual-hash image dedup alike: index each signature
    * blocks×, join on the compound key, verify `bit_count(xor)` on
    * candidates, one row per pair. Returns (doc_a, doc_b, hamming). */
  def hammingPairsExact(sigs: DataFrame, idCol: String, sigCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    require(bits >= blocks && bits % blocks == 0,
      s"bits=$bits must be a positive multiple of maxHamming+1=$blocks " +
        "so the signature splits into equal disjoint blocks")
    require(bits <= 63, s"bits=$bits must fit a positive long")
    val bb = bits / blocks
    val mask = (1L << bb) - 1
    val s = persistTracked(sigs.select(col(idCol),
      col(sigCol).cast("long").as("__sig")))
    val idx = s
      .withColumn("b", explode(expr(s"sequence(0, ${blocks - 1})")))
      .withColumn("key",
        expr(s"shiftright(__sig, $bb * b) & ${mask}L"))
    val a = idx.select(col(idCol).as("doc_a"), col("__sig").as("sg_a"),
      col("b"), col("key"))
    val bside = idx.select(col(idCol).as("doc_b"), col("__sig").as("sg_b"),
      col("b"), col("key"))
    a.join(bside, Seq("b", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sg_a ^ sg_b) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SEGMENT-level dedup with corpus REASSEMBLY (the CCNet/C4 content
    * cleaner, applied to fixed token windows): split every document
    * into consecutive `chunkTokens`-token segments, keep only each
    * segment's FIRST corpus occurrence (ordered by (doc_id, position) —
    * fully deterministic), and reassemble the surviving text per
    * document. Catches both cross-document boilerplate and within-
    * document repetition in one pass, and — unlike the report-style
    * dedup operators — emits the cleaned corpus itself.
    * Returns (id, clean_text, n_kept, n_dropped).
    *
    * Scale: one shuffle keyed on the segment for the first-occurrence
    * window, one groupBy(doc) for reassembly. The window partitions by
    * the segment STRING here (exact, and what the oracle can replicate);
    * at 100 TB key the window on a 128-bit segment fingerprint and
    * carry (fingerprint, id, pos) through the exchange, rejoining
    * winners to the text for reassembly — segments then never shuffle
    * as text. */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    val ch = TextAnalysis.withTokens(docs, textCol)
      .filter(size(col("toks")) >= 1)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, CAST(ceil(size(toks) / $chunkTokens.0D) " +
          s"AS INT) - 1, 1), i -> array_join(slice(toks, " +
          s"i * $chunkTokens + 1, $chunkTokens), ' '))"))
        .as(Seq("pos", "chunk")))
    val ranked = ch.withColumn("rn", row_number().over(
      Window.partitionBy(col("chunk"))
        .orderBy(col(idCol), col("pos"))))
    ranked.groupBy(col(idCol))
      .agg(
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN rn = 1 THEN struct(pos, chunk) END)), " +
          "s -> s.chunk), ' ')").as("clean_text"),
        count(when(col("rn") === 1, 1)).as("n_kept"),
        count(when(col("rn") > 1, 1)).as("n_dropped"))
  }

  /** FREQUENCY-threshold boilerplate EXCISION (the RefinedWeb/CCNet
    * repeated-paragraph rule): a segment occurring in >= `minDocs`
    * DISTINCT documents is corpus boilerplate — cookie banners,
    * navigation chrome, license footers — and EVERY occurrence is
    * removed. Contrast [[segmentDedup]], which keeps the first
    * occurrence: right for content dedup, wrong for boilerplate, where
    * the first copy is as worthless as the rest. Documents are then
    * reassembled from their surviving segments (a fully-boilerplate doc
    * survives with empty clean_text, so downstream joins keep their
    * row). Returns (id, clean_text, n_kept, n_boiler).
    *
    * Scale: the frequency pass aggregates 64-bit segment hashes
    * (doc-local hashing is narrow; the distinct-doc count combines
    * map-side), so segment TEXT rides only the one reassembly shuffle.
    * The boiler-position frame is (id, pos)-sized and semi-joins back —
    * at 100 TB the heavy exchange is the reassembly groupBy the caller
    * pays in any excision pipeline. */
  def boilerplateExcise(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10, minDocs: Int = 3): DataFrame = {
    // persist: the chunk stream feeds the hash-frequency pass AND the
    // reassembly — unpersisted, tokenize+chunk would run twice
    val ch = persistTracked(chunkSegments(docs, idCol, textCol, chunkTokens))
    val boilerHashes = ch
      .select(col(idCol), GraftFunctions.polyHash(col("chunk")).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("h"))
    exciseByHashes(ch, idCol, boilerHashes)
  }

  /** CONTENT-DEFINED segmentation (the CDC chunking used by dedup
    * storage systems and insertion-robust text dedup): a token position
    * is a segment BOUNDARY when the rolling hash of the last `window`
    * tokens is divisible by `modulus` (expected segment length ≈
    * `modulus` tokens). Because boundaries depend only on LOCAL content,
    * inserting or deleting a token re-chunks ONLY the segment it touches
    * — every other segment re-aligns bit-identically, which is exactly
    * what fixed-width chunking ([[chunkSegments]]) cannot do: one
    * leading inserted token shifts every downstream fixed chunk.
    *
    * Returns (id, seg, seg_text, start_pos, seg_tokens) — `seg` is the
    * 0-based segment ordinal within the doc. The boundary token CLOSES
    * its segment. Zero-token docs yield no rows.
    *
    * Scale: one scan; the only shuffles are the doc-partitioned window
    * (never unpartitioned) and the per-(doc, seg) reassembly — both
    * keyed finer than or equal to doc id, so skew is bounded by the
    * largest single document. */
  def cdcSegments(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 3, modulus: Int = 8): DataFrame = {
    val tok = graft.operators.TextAnalysis.withTokens(docs, textCol)
      .filter(size(col("toks")) >= 1)
      .select(col(idCol), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
    // rolling window text: tokens [pos-window+1 .. pos], clipped at the
    // doc start (1-based slice start pos+2-window, length min(window,
    // pos+1))
    val winText = expr(
      s"array_join(slice(toks, greatest(pos + 2 - $window, 1), " +
        s"least($window, pos + 1)), ' ')")
    val b = (pmod(GraftFunctions.polyHash(winText),
      lit(modulus.toLong)) === 0).cast("int")
    val wdoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.withColumn("__b", b)
      .withColumn("seg", sum(col("__b")).over(wdoc) - col("__b"))
      .groupBy(col(idCol), col("seg"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, tok))), s -> s.tok), ' ')").as("seg_text"),
        min(col("pos")).as("start_pos"),
        count(lit(1)).as("seg_tokens"))
  }

  /** The (id, pos, chunk) token-segment frame shared by
    * [[boilerplateExcise]] and the streaming
    * [[graft.streaming.BoilerplateGate]]: documents tokenized and cut
    * into fixed `chunkTokens`-token segments with their 0-based
    * positions. Zero-token documents yield no rows (and so no output
    * row downstream). */
  def chunkSegments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame =
    TextAnalysis.withTokens(docs, textCol)
      .filter(size(col("toks")) >= 1)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, CAST(ceil(size(toks) / $chunkTokens.0D) " +
          s"AS INT) - 1, 1), i -> array_join(slice(toks, " +
          s"i * $chunkTokens + 1, $chunkTokens), ' '))"))
        .as(Seq("pos", "chunk")))

  /** Excise every segment of `ch` whose polyHash is in `boilerHashes`
    * (one column `h`) and reassemble documents from the survivors.
    * Returns (id, clean_text, n_kept, n_boiler) — a fully-excised doc
    * survives with empty clean_text. The caller decides what counts as
    * boilerplate; [[boilerplateExcise]] uses corpus doc-frequency, the
    * streaming gate uses cumulative frequency state. */
  def exciseByHashes(ch: DataFrame, idCol: String,
      boilerHashes: DataFrame): DataFrame = {
    val hashed = ch.select(col(idCol), col("pos"),
      GraftFunctions.polyHash(col("chunk")).as("h"))
    val boilerPos = hashed
      .join(boilerHashes.select(col("h")), Seq("h"), "left_semi")
      .select(col(idCol).as("__bid"), col("pos").as("__bpos"),
        lit(true).as("__boiler"))
    ch.join(boilerPos,
        col(idCol) === col("__bid") && col("pos") === col("__bpos"), "left")
      .groupBy(col(idCol))
      .agg(
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN __boiler IS NULL THEN struct(pos, chunk) END)), " +
          "s -> s.chunk), ' ')").as("clean_text"),
        count(when(col("__boiler").isNull, 1)).as("n_kept"),
        count(when(col("__boiler").isNotNull, 1)).as("n_boiler"))
  }

  /** Near-dup CLUSTERS from candidate pairs: bounded min-label
    * propagation (k rounds of "my label = min(label, neighbors'
    * labels)"). After enough rounds every member of a connected
    * component carries the component's minimum doc id — the keeper.
    *
    * Scale: each round is one groupBy shuffle over the edge list (edges
    * ≪ docs after LSH); k bounds the longest chain collapsed — near-dup
    * components are overwhelmingly stars/short chains, so small k (3-5)
    * converges in practice, and the bound keeps the job DETERMINISTIC
    * and finite (no driver-side convergence loop on unbounded data).
    * Persisted per round via the caller-owned cache registry. */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int = 3): DataFrame = {
    // undirected edge list, both directions — emitted in ONE pass via a
    // narrow explode (a self-union would execute the upstream candidate
    // chain twice before the persist materializes)
    val edges = persistTracked(
      pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val nodes = edges.select(col("src").as("id")).distinct()
    // localCheckpoint per round CUTS THE LINEAGE: without it every round's
    // plan embeds the full upstream chain (scoring + LSH + all prior
    // rounds) and optimizer time grows super-linearly with rounds — the
    // label table is tiny (one row per paired doc), so materializing it
    // is cheap. The checkpointed RDD blocks are freed by the caller's
    // scoped or releaseAll (or by Spark's ContextCleaner once a round's
    // Dataset is GC'd, whichever comes first). On a cluster with flaky
    // executors use checkpoint() to durable storage instead.
    var labels = nodes.withColumn("label", col("id")).transform(checkpointTracked)
    for (_ <- 1 to rounds) {
      val nbr = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr_min"))
      labels = labels.join(nbr, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
        .transform(checkpointTracked)
    }
    labels.select(col("id").as(aCol), col("label").as("cluster"))
  }

  /** [[clusters]] run to FIXPOINT: min-label rounds continue until a
    * round changes no label (one tiny changed-count aggregate per round
    * is the price of the guarantee), capped at `maxRounds`. Use this
    * when cluster diameter is unknown — [[clusters]]' fixed 3 rounds is
    * exact only for diameter ≤ 3, which holds for typical near-dup
    * blobs but not for chain-shaped candidate graphs (A~B~C~… from
    * sliding near-matches). Per round the cost is identical to
    * [[clusters]] (one edge join + one aggregate + a lineage cut);
    * min-label propagation over D-diameter components converges in ≤ D
    * rounds, so the loop runs exactly as long as the data demands. On a
    * 100 TB corpus the changed-count action adds one job per round over
    * a node-sized (not corpus-sized) label table. */
  def clustersConverged(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 20): DataFrame = {
    val edges = persistTracked(
      pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = nodes.withColumn("label", col("id"))
      .transform(checkpointTracked)
    var round = 0
    var changed = 1L
    while (round < maxRounds && changed > 0) {
      val nbr = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr_min"))
      val next = labels.join(nbr, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
        .transform(checkpointTracked)
      changed = next
        .join(labels.select(col("id"), col("label").as("old")), "id")
        .filter(col("label") =!= col("old")).count()
      labels = next
      round += 1
    }
    labels.select(col("id").as(aCol), col("label").as("cluster"))
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round hangs
    * every node's larger neighbors off its minimum (large-star), then
    * folds the remaining small edges onto the minimum (small-star).
    * Converges in O(log n) rounds REGARDLESS of component diameter —
    * the scalable complement to [[clustersConverged]], whose min-label
    * rounds track the diameter (a 10M-doc chained candidate graph needs
    * 10M label rounds but ~25 star rounds). Per round: two node-keyed
    * aggregations + joins over the EDGE list (never adjacency
    * matrices), lineage cut per round, and a set-equality convergence
    * check on the star edges: a one-row (count, hash-sum) signature per
    * round — unequal signatures prove inequality exactly — with the
    * two-sided exceptAll confirmation paid only at the round that
    * actually converged.
    *
    * Same contract as [[clusters]]: returns (aCol, cluster) with
    * cluster = the component's minimum id, for every node appearing in
    * `pairs`. Spec-proven equal to [[clustersConverged]] on a
    * chain-shaped graph deep enough that fixed-round label prop is
    * provably wrong and star contraction converges in ≤ half the
    * rounds. */
  /** Edge bound for [[clustersStar]]'s driver-side fast path: below this
    * many distinct symmetric edges the contraction graph is
    * broadcast-sized and the exact local union-find replaces the
    * distributed rounds. A few MB of driver memory at most. */
  val localCcMaxEdges: Long = 200000L

  /** Exact driver-side connected components (path-compressed union-find
    * with min-id roots) over a broadcast-threshold-sized DISTINCT
    * symmetric edge list. Attaching the larger root under the smaller
    * keeps every root the minimum of its component, so labels come
    * straight off find(). The collect is bounded by [[localCcMaxEdges]];
    * the result returns to the cluster as a local relation — the same
    * lifecycle as a broadcast-join small side. */
  private def localUnionFind(edges: DataFrame, aCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val idType = edges.schema("u").dataType
    val es = edges
      .select(col("u").cast("long"), col("v").cast("long")).collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) x = parent.getOrDefault(x, x)
      var y = x0 // path-compress the walked chain onto the root
      while (parent.getOrDefault(y, y) != x) {
        val n = parent.getOrDefault(y, y); parent.put(y, x); y = n
      }
      x
    }
    es.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    es.iterator.map(_.getLong(0)).toSet[Long].toSeq
      .map(id => (id, find(id)))
      .toDF("u0", "c0")
      .select(col("u0").cast(idType).as(aCol),
        col("c0").cast(idType).as("cluster"))
  }

  def clustersStar(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 12,
      localMaxEdges: Long = localCcMaxEdges): DataFrame = {
    def sym(e: DataFrame): DataFrame = e
      .select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val base = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    var edges = sym(base).transform(checkpointTracked)
    val nodes = persistTracked(edges.select(col("u").as("id")).distinct())
    // SMALL-GRAPH FAST PATH: the contraction graph is often tiny relative
    // to the corpus it came from — LSH candidates of a lightly-duplicated
    // corpus, or [[incrementalClusters]]' increment-sized contracted
    // graph. Below a broadcast-sized edge bound, a dozen distributed
    // rounds (each: two shuffles + a lineage cut + a convergence probe)
    // are pure scheduler overhead, so run an exact driver-side union-find
    // instead — the same "small side goes local" call Spark itself makes
    // at the broadcast-join threshold. The bound caps driver memory
    // (200k edges of longs is a few MB); above it the O(log n) star
    // contraction runs fully distributed as before. Output contract is
    // identical: cluster = the component's minimum id, for every node.
    val idIntegral = edges.schema("u").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (idIntegral && edges.count() <= localMaxEdges)
      return localUnionFind(edges, aCol)
    // Cheap-first set-equality: both edge frames are DISTINCT symmetric
    // sets, so (count, sum of 64-bit edge hash) differing PROVES the sets
    // differ — no join. Only the round whose signatures match pays the
    // exact two-sided exceptAll confirmation (once, at convergence),
    // instead of two shuffle joins EVERY round. The previous round's
    // `small` signature is this round's `edges` signature, so each round
    // computes exactly one map-side aggregate over the checkpointed edges.
    // bit_xor, not sum: order-independent, cannot overflow under ANSI,
    // and valid as a SET signature because the frames are distinct
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edgeSig = sig(edges)
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      // LARGE-STAR: every neighbor strictly above u re-attaches to
      // min(N(u) ∪ {u})
      val m1 = edges.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym(edges.join(m1, "u").filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v")))
        .transform(checkpointTracked)
      // SMALL-STAR: the remaining (small) neighbors and u itself fold
      // onto the minimum
      val m2 = large.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val small = sym(
        large.join(m2, "u").filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionAll(m2.select(col("u"), col("m").as("v"))))
        .transform(checkpointTracked)
      val smallSig = sig(small)
      stable = smallSig == edgeSig &&
        small.exceptAll(edges).isEmpty && edges.exceptAll(small).isEmpty
      edgeSig = smallSig
      edges = small
      round += 1
    }
    nodes
      .join(edges.groupBy(col("u")).agg(min(col("v")).as("m")),
        col("id") === col("u"), "left")
      .select(col("id").as(aCol),
        least(col("id"), coalesce(col("m"), col("id"))).as("cluster"))
  }

  /** Increment×base candidate pairs from two PRECOMPUTED signature
    * frames — the contraction input of [[incrementalClusters]]. Same
    * band join as [[ingestAgainstIndex]] (which re-signs the new batch
    * from text; this variant is for pipelines that already hold both
    * signature frames). `maxBucket` caps viral (band, bucket) groups on
    * the BASE side, where the mass accumulates — without it one
    * degenerate bucket quadratically inflates the "increment-sized"
    * pair set. Returns distinct (new_id, base_id). */
  def crossCandidatesFromSignatures(incSigs: DataFrame, baseSigs: DataFrame,
      idCol: String, k: Int = 12, bands: Int = 4,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val base0 = lshIndex(baseSigs, idCol, k, bands)
    val base =
      if (maxBucket == Int.MaxValue) base0
      else base0
        .withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("bucket_n") <= maxBucket)
        .drop("bucket_n")
    lshIndex(incSigs, idCol, k, bands)
      .select(col(idCol).as("new_id"), col("band"), col("bucket"))
      .join(base.select(col(idCol).as("base_id"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .select(col("new_id"), col("base_id"))
      .distinct()
  }

  /** INCREMENTAL cluster maintenance: fold an increment's candidate
    * pairs into EXISTING base cluster labels WITHOUT re-clustering the
    * base — the nightly-crawl case where the corpus's near-dup labels
    * are already stored and only the increment should cost anything.
    *
    * Inputs: `baseLabels` (idCol, cluster) — true-CC labels of the base
    * corpus (cluster = the component's minimum id, [[clustersStar]]'s
    * contract); `crossPairs` (new_id, base_id) — increment×base LSH
    * candidates (e.g. [[ingestAgainstIndex]]); `incPairs`
    * (doc_a, doc_b) — candidates within the increment.
    *
    * Algorithm (union-find contraction): every cross edge re-attaches
    * the new doc to the base doc's REPRESENTATIVE (or to the base doc
    * itself when it carried no label — a singleton until now); true CC
    * then runs on this CONTRACTED graph, whose size is proportional to
    * the increment plus the touched representatives, never the base
    * corpus. A new doc linking two base components transitively MERGES
    * them: the contracted component contains both reps, and the final
    * rep-remap join moves every affected base label wholesale. Because
    * contracting components to their minimum preserves both
    * connectivity and the global minimum, the output is EXACTLY the
    * labels a full re-cluster of base+increment would produce —
    * `q_ingest_clusters`' oracle is the full-corpus recursive-CC SQL,
    * and the hash must match.
    *
    * Scale: base text is never touched (pairs arrive from the stored
    * LSH index); the base-sized work is ONE broadcast-able join of the
    * label table against the contracted-node remap (rep-keyed, tiny);
    * everything else is increment-sized. */
  def incrementalClusters(baseLabels: DataFrame, idCol: String,
      crossPairs: DataFrame, incPairs: DataFrame,
      maxRounds: Int = 12): DataFrame = {
    val bl = persistTracked(baseLabels.select(col(idCol), col("cluster")))
    val crossRep = crossPairs
      .join(bl.select(col(idCol).as("base_id"), col("cluster").as("rep")),
        Seq("base_id"), "left")
      .select(col("new_id").as("a"),
        coalesce(col("rep"), col("base_id")).as("b"))
    val intra = incPairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val contracted = persistTracked(
      clustersStar(crossRep.unionAll(intra), "a", "b", maxRounds))
    // rep remap: a base component whose representative appears in the
    // contracted graph takes the contracted component's (global-min)
    // label; untouched components keep theirs
    val updatedBase = bl
      .join(contracted
          .select(col("a").as("cluster"), col("cluster").as("newc")),
        Seq("cluster"), "left")
      .select(col(idCol), coalesce(col("newc"), col("cluster")).as("cluster"))
    // contracted nodes that are NOT base representatives: the
    // increment's docs and formerly-singleton base docs — their label
    // comes straight off the contracted CC
    val fresh = contracted
      .join(bl.select(col("cluster").as("a")).distinct(),
        Seq("a"), "left_anti")
      .select(col("a").as(idCol), col("cluster"))
    updatedBase.unionAll(fresh)
  }

  /** Duplicated-SPAN detection (the practical approximation of exact-
    * substring dedup, Lee et al. 2021 "Deduplicating Training Data Makes
    * Language Models Better"): a doc's w-token windows that also occur in
    * ANOTHER doc are "duplicated spans"; the per-doc duplicated fraction
    * is the filter signal (docs above a threshold are boilerplate-heavy
    * or wholesale copies even when whole-doc Jaccard stays low).
    *
    * Scale: windows are reduced to 64-bit polynomial hashes BEFORE the
    * corpus-wide aggregation, so the explode emits (id, long) rows and
    * the groupBy shuffles distinct hashes with map-side partial counts —
    * window TEXT never rides an exchange. Per-doc windows are distinct'd
    * doc-locally (narrow) so a doc repeating its own span doesn't count
    * as cross-doc duplication. No O(n²) stage: cost is rows × windows
    * per row on the map side, distinct window hashes on the reduce side —
    * the same shape a suffix-array-free span dedup runs at 100 TB.
    *
    * Returns (id, n_windows, n_dup_windows, dup_frac). Docs shorter than
    * `w` tokens have no windows and drop out (both engines agree). */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8): DataFrame = {
    // persist: the window-hash stream feeds the per-window frequency AND
    // the per-doc rollup join — without a barrier the shingle+hash pass
    // over the full text runs twice; the cached rows are (id, long) only
    val winHashes = persistTracked(df.select(col(idCol),
      explode(array_distinct(transform(
        GraftFunctions.shingles(col(textCol), w),
        s => GraftFunctions.polyHash(s)))).as("wh")))
    val docsPerWin = winHashes.groupBy(col("wh"))
      .agg(count(lit(1)).as("ndocs"))
    winHashes.join(docsPerWin, "wh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast("double") / col("n_windows"))
  }

  /** WINNOWING fingerprints (Schleimer et al. 2003 — the MOSS
    * algorithm): from each window of `w` consecutive k-gram hashes,
    * select the minimum (ties → RIGHTMOST, the original's consistency
    * rule); the distinct selected hashes are the document's
    * fingerprints. Winnowing guarantees any shared substring of length
    * ≥ w+k-1 tokens yields at least one shared fingerprint, while
    * storing only ~2/(w+1) of the hashes — the density/guarantee
    * trade local-minima schemes lack.
    *
    * The (hash, rightmost-pos) argmin is ONE windowed MIN over a packed
    * key `gh·2²⁰ + (2²⁰−1−pos)` — pure integer, engine- and
    * partition-exact. Positions must stay under 2²⁰ tokens per doc
    * (pack the hash into the high bits of a wider split for longer
    * docs — at 1M+ tokens a "document" is a concatenation bug anyway).
    * Docs shorter than w+k-1 tokens have no full window and drop out.
    *
    * Scale: one generator pass per doc (narrow), one window shuffle
    * keyed by doc id, fingerprints ~2/(w+1) of corpus k-grams. */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    // POSITIONAL shingle-hash stream: the native Shingles expression
    // dedupes by design, which is right for set-based ops but wrong
    // here — winnowing is defined over the position sequence, and a
    // repeated k-gram must occupy its repeated positions
    val g = df.select(col(idCol),
        posexplode(GraftFunctions.shingleHashes(col(textCol), k))
          .as(Seq("pos0", "gh")))
      .withColumn("pos", col("pos0").cast("long") + 1)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    val win = byDoc.orderBy(col("pos")).rowsBetween(0, w - 1)
    g.withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("key",
        expr("gh * 1048576 + (1048575 - pos)"))
      .withColumn("skey", min(col("key")).over(win))
      .filter(col("pos") <= col("n") - (w - 1))
      .select(col(idCol), expr("skey div 1048576").as("fp"))
      .distinct()
  }

  /** Near-dup candidate pairs by SHARED WINNOWED FINGERPRINTS — the
    * MOSS matching step: docs sharing ≥ `minShared` fingerprints.
    * Boilerplate fingerprints shared by more than `maxBucket` docs are
    * dropped before the self-join (the [[minhashCandidates]] viral-
    * bucket cap: a window count on the join key, no extra exchange) —
    * they carry no discriminative signal and would otherwise emit
    * O(bucket²) pairs. */
  def winnowingCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 2,
      maxBucket: Long = 64): DataFrame = {
    val fps = persistTracked(
      winnowedFingerprints(df, idCol, textCol, k, w)
        .withColumn("bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .filter(col("bsz") <= maxBucket)
        .select(col(idCol), col("fp")))
    val a = fps.select(col(idCol).as("doc_a"), col("fp"))
    val b = fps.select(col(idCol).as("doc_b"), col("fp"))
    a.join(b, "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Embedding near-dup pairs: random-hyperplane LSH bucket join, then
    * exact cosine verification above `threshold`. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nbits: Int = 8, dim: Int = 64): DataFrame = {
    // persist: see minhashCandidates — blocks the per-pair recompute
    val sigs = persistTracked(df.select(col(idCol), col(vecCol),
      GraftFunctions.simSig(col(vecCol), nbits).as("sig")))
    val a = sigs.select(col(idCol).as("id_a"), col(vecCol).as("v_a"), col("sig"))
    val b = sigs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), col("sig"))
    a.join(b, "sig")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosineSim(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** EDIT-DISTANCE near-duplicates: LSH-blocked candidates verified by
    * exact Levenshtein distance ≤ `maxDist` — the verify step the
    * Jaccard family cannot express (token-set similarity is blind to
    * ORDER; edit distance is the contract when "same doc, small patch"
    * means character-level edits). Returns (doc_a, doc_b, edit_dist).
    *
    * Scale shape: candidates come from [[minhashCandidates]] (banded,
    * bucket-capped — never all pairs); the text join is the verify
    * step's unavoidable cost and ships each text once per candidate
    * pair. The verify itself uses Spark's THRESHOLDED levenshtein —
    * the banded O(maxDist·n) DP, not the O(n²) full matrix, returning
    * -1 the moment the band is exceeded (hence the >= 0 filter: -1
    * must not pass a ≤ maxDist cut). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val cand = minhashCandidates(docs, idCol, textCol)
      .select(col("doc_a"), col("doc_b"))
      // REBALANCE before the verify: candidate pairs leave the LSH
      // self-join clustered by (band, bucket) — a duplicate-heavy
      // corpus concentrates its pairs in a few hot buckets, and once
      // AQE broadcasts the text joins the per-pair DP below would run
      // inside those few skewed tasks (measured 142 s vs 12 s at the
      // 10× twin-heavy smoke). Hashing on the pair key redistributes
      // the CPU-heavy verify evenly; the exchange ships 16-byte id
      // pairs. AQE coalescing keys on bytes and would undo this for
      // CPU-bound work — hence an explicit partition count pinned to
      // the session's parallelism, not a byte target.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
    val txt = docs.select(col(idCol), col(textCol))
    cand
      .join(txt.select(col(idCol).as("doc_a"), col(textCol).as("__ta")),
        Seq("doc_a"))
      .join(txt.select(col(idCol).as("doc_b"), col(textCol).as("__tb")),
        Seq("doc_b"))
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /** EXACT duplicated-substring detection — the exact-match pass that
    * follows MinHash in production train-data dedup: every MAXIMAL
    * substring of length >= `minLen` shared verbatim by two documents,
    * as (doc_a, doc_b, start_a, start_b, len) with doc_a < doc_b and
    * 1-based starts.
    *
    * Reduction: a shared substring of length >= L exists iff a shared
    * L-gram exists, and the maximal match at a (pair, diagonal) is
    * exactly a RUN of consecutive matching L-gram positions (len =
    * run + L - 1) — so the operator is anchor-on-fingerprinted-k-grams
    * + diagonal run-length grouping, never suffix construction.
    *
    * Scale shape: the corpus-sized path carries (id, pos, xxhash64)
    * triples — 24 bytes per character position, NOT the L-byte gram
    * (an L× text amplification this plan exists to avoid). One
    * groupBy(h) prunes the non-duplicated majority before the
    * self-join; the hash join's false positives are removed by an
    * exact substring-equality RESIDUAL against the match-sized pair
    * frame (two slim text joins), so hash width never affects the
    * answer. The runs window partitions by (pair, diagonal) — data-
    * sized, never global. Honest quadratic: like every exact pair
    * emitter, output (and the self-join) is quadratic in the copies of
    * a VIRAL substring — that is the answer's own size, not plan
    * waste; cap upstream (e.g. boilerplate strip) if the corpus needs
    * it. */
  /** All L-gram fingerprints of a (id, t) frame with 1-based positions;
    * the CASE guards short docs (sequence(1, 0) DESCENDS in Spark).
    * The corpus-sized path ships 24-byte (id, pos, hash) triples, never
    * the L× gram-string amplification. */
  private[graft] def gramFrame(txt: DataFrame, minLen: Int): DataFrame =
    txt.select(col("id"),
      explode(expr(
        s"""CASE WHEN length(t) >= $minLen THEN
              transform(sequence(1, length(t) - ${minLen - 1}),
                i -> struct(CAST(i AS BIGINT) AS pos,
                            xxhash64(substring(t, i, $minLen)) AS h))
            ELSE array() END""")).as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.h").as("h"))

  /** Diagonal gaps-and-islands over verified (doc_a, doc_b, pa, pb)
    * gram matches: consecutive (pa, pb) steps share pa - row_number
    * within a (pair, diagonal) partition — each island is one MAXIMAL
    * shared substring of length run + minLen - 1. */
  private[graft] def maximalRuns(matches: DataFrame, minLen: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    matches.withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(w).cast("long"))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + (minLen - 1).toLong).as("len"))
      .select(col("doc_a"), col("doc_b"), col("start_a"),
        col("start_b"), col("len"))
  }

  /** Exact substring-equality residual on hash-matched positions: a
    * 64-bit collision can never fabricate a match. Match-sized joins
    * against the slim text frames. */
  private[graft] def verifyGramMatches(matches: DataFrame, txtA: DataFrame,
      txtB: DataFrame, minLen: Int): DataFrame =
    matches
      .join(txtA.select(col("id").as("doc_a"), col("t").as("__ta")),
        Seq("doc_a"))
      .join(txtB.select(col("id").as("doc_b"), col("t").as("__tb")),
        Seq("doc_b"))
      .filter(expr(s"substring(__ta, CAST(pa AS INT), $minLen) = " +
        s"substring(__tb, CAST(pb AS INT), $minLen)"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))

  def duplicatedSubstrings(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val txt = persistTracked(
      docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t")))
    denseRunsOf(txt, minLen)
  }

  /** The dense anchor/residual/runs core over a prepared (id, t) frame
    * — shared by [[duplicatedSubstrings]] and the sampled mode's
    * regime-guard fallback (which already holds the persisted txt). */
  private def denseRunsOf(txt: DataFrame, minLen: Int): DataFrame =
    denseRunsFromGrams(txt, gramFrame(txt, minLen), minLen)

  /** [[denseRunsOf]] over a CALLER-SUPPLIED gram frame — the streaming
    * gate grams its increment once (persisted h-partitioned) and feeds
    * the same frame to this intra pass, the cross join, and the state
    * append, so the increment is grammed and exchanged once per batch
    * instead of three times. */
  private[graft] def denseRunsFromGrams(txt: DataFrame, grams: DataFrame,
      minLen: Int): DataFrame = {
    // the non-duplicated majority never reaches the self-join: ONE
    // h-partitioned window count filters in place (no second shuffle,
    // no dup-hash join; a pre-h-partitioned gram frame makes it
    // exchange-free outright), and because the persisted frame ends
    // h-hash-partitioned, the self-join below reuses that partitioning
    // exchange-free
    val gd = persistTracked(grams
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__n") > 1).drop("__n"))
    val matches = verifyGramMatches(
      gd.select(col("h"), col("id").as("doc_a"), col("pos").as("pa"))
        .join(gd.select(col("h"), col("id").as("doc_b"),
          col("pos").as("pb")), Seq("h"))
        .filter(col("doc_a") < col("doc_b")),
      txt, txt, minLen)
    maximalRuns(matches, minLen)
  }

  /** SAMPLED-ANCHOR exact substring dedup — [[duplicatedSubstrings]]
    * with the corpus-sized gram exchange cut ~w×, for corpora where
    * even 24 bytes/char of anchor traffic is the bottleneck (100 TB of
    * text is a ~2.4 PB dense-anchor shuffle; winnowed anchors ship
    * ~2/(w+1) of the positions). Returns every maximal verbatim-shared
    * span of length >= `minLen + w - 1` — the documented reporting
    * bound — with EXACT boundaries, as (doc_a, doc_b, start_a,
    * start_b, len), doc_a < doc_b, 1-based starts.
    *
    * Plan: (1) winnow the L-gram hash stream per document (MOSS-style:
    * each window of `w` consecutive gram positions selects its minimal
    * hash, rightmost on ties — a pure function of the window's
    * CONTENT, so two documents sharing a span select the same relative
    * offsets); (2) join anchors on the 64-bit hash and verify the
    * exact substring residual — anchor matches, never dense
    * positions-×-positions; (3) re-gram ONLY the documents with a
    * verified anchor match and run the dense match + diagonal-runs
    * grouping of the exact operator over them, recovering every span
    * boundary exactly; (4) keep spans >= minLen + w - 1.
    *
    * Completeness argument: a maximal shared span of length
    * >= minLen + w - 1 contains >= w consecutive matching L-gram
    * positions; those form one COMPLETE winnowing window lying inside
    * the span on both documents, and window-min selection depends only
    * on the window's w gram hashes (ties broken by relative position),
    * so both documents select the same aligned gram — an anchor match
    * with equal hash that survives the residual (the texts really
    * share those L chars). The pair therefore reaches the dense step,
    * which computes ALL its maximal runs exactly; the final length
    * filter then makes the output EXACTLY "the dense operator's output
    * filtered to len >= minLen + w - 1" — deterministic, engine-
    * independent, and oracle-checkable without replaying the winnowing
    * (spans in [minLen, minLen + w - 1) are deliberately below the
    * reporting bound; run the dense operator when they matter).
    *
    * Scale shape: anchor SELECTION never shuffles — a document's grams
    * are co-located in its own input row, so the winnowing fold runs
    * as one higher-order expression over the per-doc hash array (the
    * window-function formulation would first shuffle the full 24 B/char
    * gram frame by doc id, re-creating the exchange this operator
    * exists to avoid). The ONLY corpus-sized exchange is therefore one
    * h-partition of the anchor stream — ~2/(w+1) of the positions,
    * paid once: the duplicate-count prefilter window forces it and the
    * self-join reuses the persisted partitioning exchange-free (the
    * dense operator's own discipline, one frame lighter); the
    * dense fallback re-grams just the documents that PROVABLY share
    * >= minLen verbatim chars — the duplicated minority the answer is
    * about, bounded by the same honest-quadratic argument as the dense
    * operator. A document with fewer than w grams contributes no
    * anchors and cannot contain a span >= minLen + w - 1 (such a span
    * needs w gram positions). */
  /** Winnowed anchor positions of a (id, t) frame: per document, each
    * complete `w`-window over the L-gram hash stream selects its
    * minimal hash (RIGHTMOST position on ties — both choices are pure
    * functions of the window's content, so two documents sharing the
    * window's grams select the same relative offset). One NATIVE
    * generator row-per-anchor ([[GraftFunctions.winnowedAnchorRows]]:
    * XXH64 gram pass + O(n) monotonic-deque selection) — ZERO shuffle
    * before the anchor join, and none of the per-window struct
    * allocation that made the aggregate-HOF formulation of the same
    * selection the suite's heaviest query (~10 s warm at sf0.1; the
    * native loop is ~6x cheaper). */
  private[graft] def winnowedAnchorFrame(txt: DataFrame, minLen: Int,
      w: Int): DataFrame =
    // w = 1: every position is its own window — dense anchors
    if (w == 1) gramFrame(txt, minLen)
    else txt.select(col("id"),
      graft.functions.GraftFunctions
        .winnowedAnchorRows(col("t"), minLen, w).as(Seq("pos", "h")))

  def duplicatedSubstringsSampled(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, w: Int = 8): DataFrame =
    duplicatedSubstringsSampledImpl(docs, idCol, textCol, minLen, w)._1

  /** [[duplicatedSubstringsSampled]] plus the REGIME-GUARD verdict
    * (true = fell back to dense), exposed for specs and tuning. The
    * guard estimates the anchor self-join's pre-residual ordered-pair
    * count from a HASH-CLOSED SLICE of the anchor stream: duplicates
    * share their 64-bit hash, so the `pmod(h, guardSlice) = 0` slice
    * contains EVERY copy of its hashes — its `sum(__n − 1)` is the
    * exact pair count of the slice, and × guardSlice extrapolates to
    * the whole stream (exact in expectation, deterministic per
    * corpus). The slice pays 1/guardSlice of the anchor window
    * exchange, so the decision lands BEFORE the full anchor frame is
    * ever exchanged — on a verbatim-twin corpus the guarded operator
    * costs the dense operator plus one narrow winnowing pass, not the
    * 3.7× round 7 measured. When the estimate exceeds the corpus's
    * character count (≈ the dense gram-frame row count), the anchor
    * join alone would ship more rows than the dense plan's whole
    * exchange: fall back to [[denseRunsOf]] over the already-persisted
    * txt, filtered to the same reporting bound. Both paths emit "the
    * dense truth filtered to len ≥ minLen+w−1", so the choice is
    * invisible to callers and oracles — a borderline corpus may flip
    * paths across guardSlice values, never results. */
  private[graft] def duplicatedSubstringsSampledImpl(docs: DataFrame,
      idCol: String, textCol: String, minLen: Int, w: Int,
      guardSlice: Int = 64): (DataFrame, Boolean) = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(w >= 1, s"w must be >= 1, got $w")
    require(guardSlice >= 1, s"guardSlice must be >= 1, got $guardSlice")
    // the guard runs over UNPERSISTED projections on purpose: its two
    // aggregations must not materialize the text cache before the
    // chosen path plans — a pre-materialized cache changes the join
    // stats the dense plan's residual-verify joins are costed with
    // (measured at 30×: the same dense work re-planned from in-memory
    // stats paid two extra match-sized exchanges, 17 GB vs 7 GB), and
    // the fallback must cost what the plain dense operator costs
    val raw = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("t"))
    val guard = winnowedAnchorFrame(raw, minLen, w)
      .filter(pmod(col("h"), lit(guardSlice.toLong)) === 0L)
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__n") > 1)
      .agg(sum(col("__n") - lit(1L)).as("p2")).head
    val anchorPairsEst =
      (if (guard.isNullAt(0)) 0L else guard.getLong(0)) * guardSlice
    val charsRow = raw.agg(sum(length(col("t")).cast("long"))).head
    val chars = if (charsRow.isNullAt(0)) 0L else charsRow.getLong(0)
    if (anchorPairsEst > chars)
      return (duplicatedSubstrings(docs, idCol, textCol, minLen)
        .filter(col("len") >= (minLen + w - 1).toLong), true)
    val txt = persistTracked(raw)
    // the dense operator's own exchange discipline, applied to the
    // anchor stream: ONE h-partitioned window count drops anchors whose
    // hash appears once (the clean majority — they can match nothing),
    // and because the persisted frame ends h-hash-partitioned, the
    // self-join below reuses that single exchange. Without this the
    // join would exchange the full anchor frame TWICE (once per side) —
    // measured MORE total shuffle than the dense operator on a
    // mostly-clean 30x corpus, the regime this mode exists for.
    val anchors = persistTracked(winnowedAnchorFrame(txt, minLen, w)
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__n") > 1).drop("__n"))
    // anchor join + exact residual -> matched DOCUMENT set. Note the
    // dense step below is restricted to matched DOCS, not matched
    // PAIRS: restricting to pairs would re-shuffle the dense gram-match
    // frame a second time on the pair key, and the restriction is
    // redundant anyway — if two matched docs share a span >= the
    // reporting bound WITH EACH OTHER, that span contains a complete
    // shared winnowing window, so the two docs anchor-match each other
    // directly; the final length filter therefore already confines the
    // output to anchored pairs (sub-bound cross-pairs do extra dense
    // work but can never surface).
    val cand = verifyGramMatches(
      anchors.select(col("h"), col("id").as("doc_a"), col("pos").as("pa"))
        .join(anchors.select(col("h"), col("id").as("doc_b"),
          col("pos").as("pb")), Seq("h"))
        .filter(col("doc_a") < col("doc_b")),
      txt, txt, minLen)
    val ids = cand.select(col("doc_a").as("id"))
      .unionByName(cand.select(col("doc_b").as("id"))).distinct()
    // dense recompute over the matched documents only. shuffle_hash on
    // the id side (opt guide §3.1, the round-11 semi-join idiom): ids =
    // the matched-document fraction projected to 8 B/row, so a
    // per-partition hash build is bounded at any scale — sort-merge was
    // sorting the full corpus-sized txt side just to semi-join it.
    val dtxt = persistTracked(
      txt.join(ids.hint("shuffle_hash"), Seq("id"), "left_semi"))
    val dg = persistTracked(gramFrame(dtxt, minLen))
    val matches = verifyGramMatches(
      dg.select(col("h"), col("id").as("doc_a"), col("pos").as("pa"))
        .join(dg.select(col("h"), col("id").as("doc_b"),
          col("pos").as("pb")), Seq("h"))
        .filter(col("doc_a") < col("doc_b")),
      dtxt, dtxt, minLen)
    (maximalRuns(matches, minLen)
      .filter(col("len") >= (minLen + w - 1).toLong), false)
  }

  /** BIPARTITE exact substring overlap — the cross-corpus twin of
    * [[duplicatedSubstrings]] and the exact-match DECONTAMINATION pass:
    * every maximal substring of length >= `minLen` shared verbatim by a
    * LEFT document and a RIGHT document (train × benchmark), as
    * (doc_a, doc_b, start_a, start_b, len) with doc_a from the left.
    * Same anchor-hash / residual-verify / diagonal-runs machinery; the
    * hash join is left-grams × right-grams directly (the two sides are
    * the duplicate filter for each other — a gram unique to one side
    * produces nothing). Ids may collide across sides: the pair key is
    * positional (left id, right id), never an identity test. */
  def duplicatedSubstringsWith(left: DataFrame, leftId: String,
      leftText: String, right: DataFrame, rightId: String,
      rightText: String, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val txtL = persistTracked(left.select(
      col(leftId).cast("long").as("id"), col(leftText).as("t")))
    val txtR = persistTracked(right.select(
      col(rightId).cast("long").as("id"), col(rightText).as("t")))
    val matches = verifyGramMatches(
      gramFrame(txtL, minLen)
        .select(col("h"), col("id").as("doc_a"), col("pos").as("pa"))
        .join(gramFrame(txtR, minLen)
          .select(col("h"), col("id").as("doc_b"), col("pos").as("pb")),
          Seq("h")),
      txtL, txtR, minLen)
    maximalRuns(matches, minLen)
  }

  /** Exact-substring DECONTAMINATION: cut every span a left (train)
    * document shares verbatim (>= minLen chars) with any right
    * (benchmark) document out of the TRAIN text — the
    * [[exciseDuplicatedSubstrings]] merge-and-slice fold applied to the
    * left side of [[duplicatedSubstringsWith]]. Returns the affected
    * train documents as (leftId, orig_len, clean_text). */
  def exciseContaminated(left: DataFrame, leftId: String,
      leftText: String, right: DataFrame, rightId: String,
      rightText: String, minLen: Int): DataFrame = {
    val runs = duplicatedSubstringsWith(left, leftId, leftText,
      right, rightId, rightText, minLen)
    val spans = runs
      .select(col("doc_a").as("__xid"), col("start_a").as("s"),
        (col("start_a") + col("len")).as("e"))
      .distinct()
      .groupBy(col("__xid"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
    sliceOutSpans(left.select(col(leftId).cast("long").as("__xid"),
      col(leftText).as("__xt")), spans, leftId)
  }

  /** Corpus EXCISE over [[duplicatedSubstrings]]: keep the FIRST copy
    * (lowest doc id) of every duplicated span and cut the repeat out of
    * the higher-id document — the Lee-et-al-style exact-substring
    * cleanup pass. Returns only the AFFECTED documents as
    * (idCol, orig_len, clean_text); overlapping spans are merged before
    * slicing, so excised regions are counted once.
    *
    * The merge-and-slice is ONE per-document fold over the doc's own
    * sorted span list (collect_list is span-count bounded, not
    * corpus-bounded): the fold keeps a cursor at the next un-excised
    * character, appends the kept gap before each span, and advances
    * the cursor to max(cursor, span end) — overlap merging falls out of
    * the max. No global anything: spans shuffle once on doc id. */
  def exciseDuplicatedSubstrings(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame = {
    val runs = duplicatedSubstrings(docs, idCol, textCol, minLen)
    val spans = runs
      .select(col("doc_b").as("__xid"), col("start_b").as("s"),
        (col("start_b") + col("len")).as("e"))
      .distinct()
      .groupBy(col("__xid"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
    sliceOutSpans(docs.select(col(idCol).cast("long").as("__xid"),
      col(textCol).as("__xt")), spans, idCol)
  }

  /** The merge-and-slice fold shared by the excise operators: per doc,
    * one pass over its sorted span list with a cursor at the next
    * un-excised character — the kept gap before each span is appended,
    * the cursor advances to max(cursor, span end), so overlap merging
    * falls out of the max. */
  private def sliceOutSpans(txt: DataFrame, spans: DataFrame,
      idCol: String): DataFrame =
    txt.join(spans, Seq("__xid"))
      .select(col("__xid").as(idCol),
        length(col("__xt")).cast("long").as("orig_len"),
        expr("""aggregate(sp,
            struct(CAST(1 AS BIGINT) AS cur, '' AS acc),
            (st, x) -> struct(
              greatest(st.cur, x.e) AS cur,
              CASE WHEN x.s > st.cur
                THEN concat(st.acc, substring(__xt, CAST(st.cur AS INT),
                  CAST(x.s - st.cur AS INT)))
                ELSE st.acc END AS acc),
            st -> concat(st.acc,
              substring(__xt, CAST(st.cur AS INT), 2147483647)))""")
          .as("clean_text"))
}

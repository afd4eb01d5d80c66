package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.queries.Shared.freshFixtureDir
import graft.sources.VersionedTable
import graft.streaming.{BucketedState, MergeState}

/** Scale probes: each one builds a K× corpus from an sf dir, optionally
  * streams it through a gate in `nBatches` increments against fresh
  * state under a fixture root, and checks the result against the
  * one-shot batch operator over the whole corpus. Run one with
  * `RunOne probe <name> [src] [K] [nBuckets] [nBatches]`; the measured
  * rows are recorded in SCALE.md.
  *
  * What they catch that plan audits cannot: per-batch cost that tracks
  * accumulated state instead of the increment shows up as growing
  * `wall_s`/`shuf_mb`/`write_mb` columns, and a gate that drifts from
  * its batch operator at scale fails its parity. Two corpus regimes:
  * VERBATIM copies (every row gains K−1 twins, so output grows ~K²
  * and buries the state term) and SALTED or ROTATED copies (cross-copy
  * matches killed, each copy keeps the source's own near-dups: the
  * mostly-clean regime where flat per-batch shuffle under growing
  * state is measurable). */
object ScaleProbes {

  // divisible by 10 (mod-10 slice classes) and far above any sf key
  private val OFF = 100000000000L

  /** One probe run's inputs: the source sf dir, the copy factor, the
    * gate's state bucket count, the number of increments, and the
    * fixture root the gate's state and output live under (wiped first). */
  final case class Args(src: String, k: Int, nBuckets: Int, nBatches: Int,
      root: String)

  /** A probe's verdict: what it compared, and whether the sides agree. */
  final case class Parity(detail: String, ok: Boolean)

  /** A gate under probe: its sink over a fixture root and bucket count,
    * the root subdirectory it commits its output to (counted after each
    * batch), for MergeState gates the state subdirectory whose tiered
    * folds each batch line lists, and a step run after batch i. */
  final case class Gate(
      sink: (String, Int) => (DataFrame, Long) => Unit,
      out: String,
      folds: Option[String] = None,
      after: (SparkSession, Args, Int) => Unit = (_, _, _) => ())

  /** One probe row: the corpus builder, the id column its increments
    * split on (`pmod(split, nBatches) = i`), the gate (none for an
    * operator-only probe), the row's default bucket and batch counts,
    * and the parity over the corpus and the run's fixtures. */
  final case class Probe(name: String,
      corpus: (SparkSession, Args) => DataFrame, split: String,
      gate: Option[Gate], parity: (SparkSession, DataFrame, Args) => Parity,
      nBuckets: Int = 64, nBatches: Int = 3)

  /** Bytes as MB: the probes print shuffle and write volume next to
    * wall time (a plan can look fast at K× while shipping K² bytes). */
  private def mb(bytes: Long): Double = bytes / 1048576.0

  // ----- corpora -----

  /** K copies of the documents table, copy i's `doc_id` shifted by
    * i·OFF. Verbatim copies, or with `salt` two copy-specific letters
    * spliced every 16 chars (DOTALL, so newline-spanning runs are salted
    * too): no 30-gram survives across copies while each copy keeps the
    * source corpus's own twins. */
  private def docs(salt: Boolean)(spark: SparkSession, a: Args): DataFrame = {
    val base = spark.read.parquet(s"${a.src}/documents.parquet")
    (0 until a.k).map { i =>
      val text = if (!salt) col("text") else regexp_replace(col("text"),
        "(?s)(.{16})", "$1" + ('a' + i % 26).toChar + ('a' + i / 26).toChar)
      base.select((col("doc_id") + lit(i * OFF)).as("doc_id"), text.as("text"))
    }.reduce(_.unionAll(_))
  }

  /** K copies of the embeddings table. `twin` replicates vectors
    * verbatim (every vector gains K−1 cosine-1 twins); otherwise copy i
    * cyclically shifts its dimensions by i, so cross-copy cosines
    * collapse while each copy keeps the source's own near-dups. */
  private def vectors(twin: Boolean)(spark: SparkSession, a: Args)
      : DataFrame = {
    val base = spark.read.parquet(s"${a.src}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    (0 until a.k).map { i =>
      val s = i % dim
      val v = if (twin) col("embedding") else expr(
        s"concat(slice(embedding, ${s + 1}, ${dim - s}), slice(embedding, 1, $s))")
      base.select((col("vec_id") + lit(i * OFF)).as("vec_id"), v.as("embedding"))
    }.reduce(_.unionAll(_))
  }

  /** K·50 000 synthetic points with hashed coordinates over a plane
    * sized for ~n²·πr²/2M² within-radius pairs: sparse but nonzero
    * (~4k pairs at K=30, ~17 at K=2). Data-free: `src` is unused. */
  private def points(spark: SparkSession, a: Args): DataFrame = {
    val m = 3000000L
    spark.range(a.k * 50000L).select(col("id"),
      pmod(xxhash64(col("id"), lit(1)), lit(m)).as("x"),
      pmod(xxhash64(col("id"), lit(2)), lit(m)).as("y"))
  }

  /** K copies of the events table with the KEY salted per copy, so the
    * changepoint state's keys × days grid grows with the corpus (the
    * per-user-monitoring shape). */
  private def events(spark: SparkSession, a: Args): DataFrame =
    graft.sources.Tables(spark, a.src, "events")
      .crossJoin(spark.range(a.k).select(col("id").as("cp")))
      .select((col("event_id") * a.k + col("cp")).as("event_id"),
        concat(col("event_type"), lit("#"), col("cp")).as("event_type"),
        col("ts"))

  // ----- gates -----

  private val minLen = 30
  private val semThreshold = 0.35
  private val semCells = 64

  private val substrGate = Gate((r, nb) => graft.streaming.SubstrGate.sink(
    s"$r/docs", s"$r/grams", s"$r/out", "doc_id", "text", minLen,
    nBuckets = nb), "out")

  /** With `roll`, a mid-stream epoch roll after batch 1 (production
    * SemDeDup's periodic re-cluster: retrain on the accumulated state,
    * re-encode, emit the catch-up delta, flip), measured on its own line. */
  private def semGate(roll: Boolean) = Gate((r, nb) =>
    graft.streaming.SemGate.sink(s"$r/state", s"$r/out", "vec_id",
      "embedding", semThreshold, ncells = semCells, nBuckets = nb), "out",
    after = (spark, a, i) => if (roll && i == 1) {
      val (e, w) = Work.measure(spark)(graft.streaming.SemGate.rollEpoch(
        spark, s"${a.root}/state", s"${a.root}/out", semThreshold,
        fromEpoch = 0, ncells = semCells, nBuckets = a.nBuckets))
      println(f"[sem_gate_roll] roll -> epoch $e%d in ${w.wallS}%8.2f s, " +
        f"${mb(w.shuffleWriteBytes)}%9.1f MB shuffled")
    })

  private val spatialGate = Gate((r, nb) => graft.streaming.SpatialGate.sink(
    s"$r/state", s"$r/out", "id", "x", "y", radius = 100L, cell = 100L,
    nBuckets = nb), "out")

  private val clusterGate = Gate((r, nb) =>
    graft.streaming.ClusterMaintainer.sink(s"$r/labels", s"$r/idx",
      "doc_id", "text", nBuckets = nb), "labels")

  private val changepointGate = Gate((r, nb) =>
    graft.streaming.ChangepointGate.sink(s"$r/state", s"$r/out",
      "event_type", nBuckets = nb, compactEvery = 2), "out", Some("state"))

  private val boilerplateGate = Gate((r, nb) =>
    graft.streaming.BoilerplateGate.sink(s"$r/freq", s"$r/out", "doc_id",
      "text", nBuckets = nb, compactEvery = 2), "out", Some("freq"))

  // ----- parities -----

  private def symDiff(got: DataFrame, want: DataFrame): Long =
    got.exceptAll(want).count() + want.exceptAll(got).count()

  private def countParity(spark: SparkSession, what: String, streamed: Long)
      (oneShot: => Long): Parity = {
    val (n, w) = Work.measure(spark)(oneShot)
    Parity(f"one-shot $n%d $what in ${w.wallS}%.2f s; streamed cumulative " +
      s"$streamed", n == streamed)
  }

  /** Streamed runs == the one-shot dense operator over the corpus. */
  private def substrParity(spark: SparkSession, d: DataFrame, a: Args) =
    countParity(spark, "rows",
      VersionedTable.read(spark, s"${a.root}/out").count())(
      Dedup.duplicatedSubstrings(d, "doc_id", "text", minLen).count())

  /** Dense vs sampled, each timed with its total job shuffle (the
    * sampled mode's exchange should grow only with anchors and the
    * duplicated minority), then the sampled operator's contract: its
    * output equals the dense output filtered to `len >= minLen + w − 1`. */
  private def denseVsSampled(spark: SparkSession, d: DataFrame, a: Args)
      : Parity = {
    val w = 8
    def timed(tag: String, df: DataFrame): DataFrame = {
      val kept = Dedup.persistTracked(df)
      val (rows, wk) = Work.measure(spark)(kept.count())
      println(f"[substr_sampled] $tag%-8s rows=$rows%10d wall=${wk.wallS}%8.2f s " +
        f"shuffle=${mb(wk.shuffleWriteBytes)}%10.1f MB")
      kept
    }
    val dense = timed("dense",
      Dedup.duplicatedSubstrings(d, "doc_id", "text", minLen))
    val sampled = timed("sampled",
      Dedup.duplicatedSubstringsSampled(d, "doc_id", "text", minLen, w))
    val diff = symDiff(sampled,
      dense.filter(col("len") >= minLen + w - 1))
    Parity(s"sampled vs dense filtered to len >= ${minLen + w - 1}: " +
      s"symmetric diff $diff", diff == 0)
  }

  /** Without a roll: streamed pairs == the one-shot frozen-cell operator
    * under the gate's own committed centroids. With a roll after batch
    * 1: distinct streamed pairs == truth(old codebook, batches 0-1) ∪
    * truth(new codebook, all), the cross-epoch contract SemGateSpec
    * pins at spec scale. */
  private def semParity(roll: Boolean)(spark: SparkSession, v: DataFrame,
      a: Args): Parity = {
    val coarse = s"${a.root}/state/coarse"
    def truth(vs: DataFrame, version: Option[Int]) =
      Similarity.cellPairsFrozen(vs, "vec_id", "embedding",
        Similarity.centFromFrame(VersionedTable.read(spark, coarse, version)),
        semThreshold).select(col("id_a"), col("id_b"))
    val streamed = VersionedTable.read(spark, s"${a.root}/out")
      .select(col("id_a"), col("id_b"))
    if (!roll) countParity(spark, "pairs", streamed.count())(
      truth(v, None).count())
    else countParity(spark, "distinct pairs", streamed.distinct().count())(
      truth(v.filter(pmod(col("vec_id"), lit(a.nBatches.toLong)) < 2L),
        Some(VersionedTable.versions(spark, coarse).head))
        .unionByName(truth(v, None)).distinct().count())
  }

  private def spatialParity(spark: SparkSession, p: DataFrame, a: Args) =
    countParity(spark, "pairs",
      VersionedTable.read(spark, s"${a.root}/out").count())(
      graft.operators.Spatial.radiusJoin(p, "id", "x", "y", 100L, 100L).count())

  /** Label set == the one-shot star clustering over the full corpus's
    * LSH candidates (the ClusterMaintainerSpec contract at K×). */
  private def clusterParity(spark: SparkSession, d: DataFrame, a: Args)
      : Parity = {
    val got = VersionedTable.read(spark, s"${a.root}/labels")
      .select(col("doc_id"), col("cluster"))
    val (diff, w) = Work.measure(spark) {
      val sigs = Dedup.persistTracked(
        Dedup.minhashSignatures(d, "doc_id", "text"))
      symDiff(got, Dedup.clustersStar(
        Dedup.candidatesFromSignatures(sigs, "doc_id")
          .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
        .select(col("doc_a").as("doc_id"), col("cluster")))
    }
    Parity(f"label-set symmetric diff $diff%d (one-shot in ${w.wallS}%.2f s)",
      diff == 0)
  }

  /** Committed readout == the one-shot CUSUM over the full corpus. */
  private def changepointParity(spark: SparkSession, ev: DataFrame,
      a: Args): Parity = {
    val (diff, w) = Work.measure(spark)(symDiff(
      VersionedTable.read(spark, s"${a.root}/out"),
      graft.operators.Events.cusumDaily(ev, "event_type")))
    Parity(f"readout symmetric diff $diff%d (one-shot in ${w.wallS}%.2f s)",
      diff == 0)
  }

  /** The merged frequency state == the one-shot per-hash distinct-doc
    * counts (order-independent, so it checks the delta and tiered-fold
    * arithmetic end to end), and one output row per doc. */
  private def boilerplateParity(spark: SparkSession, d: DataFrame, a: Args)
      : Parity = {
    val got = MergeState.readMerged(spark, s"${a.root}/freq",
      a.nBatches.toLong - 1, Seq("h"), Seq("ndocs")).get
    val want = Dedup.chunkSegments(d, "doc_id", "text", 10)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.polyHash(col("chunk")).as("h"))
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("ndocs"))
    val (diff, w) = Work.measure(spark)(symDiff(got, want))
    val outRows = VersionedTable.read(spark, s"${a.root}/out").count()
    val nDocs = d.count()
    Parity(f"state symmetric diff $diff%d (one-shot in ${w.wallS}%.2f s); " +
      f"out rows $outRows%d vs $nDocs%d docs", diff == 0 && outRows == nDocs)
  }

  /** Every probe, by name. */
  val all: Seq[Probe] = Seq(
    Probe("substr_sampled", docs(salt = true), "doc_id", None, denseVsSampled),
    Probe("substr_gate", docs(salt = false), "doc_id", Some(substrGate),
      substrParity),
    Probe("substr_gate_clean", docs(salt = true), "doc_id", Some(substrGate),
      substrParity),
    Probe("sem_gate", vectors(twin = false), "vec_id",
      Some(semGate(roll = false)), semParity(roll = false)),
    Probe("sem_gate_twin", vectors(twin = true), "vec_id",
      Some(semGate(roll = false)), semParity(roll = false)),
    Probe("sem_gate_roll", vectors(twin = false), "vec_id",
      Some(semGate(roll = true)), semParity(roll = true)),
    Probe("spatial_gate", points, "id", Some(spatialGate), spatialParity),
    Probe("cluster_gate", docs(salt = true), "doc_id", Some(clusterGate),
      clusterParity),
    Probe("changepoint_gate", events, "event_id", Some(changepointGate),
      changepointParity, nBuckets = 32, nBatches = 24),
    Probe("boilerplate_gate", docs(salt = true), "doc_id",
      Some(boilerplateGate), boilerplateParity))

  val byName: Map[String, Probe] = all.map(p => p.name -> p).toMap

  /** Run one probe: build and cache its corpus, stream it through the
    * gate batch by batch (one line per batch), then print and return the
    * parity. Everything the run caches is released when it returns or
    * throws. */
  def run(spark: SparkSession, p: Probe, a: Args): Parity =
    Dedup.scoped(spark) {
      val corpus = Dedup.persistTracked(p.corpus(spark, a))
      println(s"[${p.name}] corpus: ${corpus.count()} rows (K=${a.k})")
      p.gate.foreach { g =>
        freshFixtureDir(a.root)
        val snk = g.sink(a.root, a.nBuckets)
        println(f"[${p.name}] ${"batch"}%5s ${"inc_rows"}%10s " +
          f"${"cum_out"}%12s ${"wall_s"}%8s ${"shuf_mb"}%9s ${"write_mb"}%9s" +
          (if (g.folds.isDefined) "  folds" else ""))
        (0 until a.nBatches).foldLeft(Set.empty[BucketedState.Fold]) {
          (seen, i) =>
          val inc = corpus.filter(
            pmod(col(p.split), lit(a.nBatches.toLong)) === i.toLong)
          val now = batch(spark, p.name, g, snk, inc, i, a.root, seen)
          g.after(spark, a, i)
          now
        }
      }
      val parity = p.parity(spark, corpus, a)
      println(s"[${p.name}] ${parity.detail}; match=${parity.ok}")
      parity
    }

  /** One measured micro-batch, printed as `[tag] i incRows cumOut wall_s
    * shuf_mb write_mb`, where cumOut counts the gate's latest committed
    * output version; a MergeState gate's line ends with the tiered folds
    * this batch's compaction performed (the fold markers not in `seen`).
    * Returns the fold markers now present. */
  private def batch(spark: SparkSession, tag: String, g: Gate,
      snk: (DataFrame, Long) => Unit, inc: DataFrame, i: Int, root: String,
      seen: Set[BucketedState.Fold]): Set[BucketedState.Fold] = {
    val incRows = inc.count()
    val (_, w) = Work.measure(spark)(snk(inc, i.toLong))
    val out = s"$root/${g.out}"
    val cum = VersionedTable.rowCount(spark, out,
      VersionedTable.versions(spark, out).last)
    val now = g.folds.fold(Set.empty[BucketedState.Fold])(s =>
      BucketedState.foldMarkers(spark, s"$root/$s").toSet)
    val folds = (now -- seen).toSeq.sortBy(f => (f.level, f.start))
      .map(f => s"L${f.level}[${f.start},${f.hi}]").mkString(" ")
    println(f"[$tag] $i%5d $incRows%10d $cum%12d ${w.wallS}%8.2f " +
      f"${mb(w.shuffleWriteBytes)}%9.1f ${mb(w.outputBytes)}%9.1f  $folds")
    now
  }

  // ----- the K× headline ratio -----

  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** K disjoint copies of every table into `out`, copy i's keys shifted
    * by i·OFF: foreign keys shift together, so each copy is
    * referentially intact, and keys shift by a multiple of 10, so
    * `doc_id % 10` ingest slices and mod-based cohort splits keep their
    * semantics in every copy. Dimension tables (region/nation) stay
    * single: their keys are referenced unshifted from every copy. Runs
    * once per (src, K): the marker encodes both, so a re-run against a
    * different source or factor re-amplifies, and stale markers from
    * other configs are swept so they can never validate the wrong corpus. */
  private def ensureAmplified(spark: SparkSession, src: String, out: String,
      k: Int): Unit = {
    val marker = new java.io.File(
      s"$out/_AMPLIFIED_OK_${src.replaceAll("[^A-Za-z0-9]", "_")}_x$k")
    if (!marker.exists()) {
      keyCols.foreach { case (tbl, keys) =>
        val base = spark.read.parquet(s"$src/$tbl.parquet")
        val amped =
          if (keys.isEmpty) base
          else (0 until k).map { i =>
            keys.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i * OFF)))
          }.reduce(_.unionAll(_))
        amped.write.mode("overwrite").parquet(s"$out/$tbl.parquet")
      }
      Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_AMPLIFIED_OK_"))
        .foreach(_.delete())
      marker.createNewFile()
      ()
    }
  }

  /** Time each named query against `src` and against its K× amplified
    * copy in `out`, printing the wall-time ratio per query: a stage that
    * is accidentally single-partition or quadratic shows up as a ratio
    * far above K, as wall time rather than a log warning. Text and
    * embedding payloads replicate verbatim, so dedup/similarity queries
    * legitimately emit ~K² pairs: read their ratio against the printed
    * output-row growth (superlinear time with superlinear output is the
    * corpus; with linear output it is a bug). */
  def scale(spark: SparkSession, src: String, out: String, k: Int,
      names: Seq[String]): Unit = {
    ensureAmplified(spark, src, out, k)
    def run(name: String, dir: String): (Long, Work) =
      Work.measure(spark)(SparkEntry.queries(name)(spark, dir).count())
    println(f"[scale] ${"query"}%-24s ${"rows1x"}%10s ${"rowsKx"}%12s " +
      f"${"t1x_s"}%8s ${"tKx_s"}%8s ${"ratio"}%7s " +
      f"${"shuf1x_mb"}%10s ${"shufKx_mb"}%10s")
    names.foreach { name =>
      // 1× first: warms codegen for the plan shape, so the K× run is
      // measured JIT-warm and the ratio reflects data volume only
      val (r1, w1) = run(name, src)
      val (rk, wk) = run(name, out)
      println(f"[scale] $name%-24s $r1%10d $rk%12d ${w1.wallS}%8.2f " +
        f"${wk.wallS}%8.2f ${wk.wallS / w1.wallS}%7.1f " +
        f"${mb(w1.shuffleWriteBytes)}%10.1f ${mb(wk.shuffleWriteBytes)}%10.1f")
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable
import graft.streaming.BucketedState

/** Scale-amplified smoke: materialize a K× corpus from an sf dir by
  * shifted-key unions into a SCRATCH dir (the read-only /root/testdata is
  * never touched), then time the bench HEADLINE subset against both dirs
  * in one JVM and print the wall-time ratio per query.
  *
  * What it catches that plan audits cannot: a stage that is accidentally
  * single-partition or quadratic shows up as a ratio far above K — as
  * WALL TIME, not a log warning. Interpretation notes:
  *   - keys shift by a multiple of 10, so `doc_id % 10` ingest slices and
  *     mod-based cohort splits keep their semantics in every copy;
  *   - text/embedding payloads replicate VERBATIM, so the K× corpus has
  *     K× exact duplication — dedup/similarity queries legitimately emit
  *     ~K²-ish pair counts (each doc gains K-1 twins). For those, read
  *     the ratio against the printed output-row growth: superlinear time
  *     WITH superlinear output is the corpus, superlinear time with
  *     linear output is a bug.
  *
  * Usage: runMain graft.ScaleSmoke [srcDir] [outDir] [K]
  * Results are recorded in SCALE.md per round. */
object ScaleSmoke {

  // divisible by 10 (mod-10 slice classes) and far above any sf key
  private val OFF = 100000000000L

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

  /** K disjoint copies of every table, copy i's keys shifted by i·OFF —
    * foreign keys shift together, so each copy is referentially intact.
    * Dimension tables (region/nation) stay single: their keys are
    * referenced unshifted from every copy. */
  private def amplify(spark: SparkSession, src: String, out: String,
      k: Int): Unit =
    keyCols.foreach { case (tbl, keys) =>
      val base = spark.read.parquet(s"$src/$tbl.parquet")
      val amped =
        if (keys.isEmpty) base
        else (0 until k).map { i =>
          keys.foldLeft(base)((d, c) =>
            d.withColumn(c, col(c) + lit(i * OFF)))
        }.reduce(_.unionAll(_))
      amped.write.mode("overwrite").parquet(s"$out/$tbl.parquet")
    }

  /** Bytes as MB — the probes print shuffle-WRITE volume next to wall
    * time (a plan can look fast at K× while quietly shipping K² bytes;
    * that column catches it). */
  private[graft] def mb(bytes: Long): Double = bytes / 1048576.0

  /** One measured streaming-gate micro-batch: `snk(inc, i)` under
    * [[Work]], printed as `[tag] i incRows cumRows wall_s shuf_mb`, where
    * cumRows counts the latest committed version at `outPath`. */
  private[graft] def gateBatch(spark: SparkSession, tag: String,
      snk: (DataFrame, Long) => Unit, inc: DataFrame, i: Int,
      outPath: String): Unit = {
    val incRows = inc.count()
    val (_, w) = Work.measure(spark)(snk(inc, i.toLong))
    val cum = VersionedTable.rowCount(spark, outPath,
      VersionedTable.versions(spark, outPath).last)
    println(f"[$tag] $i%5d $incRows%10d $cum%12d ${w.wallS}%8.2f " +
      f"${mb(w.shuffleWriteBytes)}%9.1f")
  }

  /** One measured MergeState-gate micro-batch, printed as
    * `[tag] i incRows wall_s shuf_mb write_mb folds`: the tiered folds
    * are the fold markers at `statePath` not in `seen` (a fold's write
    * cost shows as its batch's write_mb). Returns the markers now
    * present. */
  private[graft] def foldBatch(spark: SparkSession, tag: String,
      snk: (DataFrame, Long) => Unit, inc: DataFrame, i: Int,
      statePath: String, seen: Set[BucketedState.Fold])
      : Set[BucketedState.Fold] = {
    val incRows = inc.count()
    val (_, w) = Work.measure(spark)(snk(inc, i.toLong))
    val now = BucketedState.foldMarkers(spark, statePath).toSet
    val folds = (now -- seen).toSeq.sortBy(f => (f.level, f.start))
      .map(f => s"L${f.level}[${f.start},${f.hi}]").mkString(" ")
    println(f"[$tag] $i%5d $incRows%10d ${w.wallS}%8.2f " +
      f"${mb(w.shuffleWriteBytes)}%9.1f ${mb(w.outputBytes)}%9.1f  $folds")
    now
  }

  /** Recursively delete a /tmp probe-state dir (one copy of the
    * recursive walk, with the same not-a-fixture-dir guard as
    * SparkEntry.freshFixtureDir — probes must never point this at
    * data). */
  private[graft] def rmFixture(path: String): Unit = {
    require(path.startsWith("/tmp/graft_"), s"not a fixture dir: $path")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  private[graft] def session(cpus: Int): SparkSession =
    GraftSession.builder("graft-scale-smoke", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Amplify once per (src, K): the marker encodes both, so a re-run
    * against a different source or factor re-amplifies, and stale
    * markers from other configs are swept so they can never validate
    * the wrong corpus. */
  private[graft] def ensureAmplified(spark: SparkSession, src: String,
      out: String, k: Int): Unit = {
    val cfg = s"${src.replaceAll("[^A-Za-z0-9]", "_")}_x$k"
    val marker = new java.io.File(s"$out/_AMPLIFIED_OK_$cfg")
    if (!marker.exists()) {
      amplify(spark, src, out, k)
      Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_AMPLIFIED_OK_"))
        .foreach(_.delete())
      marker.createNewFile()
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    ensureAmplified(spark, src, out, k)
    def run(name: String, dir: String): (Long, Work) =
      Work.measure(spark)(SparkEntry.queries(name)(spark, dir).count())
    println(f"[scale] ${"query"}%-24s ${"rows1x"}%10s ${"rowsKx"}%12s " +
      f"${"t1x_s"}%8s ${"tKx_s"}%8s ${"ratio"}%7s " +
      f"${"shuf1x_mb"}%10s ${"shufKx_mb"}%10s")
    val names = args.drop(3) match {
      case more if more.nonEmpty => more.toSeq
      case _ => Bench.headline
    }
    names.foreach { name =>
      // 1× first: warms codegen for the plan shape, so the K× run is
      // measured JIT-warm and the ratio reflects data volume only
      val (r1, w1) = run(name, src)
      val (rk, wk) = run(name, out)
      println(f"[scale] $name%-24s $r1%10d $rk%12d ${w1.wallS}%8.2f " +
        f"${wk.wallS}%8.2f ${wk.wallS / w1.wallS}%7.1f " +
        f"${mb(w1.shuffleWriteBytes)}%10.1f ${mb(wk.shuffleWriteBytes)}%10.1f")
    }
    spark.stop()
  }
}

/** MOSTLY-CLEAN 30× substring probe — the sampled-anchor mode's actual
  * regime. [[ScaleSmoke]]'s amplified corpus replicates text VERBATIM
  * (every doc gains K−1 twins), which is the sampled mode's worst
  * case: the matched-doc set becomes the whole corpus and the dense
  * fallback degenerates to the dense operator. Real corpora are mostly
  * clean. This probe builds K salted copies — two copy-specific letters
  * spliced every 16 chars (DOTALL, so newline-spanning runs are salted
  * too), so NO 30-gram survives across copies while
  * each copy keeps the original corpus's own twins — and measures
  * dense vs sampled wall + total job shuffle. Expected shape: output
  * grows ~K× (per-copy twins only), the dense operator's exchange
  * grows ~K× (it always ships the full gram frame), and the sampled
  * mode's exchange grows only with anchors + the duplicated MINORITY. */
object SubstrCleanScale {

  /** K salted copies of the documents table: copy-specific letters
    * spliced every 16 chars (DOTALL) kill every cross-copy 30-gram
    * while each copy keeps the source corpus's own twins — the
    * mostly-clean regime shared by this probe and
    * [[SubstrGateCleanScale]]. */
  private[graft] def saltedDocs(spark: SparkSession, src: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val base = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"))
    (0 until k).map { i =>
      base.select(
        (col("doc_id") + lit(i * 100000000000L)).as("doc_id"),
        regexp_replace(col("text"), "(?s)(.{16})",
          "$1" + ('a' + i % 26).toChar + ('a' + i / 26).toChar)
          .as("text"))
    }.reduce(_.unionAll(_))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 30
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = saltedDocs(spark, src, k).persist()
    println(s"[clean] corpus: ${docs.count()} docs (K=$k salted copies)")
    def run(tag: String)(df: DataFrame): Unit = {
      val (rows, w) = Work.measure(spark)(df.count())
      println(f"[clean] $tag%-10s rows=$rows%10d wall=${w.wallS}%8.2f s " +
        f"shuffle=${ScaleSmoke.mb(w.shuffleWriteBytes)}%10.1f MB")
    }
    run("dense")(graft.operators.Dedup.duplicatedSubstrings(
      docs, "doc_id", "text", 30))
    run("sampled")(graft.operators.Dedup.duplicatedSubstringsSampled(
      docs, "doc_id", "text", 30, 8))
    docs.unpersist()
    spark.stop()
  }
}

/** 3-batch streaming substring-gate scale probe at K×: streams the
  * amplified corpus through [[graft.streaming.SubstrGate]] in three
  * `doc_id % 3` increments against FRESH state, reporting per-batch
  * wall, increment rows, cumulative output rows, and shuffle-write
  * bytes. The claim under test: per-batch cost tracks the INCREMENT
  * (one increment-grams × pinned-index hash join + increment-sized
  * commits), not the accumulated state — batch 3's wall should sit
  * near batch 2's, not near a full corpus recompute. The final
  * cumulative table is count-checked against the one-shot batch
  * operator over everything (the SubstrGateSpec parity, here at K×). */
object SubstrGateScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale30x"
    val k = if (args.length > 2) args(2).toInt else 30
    val minLen = 30
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    ScaleSmoke.ensureAmplified(spark, src, out, k)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val base = s"/tmp/graft_sgate_scale_x$k"
    Seq("docs", "grams", "out").foreach(p => ScaleSmoke.rmFixture(s"${base}_$p"))
    // bucket count sized for the probe's mega-increments (the
    // production sizing rule: a bucket's increment slice is the
    // shuffled-hash BUILD side and must fit in task memory — 50k-doc
    // batches at 30x need more buckets than the bench fixture's tiny
    // slices; a real deployment picks thousands)
    val nBuckets = if (args.length > 3) args(3).toInt else 64
    val snk = graft.streaming.SubstrGate.sink(s"${base}_docs",
      s"${base}_grams", s"${base}_out", "doc_id", "text", minLen,
      nBuckets = nBuckets)
    println(f"[gate] ${"batch"}%5s ${"inc_rows"}%10s ${"cum_out"}%12s " +
      f"${"wall_s"}%8s ${"shuf_mb"}%9s")
    (0 until 3).foreach { i =>
      ScaleSmoke.gateBatch(spark, "gate", snk,
        docs.filter(pmod(col("doc_id"), lit(3L)) === i.toLong), i,
        s"${base}_out")
    }
    // K× parity: cumulative streamed runs == the one-shot operator
    val (oneShot, w) = Work.measure(spark)(graft.operators.Dedup
      .duplicatedSubstrings(docs, "doc_id", "text", minLen).count())
    val streamed = VersionedTable.read(spark, s"${base}_out").count()
    println(f"[gate] one-shot $oneShot%d rows in ${w.wallS}%.2f s; " +
      f"streamed cumulative $streamed%d; match=${oneShot == streamed}")
    spark.stop()
  }
}

/** MOSTLY-CLEAN 3-batch streaming gate probe — the measurable form of
  * the bucketed-state claim. On the verbatim-twin amplified corpus the
  * per-batch shuffle is dominated by the OUTPUT's own quadratic growth
  * (every doc gains K−1 twins; cumulative runs grow ~quadratically),
  * which buries the state term this probe exists to isolate. Here the
  * stream is the SALTED K× corpus ([[SubstrCleanScale.saltedDocs]]):
  * per-batch output is ~flat, accumulated state grows linearly, and
  * the bucketed layout's claim — per-batch shuffle tracks the
  * INCREMENT, not the state — shows up directly as a flat shuf_mb
  * column (the round-7 layout re-shuffled the whole gram index every
  * batch and grew here). `ShuffleBudgetSpec` pins the same claim
  * executably at spec scale. */
object SubstrGateCleanScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 30
    val nBuckets = if (args.length > 2) args(2).toInt else 64
    val minLen = 30
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = SubstrCleanScale.saltedDocs(spark, src, k).persist()
    println(s"[cgate] corpus: ${docs.count()} docs (K=$k salted copies)")
    val base = s"/tmp/graft_cgate_scale_x$k"
    Seq("docs", "grams", "out").foreach(p => ScaleSmoke.rmFixture(s"${base}_$p"))
    val snk = graft.streaming.SubstrGate.sink(s"${base}_docs",
      s"${base}_grams", s"${base}_out", "doc_id", "text", minLen,
      nBuckets = nBuckets)
    println(f"[cgate] ${"batch"}%5s ${"inc_rows"}%10s ${"cum_out"}%12s " +
      f"${"wall_s"}%8s ${"shuf_mb"}%9s")
    (0 until 3).foreach { i =>
      ScaleSmoke.gateBatch(spark, "cgate", snk,
        docs.filter(pmod(col("doc_id"), lit(3L)) === i.toLong), i,
        s"${base}_out")
    }
    val streamed = VersionedTable.read(spark, s"${base}_out").count()
    val (oneShot, w) = Work.measure(spark)(graft.operators.Dedup
      .duplicatedSubstrings(docs, "doc_id", "text", minLen).count())
    println(f"[cgate] one-shot $oneShot%d rows in ${w.wallS}%.2f s; " +
      f"streamed cumulative $streamed%d; match=${oneShot == streamed}")
    docs.unpersist()
    spark.stop()
  }
}

/** 3-batch streaming SEMANTIC-gate scale probe at K×: streams K copies
  * of the embeddings table through [[graft.streaming.SemGate]] in
  * three `vec_id % 3` increments against fresh state, reporting
  * per-batch wall, shuffle, and cumulative output, then count-checks
  * the cumulative pair table against the one-shot frozen-quantizer
  * operator ([[graft.operators.Similarity.cellPairsFrozen]] with the
  * gate's own committed centroids — the SemGateSpec parity at K×).
  *
  * Two regimes, like the substring probes: `twin` replicates vectors
  * VERBATIM (every vector gains K−1 cosine-1 twins — the
  * honest-quadratic row: output grows ~K², and so does the shuffle
  * that carries it), `clean` cyclically SHIFTS each copy's dimensions
  * by its copy index (random-ish vectors decorrelate across copies,
  * so cross-copy cosines collapse while each copy keeps the source
  * corpus's own near-dups — the regime where flat per-batch shuffle
  * under growing state is measurable). */
object SemGateScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 30
    val mode = if (args.length > 2) args(2) else "clean"
    val ncells = if (args.length > 3) args(3).toInt else 64
    val roll = args.length > 4 && args(4) == "roll"
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val base = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = 64
    val vecs = (0 until k).map { i =>
      val shifted =
        if (mode == "twin") col("embedding")
        else {
          val s = i % dim
          expr(s"concat(slice(embedding, ${s + 1}, ${dim - s}), " +
            s"slice(embedding, 1, $s))")
        }
      base.select((col("vec_id") + lit(i * 100000000000L)).as("vec_id"),
        shifted.as("embedding"))
    }.reduce(_.unionAll(_)).persist()
    println(s"[sgate] corpus: ${vecs.count()} vectors (K=$k $mode)")
    val root = s"/tmp/graft_semg_scale_${mode}_x$k"
    Seq("state", "out").foreach(p => ScaleSmoke.rmFixture(s"${root}_$p"))
    val snk = graft.streaming.SemGate.sink(s"${root}_state",
      s"${root}_out", "vec_id", "embedding", threshold = 0.35,
      ncells = ncells, nBuckets = 64)
    println(f"[sgate] ${"batch"}%5s ${"inc_rows"}%10s ${"cum_out"}%12s " +
      f"${"wall_s"}%8s ${"shuf_mb"}%9s")
    (0 until 3).foreach { i =>
      ScaleSmoke.gateBatch(spark, "sgate", snk,
        vecs.filter(pmod(col("vec_id"), lit(3L)) === i.toLong), i,
        s"${root}_out")
      if (roll && i == 1) {
        // mid-stream EPOCH ROLL (production SemDeDup's periodic
        // re-cluster): retrain on the accumulated state, re-encode,
        // emit the catch-up delta, flip — one bounded job, measured
        val (e, w) = Work.measure(spark)(graft.streaming.SemGate.rollEpoch(
          spark, s"${root}_state", s"${root}_out", threshold = 0.35,
          fromEpoch = 0, ncells = ncells, nBuckets = 64))
        println(f"[sgate] roll -> epoch $e%d in ${w.wallS}%8.2f s, " +
          f"${ScaleSmoke.mb(w.shuffleWriteBytes)}%9.1f MB shuffled")
      }
    }
    // K× parity. Without a roll: cumulative streamed pairs == the
    // one-shot frozen-cell operator under the gate's own committed
    // centroids. With a roll after batch 1: distinct streamed pairs ==
    // truth(old codebook, batches 0-1) ∪ truth(new codebook, all) —
    // the cross-epoch contract SemGateSpec pins at spec scale.
    val coarseVs = graft.sources.VersionedTable.versions(
      spark, s"${root}_state/coarse")
    val ((oneShot, streamed), w) = Work.measure(spark) {
      if (!roll) {
        val cent = graft.operators.Similarity.centFromFrame(
          graft.sources.VersionedTable.read(spark, s"${root}_state/coarse"))
        (graft.operators.Similarity.cellPairsFrozen(
          vecs, "vec_id", "embedding", cent, 0.35).count(),
          graft.sources.VersionedTable
            .read(spark, s"${root}_out").count())
      } else {
        val centOld = graft.operators.Similarity.centFromFrame(
          graft.sources.VersionedTable.read(spark, s"${root}_state/coarse",
            Some(coarseVs.head)))
        val centNew = graft.operators.Similarity.centFromFrame(
          graft.sources.VersionedTable.read(spark, s"${root}_state/coarse"))
        val prefix01 = vecs.filter(pmod(col("vec_id"), lit(3L)) < 2L)
        val want = graft.operators.Similarity.cellPairsFrozen(
            prefix01, "vec_id", "embedding", centOld, 0.35)
          .select(col("id_a"), col("id_b"))
          .unionByName(graft.operators.Similarity.cellPairsFrozen(
              vecs, "vec_id", "embedding", centNew, 0.35)
            .select(col("id_a"), col("id_b")))
          .distinct().count()
        (want, graft.sources.VersionedTable.read(spark, s"${root}_out")
          .select(col("id_a"), col("id_b")).distinct().count())
      }
    }
    println(f"[sgate] one-shot $oneShot%d pairs in ${w.wallS}%.2f s; " +
      f"streamed cumulative $streamed%d; match=${oneShot == streamed}")
    vecs.unpersist()
    spark.stop()
  }
}

/** 3-batch streaming SPATIAL-gate scale probe: N synthetic points
  * (deterministic hashed coordinates over a plane sized so genuine
  * within-radius pairs exist but stay sparse) stream through
  * [[graft.streaming.SpatialGate]] in three `id % 3` increments,
  * reporting per-batch wall and shuffle, then count-check the
  * cumulative pair table against the one-shot batch
  * [[graft.operators.Spatial.radiusJoin]]. The claim under test is the
  * SubstrGate discipline: the point set rests bucketed by its packed
  * cell key, so per-batch shuffle tracks the increment while state
  * doubles and triples (`ShuffleBudgetSpec`'s two-stream pin at spec
  * scale; this is the measured K× row). */
object SpatialGateScale {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 30
    val nBuckets = if (args.length > 1) args(1).toInt else 64
    val n = k * 50000L
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // plane sized for ~n²·πr²/2M² expected pairs — sparse but nonzero
    // (~4k pairs at K=30, ~17 at K=2)
    val m = 3000000L
    val pts = spark.range(n).select(col("id"),
      pmod(xxhash64(col("id"), lit(1)), lit(m)).as("x"),
      pmod(xxhash64(col("id"), lit(2)), lit(m)).as("y")).persist()
    println(s"[pgate] corpus: ${pts.count()} points (K=$k)")
    val base = s"/tmp/graft_pgate_scale_x$k"
    Seq("state", "out").foreach(p => ScaleSmoke.rmFixture(s"${base}_$p"))
    val snk = graft.streaming.SpatialGate.sink(s"${base}_state",
      s"${base}_out", "id", "x", "y", radius = 100L, cell = 100L,
      nBuckets = nBuckets)
    println(f"[pgate] ${"batch"}%5s ${"inc_rows"}%10s ${"cum_out"}%12s " +
      f"${"wall_s"}%8s ${"shuf_mb"}%9s")
    (0 until 3).foreach { i =>
      ScaleSmoke.gateBatch(spark, "pgate", snk,
        pts.filter(pmod(col("id"), lit(3L)) === i.toLong), i,
        s"${base}_out")
    }
    val streamed = VersionedTable.read(spark, s"${base}_out").count()
    val (oneShot, w) = Work.measure(spark)(graft.operators.Spatial
      .radiusJoin(pts, "id", "x", "y", 100L, 100L).count())
    println(f"[pgate] one-shot $oneShot%d pairs in ${w.wallS}%.2f s; " +
      f"streamed cumulative $streamed%d; match=${oneShot == streamed}")
    pts.unpersist()
    spark.stop()
  }
}

/** 3-batch streaming CLUSTER-MAINTAINER scale probe at K× over the
  * salted documents corpus ([[SubstrCleanScale.saltedDocs]] — each
  * copy keeps the source's own near-dup families, cross-copy shingles
  * killed): per-batch wall + shuffle while the banded LSH index state
  * grows, then label-set parity against the one-shot recompute
  * ([[graft.operators.Dedup.clustersStar]] over the full corpus's
  * candidates — the ClusterMaintainerSpec contract at K×). */
object ClusterGateScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 30
    val nBuckets = if (args.length > 2) args(2).toInt else 64
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = SubstrCleanScale.saltedDocs(spark, src, k).persist()
    println(s"[lgate] corpus: ${docs.count()} docs (K=$k salted copies)")
    val base = s"/tmp/graft_lgate_scale_x$k"
    Seq("labels", "idx").foreach(p => ScaleSmoke.rmFixture(s"${base}_$p"))
    val snk = graft.streaming.ClusterMaintainer.sink(s"${base}_labels",
      s"${base}_idx", "doc_id", "text", nBuckets = nBuckets)
    println(f"[lgate] ${"batch"}%5s ${"inc_rows"}%10s ${"cum_lbl"}%12s " +
      f"${"wall_s"}%8s ${"shuf_mb"}%9s")
    (0 until 3).foreach { i =>
      ScaleSmoke.gateBatch(spark, "lgate", snk,
        docs.filter(pmod(col("doc_id"), lit(3L)) === i.toLong), i,
        s"${base}_labels")
    }
    val got = VersionedTable.read(spark, s"${base}_labels")
      .select(col("doc_id"), col("cluster"))
    val ((diff, wantN), w) = Work.measure(spark) {
      val sigs = graft.operators.Dedup.persistTracked(
        graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text"))
      val want = graft.operators.Dedup.clustersStar(
        graft.operators.Dedup.candidatesFromSignatures(sigs, "doc_id")
          .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
        .select(col("doc_a").as("doc_id"), col("cluster"))
      (got.exceptAll(want).count() + want.exceptAll(got).count(),
        want.count())
    }
    println(f"[lgate] one-shot $wantN%d labels in ${w.wallS}%.2f s; " +
      f"label-set symmetric diff $diff%d; match=${diff == 0}")
    docs.unpersist()
    spark.stop()
  }
}

/** Decade ladder for the CUSUM changepoint gate's MergeState layout —
  * the second MergeState gate (next to [[BoilerplateGateScale]]): K×
  * salted events (the KEY is salted, so the state's keys × days grid
  * grows with the corpus — the honest per-user-monitoring shape) over
  * `nBatches` micro-batches with compactEvery=2, reporting per-batch
  * wall / shuffle / write plus the fold events, then full parity
  * against the one-shot `Events.cusumDaily` over the whole corpus.
  * Run long enough (24 batches) to hit an L4 fold — the geometric
  * signature at depth. Usage:
  * `runMain graft.ChangepointGateScale [src] [K] [nBuckets] [nBatches]`. */
object ChangepointGateScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 30
    val nBuckets = if (args.length > 2) args(2).toInt else 32
    val nBatches = if (args.length > 3) args(3).toInt else 24
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val ev = graft.sources.Tables(spark, src, "events")
      .crossJoin(spark.range(k).select(col("id").as("cp")))
      .select((col("event_id") * k + col("cp")).as("event_id"),
        concat(col("event_type"), lit("#"), col("cp")).as("event_type"),
        col("ts"))
      .persist()
    println(s"[cpgate] corpus: ${ev.count()} events (K=$k salted keys)")
    val base = s"/tmp/graft_cpgate_scale_x$k"
    Seq("state", "out").foreach(p => ScaleSmoke.rmFixture(s"${base}_$p"))
    val snk = graft.streaming.ChangepointGate.sink(s"${base}_state",
      s"${base}_out", "event_type", nBuckets = nBuckets,
      compactEvery = 2)
    println(f"[cpgate] ${"batch"}%5s ${"inc_rows"}%10s ${"wall_s"}%8s " +
      f"${"shuf_mb"}%9s ${"write_mb"}%9s  folds")
    (0 until nBatches).foldLeft(Set.empty[BucketedState.Fold]) {
      (seen, i) =>
      ScaleSmoke.foldBatch(spark, "cpgate", snk, ev.filter(
        pmod(col("event_id"), lit(nBatches.toLong)) === i.toLong), i,
        s"${base}_state", seen)
    }
    // parity: committed readout == one-shot CUSUM over the full corpus
    val got = VersionedTable.read(spark, s"${base}_out")
    val want = graft.operators.Events.cusumDaily(ev, "event_type")
    val (diff, w) = Work.measure(spark)(
      got.exceptAll(want).count() + want.exceptAll(got).count())
    println(f"[cpgate] readout symmetric diff $diff%d " +
      f"(one-shot in ${w.wallS}%.2f s); match=${diff == 0}")
    ev.unpersist()
    spark.stop()
  }
}

/** Streaming BOILERPLATE-gate scale probe at K× over the salted
  * documents corpus: per-batch wall, shuffle, bytes WRITTEN (the
  * merge-state claim is about the write path — the old layout rewrote
  * the whole accumulated frequency table every batch), and the TIERED
  * FOLDS each batch's compaction performed (`compactEvery = 2`, so
  * with enough batches the cascade reaches level 3+ mid-probe; a
  * fold's write cost is visible as its batch's write_mb next to the
  * fold's covered range). Parity: the final merged frequency state
  * must equal the one-shot per-hash distinct-doc counts over the full
  * corpus (order-independent, so it checks the delta + tiered-fold
  * arithmetic end to end), and every doc must appear in the output
  * exactly once. 4th arg = batch count (default 3; 12 shows the
  * multi-level cascade). */
object BoilerplateGateScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 30
    val nBuckets = if (args.length > 2) args(2).toInt else 64
    val nBatches = if (args.length > 3) args(3).toInt else 3
    val spark = ScaleSmoke.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = SubstrCleanScale.saltedDocs(spark, src, k).persist()
    println(s"[bgate] corpus: ${docs.count()} docs (K=$k salted copies)")
    val base = s"/tmp/graft_bgate_scale_x$k"
    Seq("freq", "out").foreach(p => ScaleSmoke.rmFixture(s"${base}_$p"))
    val snk = graft.streaming.BoilerplateGate.sink(s"${base}_freq",
      s"${base}_out", "doc_id", "text", nBuckets = nBuckets,
      compactEvery = 2)
    println(f"[bgate] ${"batch"}%5s ${"inc_rows"}%10s ${"wall_s"}%8s " +
      f"${"shuf_mb"}%9s ${"write_mb"}%9s  folds")
    (0 until nBatches).foldLeft(Set.empty[BucketedState.Fold]) {
      (seen, i) =>
      ScaleSmoke.foldBatch(spark, "bgate", snk, docs.filter(
        pmod(col("doc_id"), lit(nBatches.toLong)) === i.toLong), i,
        s"${base}_freq", seen)
    }
    // parity 1: merged frequency state == one-shot per-hash counts
    val got = graft.streaming.MergeState.readMerged(spark,
      s"${base}_freq", nBatches.toLong - 1, Seq("h"), Seq("ndocs")).get
    val ch = graft.operators.Dedup.chunkSegments(docs, "doc_id", "text", 10)
    val want = ch.select(col("doc_id"),
        graft.functions.GraftFunctions.polyHash(col("chunk")).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val (diff, w) = Work.measure(spark)(
      got.exceptAll(want).count() + want.exceptAll(got).count())
    // parity 2: one output row per doc
    val outRows = VersionedTable.read(spark, s"${base}_out").count()
    val nDocs = docs.count()
    println(f"[bgate] state symmetric diff $diff%d " +
      f"(one-shot in ${w.wallS}%.2f s); out rows $outRows%d vs " +
      f"$nDocs%d docs; match=${diff == 0 && outRows == nDocs}")
    docs.unpersist()
    spark.stop()
  }
}

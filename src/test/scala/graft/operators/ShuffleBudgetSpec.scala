package graft.operators

import graft.Work
import graft.athenaeum.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** SCALE.md's "what shuffles" claims as EXECUTABLE assertions: run the
  * operator, then read the exchange write metrics out of the executed
  * plan. AQE is disabled inside this suite so exchanges appear as plain
  * `ShuffleExchangeExec` nodes (the claims are about logical shuffle
  * volume, which AQE does not change — it only re-plans around it). */
class ShuffleBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def withoutAqe[A](body: => A): A =
    withConf("spark.sql.adaptive.enabled" -> "false")(body)

  /** Executes `df` and returns (exchange count, total shuffle bytes
    * written). Executes via collect() on df's OWN query execution —
    * df.count() would plan a NEW query and leave these metrics zero. */
  private def shuffleProfile(df: DataFrame): (Int, Long) = {
    df.collect()
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    (exchanges.length,
      exchanges.map(_.metrics("shuffleBytesWritten").value).sum)
  }

  test("JL projection: ZERO exchanges — the compression runs inside the scan stage") {
    withoutAqe {
      val (n, _) = shuffleProfile(
        SparkEntryAccess.run(spark, dir, "q_jl_projection"))
      assert(n == 0, s"expected a fully narrow plan, found $n exchanges")
    }
  }

  test("covariance components: one exchange carrying ~one buffer, not the dataset") {
    withoutAqe {
      val df = Tables(spark, dir, "embeddings")
        .agg(graft.functions.SigAgg.covComponents(64)(col("embedding")))
      val (n, bytes) = shuffleProfile(df)
      // 500 vectors × 64 floats ≈ 128 KB of input; the exchange moves
      // partial buffers of 2145 longs (~17 KB each), never vectors
      assert(n == 1, s"expected exactly one exchange, found $n")
      assert(bytes > 0, "exchange executed but wrote no metrics")
      assert(bytes < 200 * 1024,
        s"covariance shuffled $bytes bytes — buffer-sized expected")
    }
  }

  test("minhash LSH banding: shuffle carries signatures/buckets, never document text") {
    withoutAqe {
      val docs = Dedup.persistTracked(Tables(spark, dir, "documents"))
      val textBytes = docs
        .agg(sum(length(col("text")))).head.getLong(0)
      val (n, bytes) = shuffleProfile(
        Dedup.minhashCandidates(docs, "doc_id", "text"))
      assert(n >= 1 && bytes > 0)
      assert(bytes < textBytes,
        s"LSH shuffled $bytes bytes vs $textBytes bytes of text — " +
          "document payloads must not ride the exchanges")
      Dedup.releaseAll(spark)
    }
  }

  test("top-k: both forms map-side-prune the exchange; only ours also kills the sorts") {
    withoutAqe {
      // Spark 4's WindowGroupLimit already prunes rank<=k before the
      // exchange (verified here: BOTH forms shuffle group×k rows, not
      // the table), so the custom operator's remaining win is replacing
      // the full partition sorts with bounded k-heaps — assert exactly
      // that: pruned bytes on both, zero SortExec only in ours.
      val li = Tables(spark, dir, "lineitem")
      val rawBytes = 6000L * 50 // ~6k rows; any unpruned shuffle dwarfs this /10
      val topkDf = graft.plans.TopK.topKPerGroup(li, Seq("l_returnflag"),
        Seq(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber")), k = 3, rankName = "rn")
      val (_, topkBytes) = shuffleProfile(topkDf)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
      val winDf = li.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      val (_, windowBytes) = shuffleProfile(winDf)
      assert(topkBytes > 0 && windowBytes > 0)
      assert(topkBytes < rawBytes / 10 && windowBytes < rawBytes / 10,
        s"expected both pruned: topk=$topkBytes window=$windowBytes")
      import org.apache.spark.sql.execution.SortExec
      val topkSorts = topkDf.queryExecution.executedPlan
        .collect { case s: SortExec => s }
      val winSorts = winDf.queryExecution.executedPlan
        .collect { case s: SortExec => s }
      assert(topkSorts.isEmpty,
        s"custom operator must not sort, found ${topkSorts.length}")
      assert(winSorts.nonEmpty, "window form should sort (else Spark " +
        "learned heap-based limits and the custom operator is obsolete)")
    }
  }

  test("ParallelRank.rowNumber: ONE data-sized range exchange, no window, prefix traffic is partition-count-sized") {
    withoutAqe {
      import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.window.WindowExec
      // descend into the persisted subtree: the range exchange lives
      // under the InMemoryRelation barrier
      def all[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
        p.collect {
          case s: InMemoryTableScanExec =>
            all(s.relation.cachedPlan)(pf) ++
              (if (pf.isDefinedAt(s)) Seq(pf(s)) else Nil)
          case n if pf.isDefinedAt(n) => Seq(pf(n))
        }.flatten
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      val ranked = graft.plans.ParallelRank.rowNumber(li, "rn", 8,
        col("l_orderkey"), col("l_linenumber"))
      ranked.collect()
      val plan = ranked.queryExecution.executedPlan
      // the persisted frame is scanned from two branches (offsets fold +
      // rank join) — both reach the SAME cached exchange instance, so
      // dedup by identity before counting
      val exchanges = all(plan) { case e: ShuffleExchangeExec => e }
        .foldLeft(Vector.empty[ShuffleExchangeExec])((acc, e) =>
          if (acc.exists(_ eq e)) acc else acc :+ e)
      val (range, rest) = exchanges.partition(
        _.outputPartitioning.isInstanceOf[RangePartitioning])
      assert(range.length == 1,
        s"expected exactly one range exchange, found ${range.length}")
      // everything else (per-partition counts -> prefix fold) moves
      // partition-count-sized rows, never the data
      val restBytes = rest
        .map(_.metrics("shuffleBytesWritten").value).sum
      assert(restBytes < 10 * 1024,
        s"prefix-fold traffic was $restBytes bytes — expected ~8 rows")
      val windows = all(plan) { case w: WindowExec => w }
      assert(windows.isEmpty,
        s"mono-id rank path must not plan a window, found ${windows.length}")
      Dedup.releaseAll(spark)
    }
  }

  test("exact dedup groups on fingerprints: shuffle stays below the text volume") {
    withoutAqe {
      val docs = Tables(spark, dir, "documents")
        .withColumn("fp",
          expr(graft.functions.XFormulas.sparkStrHash("text")))
      val textBytes = docs.agg(sum(length(col("text")))).head.getLong(0)
      val (_, bytes) = shuffleProfile(
        Dedup.exact(docs.select(col("doc_id"), col("fp")), "doc_id", "fp"))
      assert(bytes < textBytes / 2,
        s"exact dedup shuffled $bytes vs $textBytes text bytes")
    }
  }

  test("word dropout: ZERO exchanges — augmentation is a pure narrow map") {
    withoutAqe {
      val (n, _) = shuffleProfile(
        SparkEntryAccess.run(spark, dir, "q_word_dropout"))
      assert(n == 0, s"expected a fully narrow plan, found $n exchanges")
    }
  }

  test("blocklist scan: the AC pass shuffles per-pattern COUNTS, never text") {
    withoutAqe {
      val docs = Tables(spark, dir, "documents")
      val textBytes = docs.agg(sum(length(col("text")))).head.getLong(0)
      val (n, bytes) = shuffleProfile(
        SparkEntryAccess.run(spark, dir, "q_blocklist_scan"))
      assert(n == 1, s"expected one aggregation exchange, found $n")
      assert(bytes < textBytes / 4,
        s"blocklist scan shuffled $bytes vs $textBytes text bytes")
    }
  }

  test("grid DBSCAN: total job shuffle stays below the eps-graph it never materializes") {
    // shuffleProfile can't see exchanges inside persisted subtrees, so
    // this claim measures ALL jobs via a listener: run a dense cloud
    // whose eps-graph is ~37x the point count and assert the whole
    // dbscan run shuffles less than that pair frame's raw bytes —
    // executable proof that the pair stream is aggregated, never moved
    import spark.implicits._
    val pts = Dedup.persistTracked(spark.range(1L, 2001L).selectExpr(
      "id", "(id * 37) % 200 AS x", "(id * 91) % 200 AS y").toDF())
    val pairBytes = 24L * Spatial.radiusJoin(
      pts, "id", "x", "y", 30L, 30L).count() // (id,id,dist2) raw longs
    assert(pairBytes > 1000L * 1000L,
      s"fixture not dense enough to be probative: $pairBytes")
    val shuffled = Work.measure(spark)(Spatial.dbscan(
      pts, "id", "x", "y", eps = 30L, minPts = 5L).collect())._2
      .shuffleWriteBytes
    assert(shuffled > 0, "listener saw no shuffle at all")
    assert(shuffled < pairBytes / 2,
      s"dbscan shuffled $shuffled bytes vs a $pairBytes-byte eps-graph")
  }

  test("sampled-anchor substring dedup shuffles a fraction of the dense operator") {
    // the SCALE.md headline as an executable claim: winnowing runs
    // inside a projection (zero exchange), so the sampled plan's total
    // job shuffle — anchors + match-sized residual + the dense re-gram
    // of the duplicated minority — must sit well under the dense
    // operator's corpus-sized gram exchange. Listener-measured (both
    // operators persist subtrees shuffleProfile cannot see into).
    val docs = Tables(spark, dir, "documents")
    def jobShuffle(body: => Unit): Long =
      Work.measure(spark)(body)._2.shuffleWriteBytes
    val dense = jobShuffle(
      Dedup.duplicatedSubstrings(docs, "doc_id", "text", 30).collect())
    val sampled = jobShuffle(
      Dedup.duplicatedSubstringsSampled(docs, "doc_id", "text", 30, 8)
        .collect())
    assert(dense > 0 && sampled > 0, s"dense=$dense sampled=$sampled")
    assert(sampled * 3 < dense,
      s"sampled mode shuffled $sampled bytes vs dense $dense — " +
        "the anchor exchange should be a small fraction")
  }

  test("substring gate: per-batch shuffle tracks the INCREMENT, not accumulated state") {
    // round 7's one scale-killer, closed and pinned: the gram/doc state
    // tables are bucketed by their join keys at rest (BucketedState), so
    // batch N's state join exchanges only the increment — on a corpus
    // with NO cross-batch duplicates (unique hex text) the per-batch
    // shuffle must stay FLAT while state doubles and triples. The old
    // VersionedTable layout re-shuffled all accumulated state: batch 3
    // paid ~3x batch 2's join exchange and this assertion fails on it.
    import spark.implicits._
    def batchDf(b: Int) = (0 until 300).map { i =>
      val id = b * 1000L + i
      (id, (0 until 15).map(k => f"${mix64(id * 31L + k)}%016x").mkString)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sbudget").toString
    val snk = graft.streaming.SubstrGate.sink(s"$dir/docs",
      s"$dir/grams", s"$dir/out", "doc_id", "text", minLen = 30)
    val walls = (0 until 3).map(b =>
      gateMetrics(snk(batchDf(b), b.toLong))._1)
    assert(walls.forall(_ > 0), s"per-batch shuffle: $walls")
    // batch 1 joins 1 increment of state, batch 2 joins 2: a layout
    // that re-shuffles state pays ~+1 increment of exchange at batch 2
    assert(walls(2) < walls(1) * 1.35,
      s"per-batch shuffle grew with accumulated state: $walls")
  }

  /** Total task-level (shuffle bytes written, output bytes written)
    * across ALL jobs run by `body` — gates write through persisted
    * subtrees and table commits that plan-walking cannot see into.
    * Confs are pinned (AQE off, shuffle partitions fixed) so coalescing
    * or partition-default drift across environments cannot move the
    * batch-to-batch ratios these assertions bound. */
  private def gateMetrics(body: => Unit): (Long, Long) = {
    // accumulated state could never auto-broadcast at the scale these
    // claims are about — without the -1 threshold, a test-sized state
    // slips under the 10 MB threshold and a broken (bucketing-blind)
    // layout would pass by broadcasting what production must stream
    val work = withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Work.measure(spark)(body)._2
    }
    (work.shuffleWriteBytes, work.outputBytes)
  }

  test("boilerplate gate: per-batch WRITE volume tracks the increment's segments, not accumulated state") {
    // round 8's one remaining full-state-rewrite gate, closed and
    // pinned: the frequency state is MergeState DELTAS — each batch
    // writes only its own (h, ndocs) rows. The probe is two streams
    // receiving the IDENTICAL probe batch after differently-sized
    // unique-segment histories (1x vs 10x): the probe batch's bytes
    // written must be independent of how much state accumulated. The
    // old merge-and-overwrite layout rewrote the whole table every
    // batch — its 10x-history probe write is several times the 1x one
    // and fails this bound.
    import spark.implicits._
    // chunk-dense docs (100 short words, 5-token chunks -> 20 state
    // rows per doc) so the state-rewrite signal dominates the fixed
    // output-table write in the old layout
    def docs(tag: Int, n: Int) = (0 until n).map { i =>
      val id = tag * 100000L + i
      (id, (0 until 100).map(k => f"${mix64(id * 131L + k)}%08x"
        .take(8)).mkString(" "))
    }.toDF("doc_id", "text")
    val probe = docs(9, 300)
    def probeCost(history: Int): Long = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-bgbudget").toString
      val snk = graft.streaming.BoilerplateGate.sink(s"$dir/freq",
        s"$dir/out", "doc_id", "text", chunkTokens = 5,
        compactEvery = 100)
      gateMetrics(snk(docs(1, history), 0L)) // history batch
      val (sh, out) = gateMetrics(snk(probe, 1L))
      assert(sh > 0 && out > 0, s"probe wrote nothing: $sh/$out")
      out
    }
    val small = probeCost(300)
    val big = probeCost(3000)
    assert(big < small * 3 / 2,
      s"probe-batch write volume grew with accumulated state: " +
        s"$small (1x history) vs $big (10x history)")
  }

  test("changepoint gate: per-batch STATE write volume tracks the increment's cells, not accumulated daily grain") {
    // the last gate ported off merge-overwrite state (round 10): daily
    // counts append as MergeState DELTAS, so the probe batch's state
    // write must be independent of how many (key, day) cells
    // accumulated. Measured as state-path bytes AT REST added by the
    // probe batch — layout-agnostic, so the old VersionedTable
    // overwrite gate (which rewrote every accumulated cell per batch)
    // fails this bound directly. The OUTPUT readout is excluded: it is
    // the full CUSUM view by contract and rewrites by design.
    import spark.implicits._
    def du(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    def events(dayBase: Int, days: Int) =
      (0 until days).flatMap { d =>
        (0 until 40).map { k =>
          ((dayBase + d) * 86400000000000L + k * 1000000000L, s"k$k")
        }
      }.toDF("ts", "event_type")
    def probeCost(historyDays: Int): Long = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-cpbudget").toString
      val snk = graft.streaming.ChangepointGate.sink(s"$dir/state",
        s"$dir/out", "event_type", nBuckets = 8)
      gateMetrics(snk(events(0, historyDays), 0L))
      val before = du(new java.io.File(s"$dir/state"))
      gateMetrics(snk(events(100000, 30), 1L)) // 30 fresh days, 40 keys
      val added = du(new java.io.File(s"$dir/state")) - before
      assert(added > 0, "probe batch added no state bytes")
      added
    }
    val small = probeCost(30)
    val big = probeCost(300)
    assert(big < small * 3 / 2,
      s"probe-batch state write grew with accumulated daily grain: " +
        s"$small B (1x history) vs $big B (10x history)")
  }

  /** Two-stream probe shared by the spatial/cluster pins: run the
    * IDENTICAL probe batch after a 1x and a 10x state history and
    * return both probe-batch shuffle totals — a layout that
    * re-exchanges state per batch shuffles ~10x more on the second. */
  private def twoStreamShuffle(history: Int,
      run: (String, DataFrame, Long) => Unit,
      mk: (Int, Int) => DataFrame): (Long, Long) = {
    val probe = mk(9, history)
    def probeCost(mult: Int): Long = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-budget2").toString
      gateMetrics(run(dir, mk(1, history * mult), 0L))
      val sh = gateMetrics(run(dir, probe, 1L))._1
      assert(sh > 0, "probe batch shuffled nothing")
      sh
    }
    (probeCost(1), probeCost(10))
  }

  test("spatial gate: per-batch shuffle tracks the INCREMENT, not the accumulated point set") {
    // the point set rests bucketed by its packed cell key: the per-
    // batch cross probe streams the WHOLE accumulated state exchange-
    // free, so the identical pair-free probe batch (spacing >> radius)
    // must shuffle the same against a 10x state as against a 1x state.
    // The round-7 layout re-exchanged every stored point through each
    // batch's cell join — ~10x the probe shuffle — and fails this.
    import spark.implicits._
    def mk(tag: Int, n: Int) = (0 until n).map { i =>
      val id = tag * 1000000L + i
      (id, math.floorMod(mix64(id), 100000L) * 1000L,
        math.floorMod(mix64(id * 7L + 1), 100000L) * 1000L)
    }.toDF("id", "x", "y")
    val (small, big) = twoStreamShuffle(2000,
      (dir, df, b) => graft.streaming.SpatialGate.sink(s"$dir/state",
        s"$dir/out", "id", "x", "y", radius = 5L, cell = 5L)(df, b),
      mk)
    assert(big < small * 135 / 100,
      s"probe-batch shuffle grew with accumulated state: " +
        s"$small (1x) vs $big (10x)")
  }

  test("cluster maintainer: per-batch shuffle tracks the INCREMENT, not the accumulated LSH index") {
    // the index rests ALREADY BANDED, bucketed by bucket hash: the
    // per-batch candidate join streams all accumulated (id, band,
    // bucket) rows exchange-free, so the identical unique-corpus probe
    // batch must shuffle the same against a 10x index as against a 1x
    // index. The round-7 layout stored raw signatures and re-banded +
    // re-exchanged the whole index per batch (band-amplified, ~10x the
    // probe shuffle here) and fails this bound.
    import spark.implicits._
    def mk(tag: Int, n: Int) = (0 until n).map { i =>
      val id = tag * 1000000L + i
      (id, (0 until 15).map(k => f"${mix64(id * 31L + k)}%016x")
        .mkString)
    }.toDF("doc_id", "text")
    val (small, big) = twoStreamShuffle(300,
      (dir, df, b) => graft.streaming.ClusterMaintainer.sink(
        s"$dir/labels", s"$dir/idx", "doc_id", "text",
        maxBucket = 16)(df, b),
      mk)
    assert(big < small * 135 / 100,
      s"probe-batch shuffle grew with accumulated state: " +
        s"$small (1x) vs $big (10x)")
  }

  test("MaxSim: exchanges carry (doc, qtok, int) grid rows, never vectors") {
    withoutAqe {
      val emb = Tables(spark, dir, "embeddings")
      val vecBytes = emb.agg(sum(size(col("embedding")) * 4))
        .head.getLong(0)
      val (_, bytes) = shuffleProfile(
        SparkEntryAccess.run(spark, dir, "q_colbert_maxsim"))
      assert(bytes < vecBytes / 2,
        s"MaxSim shuffled $bytes vs $vecBytes vector bytes")
    }
  }
}

/** Test-local accessor: runs a SparkEntry query by name. */
private object SparkEntryAccess {
  def run(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)
}

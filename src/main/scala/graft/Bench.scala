package graft
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.LinkedHashMap

/** Benchmark main. Emits ONE JSON line:
  *
  * {{{
  * {"metric":"total","value":<cold sec>,"unit":"sec",
  *  "n_queries":N,"warm_total":<sec>,
  *  "queries":{name:coldSec,...},          // HEADLINE subset only (see below)
  *  "errors":{name:"Class: msg",...},      // failures surface here, not as timings
  *  "detail":"BENCH_FULL.json","sf":"<dir>"}
  * }}}
  *
  * The stdout line is deliberately COMPACT (≤ ~1.5 KB): the driver that
  * consumes it tail-captures only the last ~2 KB of the sbt run, and the
  * rounds 1–3 lines — which inlined every per-query map — were truncated
  * mid-JSON and recorded as `parsed: null`. The stdout `queries` map
  * therefore carries just the 22 TPC-H heads plus the flagship pipeline
  * operators; the COMPLETE per-query maps for all queries go to
  * `BENCH_FULL.json` in the working directory (the repo root under the
  * driver's sbt invocation), named in the line's `detail` field: cold
  * (`queries`), `warm` and `cold_retry` seconds, GC milliseconds (`gc`,
  * `warm_gc`), Spark jobs (`jobs`, `warm_jobs`) and exact codegen
  * compiles (`compiles`, `warm_compiles`) — every counter one [[Work]]
  * record per query slot.
  *
  * Two full passes over every query: the cold pass includes JIT/codegen cost
  * for each query's distinct expressions; the warm pass isolates steady-state
  * plan cost so a real regression can't hide behind JIT noise (and vice
  * versa). A query that throws is recorded in `errors` (cold and warm run
  * independently; a cold failure is still retried warm) and its timing slot
  * is -1 so the `queries` map keeps a stable key set.
  *
  * Noise controls: the WARM pass runs in a seeded-shuffled order — fixed
  * across runs (so warm totals are comparable run-to-run) but different
  * from the cold order (so a query's warm cost is not a function of
  * which caches/JIT state its cold-pass neighbors left behind). Per-query
  * GC time ([[Work.gcMs]]) is emitted alongside the timings: an entry
  * whose wall clock spikes while its gc slot spikes too is late-JVM heap
  * pressure, not a plan regression.
  *
  * SELF-ADJUDICATION: a query whose recorded cold exceeds 10× its warm
  * (and 1 s absolute) is re-measured ONCE after both passes and the
  * re-measure lands in a separate `cold_retry` map — if the original
  * cold was one-off JVM noise (code-cache pressure, a scheduler stall),
  * the retry exposes it in the record itself instead of needing an
  * offline fresh-JVM adjudication. `adj_total` is the cold total with
  * retries substituted; `value` stays the RAW cold total. The run also
  * logs end-of-run JIT code-cache occupancy (the round-6 outliers'
  * suspected cause; the build reserves 512m + flushing) and the cold
  * and warm passes' total compile counts to stderr.
  */
object Bench {
  private def logCodeCache(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") ||
        p.getName.contains("Code Cache"))
      .foreach { p =>
        val u = p.getUsage
        System.err.println(s"[bench] code cache '${p.getName}': " +
          s"used ${u.getUsed >> 20}m / max ${u.getMax >> 20}m")
      }
  }

  /** Fixed-work CPU calibration probe — data-free, Spark-free,
    * deterministic: 32 threads each xorshift-fill an 8 MB long array,
    * sort it, and fnv-fold it, `reps` times. Timed at bench start and
    * end and reported as `calib_sec:[start,end]` next to
    * `calib_nominal` (the quiet-machine wall, pinned in BENCH.md), so
    * a reader can separate host degradation from plan regression:
    * normalized total = value / (mean(calib)/nominal). The probe
    * matches the bench's execution shape (32 concurrent CPU-bound
    * tasks), so background load depresses it the way it depresses
    * query slots. ~2 s nominal; zero effect on any query's slot. */
  private[graft] def calibrate(): Double = {
    val threads = 32
    val reps = 14
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    try {
      val tasks = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val a = new Array[Long](1 << 20)
            var acc = 0L
            var r = 0
            while (r < reps) {
              var seed = 0x9E3779B97F4A7C15L * (t * reps + r + 1)
              var i = 0
              while (i < a.length) {
                seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
                a(i) = seed; i += 1
              }
              java.util.Arrays.sort(a)
              var h = 0xcbf29ce484222325L
              i = 0
              while (i < a.length) {
                h = (h ^ a(i)) * 0x100000001b3L; i += 1
              }
              acc ^= h; r += 1
            }
            acc
          }
        })
      }
      // fold the results so the work cannot be dead-code-eliminated
      val fold = tasks.map(_.get()).foldLeft(0L)(_ ^ _)
      if (fold == 42L) System.err.println("[bench] calib fold=42")
    } finally pool.shutdown()
    (System.nanoTime() - t0) / 1e9
  }

  /** Quiet-machine wall of [[calibrate]] — re-pin (BENCH.md) if the
    * probe's work constants change. */
  private[graft] val calibNominal = 2.0

  /** Fixed-size I/O calibration probe — the CPU probe's blind spot
    * (BENCH.md: two same-HEAD runs calibrated to 329 vs 281 s; the
    * residual was I/O contention the CPU probe cannot see). Writes a
    * deterministic 128 MB file under the JVM tmpdir, fsyncs it, reads
    * it back sequentially (folded so the read cannot be elided), and
    * deletes it — exercising the same write-flush + buffered-read path
    * the bench's fixture writes and parquet scans ride. Timed at bench
    * start and end, reported as `calib_io_sec:[start,end]` next to
    * `calib_io_nominal`; relative timing is the signal (page-cache
    * state is deliberately uncontrolled — so is the bench's). */
  private[graft] def calibrateIo(): Double = {
    import java.nio.file.StandardOpenOption._
    val f = java.nio.file.Paths
      .get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      .resolve(s"graft-bench-io-${ProcessHandle.current().pid()}.bin")
    val mb = 128
    val buf = new Array[Byte](1 << 20)
    var seed = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < buf.length) {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      buf(i) = seed.toByte; i += 1
    }
    val t0 = System.nanoTime()
    val out = java.nio.channels.FileChannel.open(f, CREATE, WRITE,
      TRUNCATE_EXISTING)
    try {
      var m = 0
      while (m < mb) {
        val bb = java.nio.ByteBuffer.wrap(buf)
        while (bb.hasRemaining) out.write(bb)
        m += 1
      }
      out.force(true)
    } finally out.close()
    var fold = 0L
    val in = java.nio.channels.FileChannel.open(f, READ)
    try {
      val bb = java.nio.ByteBuffer.allocate(1 << 20)
      var n = in.read(bb)
      while (n > 0) {
        if (bb.position() >= 8) fold ^= bb.getLong(0)
        bb.clear()
        n = in.read(bb)
      }
    } finally in.close()
    java.nio.file.Files.deleteIfExists(f)
    if (fold == 42L) System.err.println("[bench] io fold=42")
    (System.nanoTime() - t0) / 1e9
  }

  /** Quiet-machine wall of [[calibrateIo]] — re-pin (BENCH.md) if the
    * probe's size changes. */
  private[graft] val calibIoNominal = 0.35

  /** One query slot: wall seconds (-1 when the query threw) and the
    * [[Work]] counters BENCH_FULL.json reports. Scalars only — a kept
    * Work would hold its executed plans, and through them every shuffle
    * and broadcast of the pass, reachable. */
  private final case class Slot(secs: Double, gcMs: Long, jobs: Int,
      compiles: Long)

  private def brief(e: Throwable): String =
    (e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      .take(300)

  private def runPass(
      spark: SparkSession,
      sfDir: String,
      order: Seq[String],
      errors: LinkedHashMap[String, String])
      : LinkedHashMap[String, Slot] = {
    val out = LinkedHashMap.empty[String, Slot]
    order.foreach { name =>
      val fn = SparkEntry.queries(name)
      val (ok, w) = Work.measure(spark) {
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            // last error wins (warm overwrite of a cold error is fine: same bug)
            errors(name) = brief(e)
            false
        }
      }
      out(name) = Slot(if (ok) w.wallS else -1.0, w.gcMs, w.jobs, w.compiles)
    }
    out
  }

  private def jmap(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) =>
      "\"" + k + "\":" + (v match {
        case d: Double => math.rint(d * 1000) / 1000
        case n => n
      })
    }.mkString("{", ",", "}")

  private def slots(m: LinkedHashMap[String, Slot])(f: Slot => Any): String =
    jmap(m.map { case (k, s) => k -> f(s) })

  private def jescape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  /** Queries inlined in the compact stdout line: the 22 TPC-H heads plus
    * the flagship LLM-pipeline operators. Everything else is in
    * BENCH_FULL.json. */
  private[graft] val headline: Seq[String] = Seq(
    "q1_agg", "q2_top_supplier", "q3_shipping", "q4_order_priority",
    "q5_region_volume", "q6_forecast", "q7_nation_volume",
    "q8_market_share", "q9_profit", "q10_returns", "q11_value_share",
    "q12_late_lines", "q13_custdist", "q14_promo_share",
    "q15_top_revenue", "q16_supplier_cnt", "q17_small_qty",
    "q18_big_orders", "q19_disjunctive", "q20_excess_parts",
    "q21_lonely_return", "q22_quiet_rich",
    "q_dedup_minhash_lsh", "q_setsim_prefix", "q_span_dup",
    "q_corpus_clean3", "q_ann_ivf2", "q_ann_pq2", "q_sem_dedup",
    "q_bm25", "q_bigram_lm", "q_pagerank", "q_record_linkage",
    "q_basket_lift", "q_ingest_dedup2", "q_media_embed_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-bench", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietCheckpointNoise()
    // untimed JVM/catalog init so it doesn't land on the first cold query
    try SparkEntry.queries.get("q_scan_project")
      .foreach(_(spark, sfDir).count())
    catch { case _: Throwable => }
    // memoized per-dir fixtures (stored indexes, zone-map table) build
    // HERE, outside any timed slot, and report as their own field —
    // otherwise whichever consumer query runs first silently absorbs
    // the build and its cold time stops being comparable across rounds.
    // A prewarm FAILURE lands in the errors map (not just stderr): the
    // memo would retry inside a consumer query's slot, and a record
    // whose fixture_sec looks plausibly small must not hide that.
    val errors = LinkedHashMap.empty[String, String]
    val fixtureSec = Work.measure(spark) {
      try SparkEntry.prewarmFixtures(spark, sfDir)
      catch { case e: Throwable => errors("__fixture_prewarm") = brief(e) }
    }._2.wallS
    val calib0 = calibrate()
    val calibIo0 = calibrateIo()
    val names = SparkEntry.queries.keys.toSeq
    // cold pass runs in the key order of the immutable `queries` map: a
    // function of the names' hashes alone, so it is the same in every run
    // over the same query set, however the queries are declared;
    // warm pass uses a FIXED-seed shuffle — deterministic run-to-run
    val warmOrder = new scala.util.Random(42).shuffle(names)
    val cold = runPass(spark, sfDir, names, errors)
    val warm = runPass(spark, sfDir, warmOrder, errors)
    // self-adjudication: one re-measure for each cold outlier (>10x its
    // warm and >1s), in cold-pass order — a one-off JIT/scheduler
    // stall shows up as retry << cold inside the record itself
    val outliers = names.filter { n =>
      val c = cold(n).secs; val w = warm(n).secs
      c > 1.0 && w >= 0 && c > 10.0 * w
    }
    val retry = runPass(spark, sfDir, outliers, errors)
    val calib1 = calibrate()
    val calibIo1 = calibrateIo()
    val calibJson = "[" + (math.rint(calib0 * 100) / 100) + "," +
      (math.rint(calib1 * 100) / 100) + "]"
    val calibIoJson = "[" + (math.rint(calibIo0 * 100) / 100) + "," +
      (math.rint(calibIo1 * 100) / 100) + "]"
    val total = cold.values.map(_.secs).filter(_ >= 0).sum
    val adjTotal = names.map { n =>
      val c = cold(n).secs
      // an ERRORED retry (-1) must not zero the slot — substitute only
      // a real re-measure, else keep the original cold
      math.max(0.0, retry.get(n).map(_.secs).filter(_ >= 0)
        .map(r => math.min(c, r)).getOrElse(c))
    }.sum
    val warmTotal = warm.values.map(_.secs).filter(_ >= 0).sum
    logCodeCache()
    // exact Janino compile counts — host-immune work counters that A/B
    // cleanly across differently-loaded runs (codegen-cache sizing)
    System.err.println("[bench] codegen compiles: cold " +
      s"${cold.values.map(_.compiles).sum}, warm " +
      s"${warm.values.map(_.compiles).sum}")
    val errJson = errors
      .map { case (k, v) => "\"" + k + "\":\"" + jescape(v) + "\"" }
      .mkString("{", ",", "}")
    // full per-query detail → file (driver's cwd = repo root); stdout
    // stays under the consumer's ~2 KB tail-capture window
    val full =
      s"""{"metric":"total","value":${math.rint(total * 100) / 100},"unit":"sec","n_queries":${names.size},"fixture_sec":${math.rint(fixtureSec * 100) / 100},"calib_sec":$calibJson,"calib_nominal":$calibNominal,"calib_io_sec":$calibIoJson,"calib_io_nominal":$calibIoNominal,"warm_total":${math
          .rint(warmTotal * 100) / 100},"adj_total":${math.rint(adjTotal * 100) / 100},"queries":${slots(cold)(_.secs)},"warm":${slots(
          warm)(_.secs)},"cold_retry":${slots(retry)(_.secs)},"gc":${slots(cold)(_.gcMs)},"warm_gc":${slots(warm)(_.gcMs)},"jobs":${slots(
          cold)(_.jobs)},"warm_jobs":${slots(warm)(_.jobs)},"compiles":${slots(cold)(_.compiles)},"warm_compiles":${slots(
          warm)(_.compiles)},"errors":$errJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: $e") }
    val head = LinkedHashMap.from(
      headline.flatMap(n => cold.get(n).map(n -> _.secs)))
    println(
      s"""{"metric":"total","value":${math.rint(total * 100) / 100},"unit":"sec","n_queries":${names.size},"fixture_sec":${math.rint(fixtureSec * 100) / 100},"calib_sec":$calibJson,"calib_nominal":$calibNominal,"calib_io_sec":$calibIoJson,"calib_io_nominal":$calibIoNominal,"warm_total":${math
          .rint(warmTotal * 100) / 100},"adj_total":${math.rint(adjTotal * 100) / 100},"n_retried":${retry.size},"queries":${jmap(
          head)},"errors":$errJson,"detail":"BENCH_FULL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}

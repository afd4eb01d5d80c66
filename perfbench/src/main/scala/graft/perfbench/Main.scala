package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side: one process, one client thread, one
  * `GraftSession` session. Set-up runs several times (median reported);
  * then one cold cycle, untimed warm-up cycles, and whole cycles until
  * the measured window has run `--seconds`. Writes the one-line result
  * (`result.json`), the full record (`record.json`) and, traced, the
  * spans (`spans.jsonl`) into `--out`.
  *
  * {{{
  * Main --workload athenaeum_sql|batch_sf0.1|gate_ingest --seed N
  *      --seconds S --trace 0|1 --data <perfbench/data> --out <dir>
  *      --state <dir holding the once-per-checkout CPU probe reading>
  * }}}
  */
object Main {
  val setups = 4

  /** Every per-layer metric, in every traced result (0 where a layer does
    * no work on the workload). */
  val layerNames: Seq[String] = Seq(
    "athenaeum.load_ms", "athenaeum.rows_loaded_per_row_out",
    "athenaeum.parse_ms", "athenaeum.analyze_ms", "athenaeum.build_ms",
    "athenaeum.render_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.compiles", "codegen.cold_compiles",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.task_cpu_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.input_mb",
    "exec.job_busy_s", "driver.gap_s", "driver.gap_share",
    "streaming.substr_sink_ms", "streaming.boilerplate_sink_ms",
    "streaming.boilerplate_compact_batch_ms", "streaming.sem_sink_ms",
    "streaming.sem_roll_ms", "streaming.forget_ms",
    "streaming.served_read_ms",
    "sources.files_per_commit", "sources.bytes_per_commit",
    "sources.stored_bytes_per_input_byte",
    "batch.tpch_s", "batch.ops_s", "jvm.gc_s")

  private def workload(name: String): Workload = name match {
    case "athenaeum_sql" => new AthenaeumSql
    case "batch_sf0.1" => new BatchSf01
    case "gate_ingest" => new GateIngest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val w = workload(name)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = new File(opt("out")).getAbsoluteFile
    val dataRoot = new File(opt("data")).getAbsoluteFile
    out.mkdirs()
    val tr = new Tracer(trace, s"$name-seed$seed-trace${opt("trace")}-" +
      System.currentTimeMillis())

    val load0 = Probe.loadAvg()
    val io0 = graft.Bench.calibrateIo()
    val cpuCalib = cpuProbe(new File(opt("state")))

    // set-up, several times: session start plus input generation
    val setupS = ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    (0 until setups).foreach { k =>
      if (ctx != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      val spark = session(out)
      ctx = Ctx(spark, tr, seed, new File(out, s"setup-$k"), dataRoot)
      w.generate(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val listener = if (trace) Some(new ExecListener) else None
    listener.foreach(_.install(ctx.spark))

    val cold = new OpLog
    val compiles0 = Probe.compiles()
    val c0 = System.nanoTime()
    tr("cycle")(w.cycle(ctx, cold))
    val coldS = (System.nanoTime() - c0 - cold.checkNanos) / 1e9
    val coldCompiles = Probe.compiles() - compiles0

    val warm = new OpLog
    (0 until w.warmupCycles).foreach(_ => tr("cycle")(w.cycle(ctx, warm)))

    val log = new OpLog
    val fromNs = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    val comp0 = Probe.compiles()
    val gc0 = Probe.gcMillis()
    val cpu0 = Probe.processCpuS()
    val steal0 = Probe.stealS()
    var cycles = 0
    val cycleMarks = ArrayBuffer.empty[(Double, Int)]
    def windowNs = System.nanoTime() - fromNs - log.checkNanos
    while (cycles < w.minCycles || windowNs < seconds * 1e9) {
      tr("cycle")(w.cycle(ctx, log))
      cycles += 1
      cycleMarks += ((windowNs / 1e9, log.samples.size))
    }
    val windowS = windowNs / 1e9
    val wall1 = System.currentTimeMillis()
    val comp1 = Probe.compiles()
    val gc1 = Probe.gcMillis()
    val cpu1 = Probe.processCpuS()
    val steal1 = Probe.stealS()
    val peakRss = Probe.peakRssMb()

    val lat = log.samples.map(_.ms).sorted.toIndexedSeq
    val p90 = quantile(lat, 0.9)
    val e2e = Seq(
      "setup_s" -> ("s", median(setupS.toSeq)),
      "cold_s" -> ("s", coldS),
      "ops_per_s" -> ("1/s", lat.size / windowS),
      "op_p50_ms" -> ("ms", quantile(lat, 0.5)),
      "op_p90_ms" -> ("ms", p90),
      "peak_rss_mb" -> ("MB", peakRss))

    val attempted = cold.attempted + warm.attempted + log.attempted
    val failed = cold.failed + warm.failed + log.failed
    val layers: Map[String, Double] = listener match {
      case None => Map.empty
      case Some(l) =>
        l.drain()
        val n = lat.size.max(1).toDouble
        l.synchronized {
          val inWin = (t: Long) => t >= wall0 && t <= wall1
          val jobs = l.jobs.filter(j => inWin(j.start))
          val tasks = l.tasks.filter(t => inWin(t.finish))
          val phase = (p: String) => l.phases
            .filter(x => x.name == p && inWin(x.start)).map(_.ms).sum / n
          val jobIv = l.jobs.map(j =>
            (j.start, if (j.end < 0) wall1 else j.end))
          val busyMs = log.samples.map(s =>
            Intervals.union(Intervals.clip(jobIv, s.wall0, s.wall1))
              .toDouble.min(s.ms))
          val opMs = log.samples.map(_.ms).sum
          val mb = (f: ExecListener.Task => Long) => tasks.map(f).sum / 1048576.0 / n
          Map(
            "catalyst.analysis_ms" -> phase("analysis"),
            "catalyst.optimization_ms" -> phase("optimization"),
            "catalyst.planning_ms" -> phase("planning"),
            "codegen.compiles" -> (comp1 - comp0) / n,
            "codegen.cold_compiles" -> coldCompiles.toDouble,
            "exec.jobs" -> jobs.size / n,
            "exec.stages" -> l.stages.count(inWin) / n,
            "exec.tasks" -> tasks.size / n,
            "exec.failed_tasks" -> tasks.count(!_.ok) / n,
            "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
            "exec.shuffle_write_mb" -> mb(_.shufW),
            "exec.shuffle_read_mb" -> mb(_.shufR),
            "exec.spill_mb" -> mb(_.spill),
            "exec.input_mb" -> mb(_.input),
            "exec.job_busy_s" -> busyMs.sum / 1e3 / n,
            "driver.gap_s" -> (opMs - busyMs.sum) / 1e3 / n,
            "driver.gap_share" -> (opMs - busyMs.sum) / opMs.max(1e-9),
            "jvm.gc_s" -> (gc1 - gc0) / 1e3 / n)
        } ++ w.layer(ctx, log.samples.toSeq, cycles, fromNs)
    }
    val perLayer = layerNames.map(k => k -> layers.getOrElse(k, 0.0))

    val load1 = Probe.loadAvg()
    val io1 = graft.Bench.calibrateIo()
    val correct = failed == 0
    val metrics =
      if (trace) perLayer.map { case (k, v) => k -> (unitOf(k), v) }
      else e2e
    val result = Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, (u, v)) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) })))

    val record = Json.obj(Seq(
      "run_id" -> tr.runId, "workload" -> name, "seed" -> seed,
      "seconds" -> seconds, "trace" -> trace,
      "host" -> Json.obj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "loadavg_start" -> load0, "loadavg_end" -> load1,
        "calib_io_s" -> Seq(io0, io1),
        "calib_io_nominal_s" -> graft.Bench.calibIoNominal,
        "calib_cpu_s" -> cpuCalib,
        "calib_cpu_nominal_s" -> graft.Bench.calibNominal,
        // over the measured window: CPU the benchmark's process used, and
        // CPU time the hypervisor took from this machine
        "window_process_cpu_s" -> (cpu1 - cpu0),
        "window_steal_s" -> (steal1 - steal0),
        "note" -> ("recorded only, never used to normalize; calib_cpu_s " +
          "is taken once per checkout (first run) and reused"))),
      "end_to_end" -> Json.obj(e2e.map { case (k, (u, v)) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
      "error_rate" -> failed.toDouble / attempted.max(1L),
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> (cold.errors ++ warm.errors ++ log.errors).toSeq,
      "setup_s_each" -> setupS.toSeq,
      "latency_samples" -> lat.size,
      "op_p50_ms_by_kind" -> Json.obj(log.samples.groupBy(_.kind).toSeq
        .sortBy(_._1).map { case (k, ss) => k -> median(ss.map(_.ms).toSeq) }),
      "samples_beyond_p90" -> lat.count(_ > p90),
      "measured_cycles" -> cycles, "window_s" -> windowS,
      // per measured cycle: window seconds and samples so far at its end
      "cycle_ends" -> cycleMarks.map { case (t, n) => Seq(t, n.toDouble) }.toSeq,
      "samples_ms" -> log.samples.map(_.ms).toSeq,
      "extras" -> Json.obj(w.extras(cycles).toSeq.sortBy(_._1))) ++
      (if (!trace) Nil else Seq(
        "per_layer" -> Json.obj(perLayer),
        "self_ms_per_op" -> Json.obj(tr.selfMs(fromNs).toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v / lat.size.max(1) }))))

    write(new File(out, "record.json"), record)
    if (trace) tr.write(new File(out, "spans.jsonl"))
    write(new File(out, "result.json"), result)
    System.err.println(s"[perfbench] record: $record")
    ctx.spark.stop()
  }

  def unitOf(metric: String): String = metric match {
    case "sources.bytes_per_commit" => "B"
    case "athenaeum.rows_loaded_per_row_out" | "driver.gap_share" |
        "sources.stored_bytes_per_input_byte" => "ratio"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case _ => "count"
  }

  private def session(out: File): SparkSession = {
    val spark = GraftSession
      .builder("perfbench", Runtime.getRuntime.availableProcessors())
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietCheckpointNoise()
    spark
  }

  /** `graft.Bench.calibrate` is sized for 32 threads and takes several
    * seconds per call on a small host, so it runs once per checkout and
    * every record carries that reading. */
  private def cpuProbe(state: File): Double = {
    val f = new File(state, "calib_cpu_s.txt")
    if (f.exists()) java.nio.file.Files.readString(f.toPath).trim.toDouble
    else {
      val v = graft.Bench.calibrate()
      state.mkdirs()
      java.nio.file.Files.writeString(f.toPath, v.toString)
      v
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def write(f: File, j: Json.Raw): Unit =
    java.nio.file.Files.writeString(f.toPath, j.text + "\n")
}

/** Just enough JSON for the records this benchmark writes. */
object Json {
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def obj(kv: Iterable[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}"))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The dev entry point: one verb per run.
  * {{{
  *   runMain graft.RunOne time <sfDir> <query>...
  *   runMain graft.RunOne top <sfDir> <N>
  *   runMain graft.RunOne explain <sfDir> [query...]
  *   runMain graft.RunOne calib [n]
  *   runMain graft.RunOne scale [srcDir] [outDir] [K] [query...]
  *   runMain graft.RunOne probe <name> [srcDir] [K] [nBuckets] [nBatches]
  * }}}
  *  - `time` runs each query cold then warm in one JVM and prints its
  *    rows, cold and warm seconds, then the cold/warm [[Work]] counters:
  *    Spark jobs, exact codegen compiles and shuffle MB written.
  *  - `top` times the N queries with the heaviest COLD slots in the last
  *    BENCH_FULL.json: the fresh-JVM number for a query whose
  *    shared-JVM bench slot looks noisy (run-order and code-cache effects
  *    don't follow the query here).
  *  - `explain` prints `explain("formatted")` per query (all of them
  *    when none is named), to keep plans honest: filters pushed to the
  *    scan, projections pruned, small sides broadcast.
  *  - `calib` prints n walls of the bench's CPU and I/O calibration
  *    probes next to their quiet-machine nominals, so the host's current
  *    slowdown factor can be read without running the bench.
  *  - `scale` and `probe` run [[ScaleProbes]]: the K× headline ratio
  *    (default the bench's headline queries over a 10× sf0.1 copy), and
  *    one gate probe with its parity.
  *
  * Query names are checked before the session starts. Every session verb
  * runs on the [[GraftSession]] posture with any `spark.*` system
  * property applied last, so a `-Dspark.<key>=<value>` run A/Bs a conf
  * without recompiling. */
object RunOne {

  /** A parsed command: a body that needs no Spark, or one run on the
    * shared dev session. */
  private[graft] type Cmd = Either[() => Unit, SparkSession => Unit]

  private val defaultSrc = "/root/testdata/sf0.1"

  private def verb(pf: PartialFunction[Seq[String], Cmd]) = pf

  private[graft] val verbs: Map[String, PartialFunction[Seq[String], Cmd]] =
    Map(
      "time" -> verb { case sf +: names if names.nonEmpty =>
        Right(time(sf, known(names))) },
      "top" -> verb { case Seq(sf, n) =>
        Right(time(sf, known(topFromBenchFull(n.toInt)))) },
      "explain" -> verb { case sf +: names =>
        Right(explain(sf, known(names))) },
      "calib" -> verb { case args if args.length <= 1 =>
        Left(() => calib(args.headOption.fold(3)(_.toInt))) },
      "scale" -> verb { case args =>
        val names = known(args.drop(3))
        Right(ScaleProbes.scale(_, args.headOption.getOrElse(defaultSrc),
          args.lift(1).getOrElse("/tmp/graft_scale10x"),
          args.lift(2).fold(10)(_.toInt),
          if (names.isEmpty) Bench.headline else names)) },
      "probe" -> verb { case name +: args if args.length <= 4 =>
        val p = ScaleProbes.byName.getOrElse(name, throw
          new IllegalArgumentException(s"unknown probe $name; probes: " +
            ScaleProbes.byName.keys.toSeq.sorted.mkString(", ")))
        val k = args.lift(1).fold(30)(_.toInt)
        val a = ScaleProbes.Args(args.headOption.getOrElse(defaultSrc), k,
          args.lift(2).fold(p.nBuckets)(_.toInt),
          args.lift(3).fold(p.nBatches)(_.toInt),
          s"/tmp/graft_probe_${p.name}_x$k")
        Right(spark => { ScaleProbes.run(spark, p, a); () }) })

  /** The command `args` names, or an IllegalArgumentException with the
    * usage or the unknown names. */
  private[graft] def parse(args: Seq[String]): Cmd =
    args.headOption.flatMap(verbs.get).flatMap(_.lift(args.tail))
      .getOrElse(throw new IllegalArgumentException(
        "usage: RunOne <verb> ...; verbs: " +
          verbs.keys.toSeq.sorted.mkString(", ") + " (see RunOne's doc)"))

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(run) => run()
    case Right(run) =>
      val b = GraftSession.builder("graft-runone",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
        .config("spark.ui.enabled", "false")
      sys.props.toSeq.filter(_._1.startsWith("spark."))
        .foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.quietCheckpointNoise()
      try run(spark) finally spark.stop()
  }

  private def known(names: Seq[String]): Seq[String] = {
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  private def topFromBenchFull(n: Int): Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
    // the "queries" map is flat {"name":sec,...}: a tolerant regex pull
    // keeps this harness free of a JSON dependency
    val m = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error("BENCH_FULL.json has no queries map"))
    """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(m.group(1))
      .map(g => g.group(1) -> g.group(2).toDouble).toSeq
      .filter(_._2 >= 0).sortBy(-_._2).take(n).map(_._1)
  }

  private def time(sfDir: String, names: Seq[String])
      (spark: SparkSession): Unit =
    names.foreach { name =>
      def pass() =
        Work.measure(spark)(SparkEntry.queries(name)(spark, sfDir).count())
      val (rows, cold) = pass()
      val (_, warm) = pass()
      println(f"[runone] $name rows=$rows cold=${cold.wallS}%.2f " +
        f"warm=${warm.wallS}%.2f jobs=${cold.jobs}/${warm.jobs} " +
        f"compiles=${cold.compiles}/${warm.compiles} " +
        f"shuffle_mb=${cold.shuffleWriteBytes / 1048576.0}%.1f/" +
        f"${warm.shuffleWriteBytes / 1048576.0}%.1f")
    }

  private def explain(sfDir: String, names: Seq[String])
      (spark: SparkSession): Unit =
    (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted)
      .foreach { name =>
        println(s"\n########## $name ##########")
        try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        catch { case NonFatal(e) => println(s"ERROR: ${e.getMessage}") }
      }

  private def calib(n: Int): Unit =
    (0 until n).foreach { _ =>
      println(f"[calib] cpu ${Bench.calibrate()}%.3f s (nominal " +
        f"${Bench.calibNominal}) | io ${Bench.calibrateIo()}%.3f s " +
        f"(nominal ${Bench.calibIoNominal})")
    }
}

package graft

/** Dev harness: time individual SparkEntry queries without paying for a
  * full Bench sweep. Usage:
  *   runMain graft.RunOne <sfDir> <queryName> [queryName...]
  *   runMain graft.RunOne <sfDir> --top <N>
  * Prints one line per query: name, rows, cold and warm seconds, then
  * the cold/warm [[Work]] counters — Spark jobs, exact codegen compiles
  * and shuffle MB written. Any `spark.*` system property is applied
  * over the [[GraftSession]] posture, so a `-Dspark.<key>=<value>` run
  * A/Bs a conf without recompiling.
  *
  * `--top N` is the fresh-JVM adjudication mode: it reads the last
  * BENCH_FULL.json, picks the N queries with the heaviest recorded
  * COLD slots, and re-times them in this JVM — the honest per-query
  * number when a shared-JVM bench record looks noisy (run-order and
  * code-cache effects don't follow the query here). Paste the output
  * into BENCH.md's round section next to the record it adjudicates. */
object RunOne {
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

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq match {
      case Seq("--top", n) => topFromBenchFull(n.toInt)
      case other => other
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = GraftSession.builder("graft-runone", cpus.toInt)
      .config("spark.ui.enabled", "false")
    sys.props.toSeq.filter(_._1.startsWith("spark."))
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietCheckpointNoise()
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
    spark.stop()
  }
}

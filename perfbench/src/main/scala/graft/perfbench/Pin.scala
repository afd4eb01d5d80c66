package graft.perfbench

import graft.{GraftSession, SparkEntry}
import graft.operators.Dedup

/** Re-pins `batch_sf0.1`'s expected results. For every benchmark query it
  * writes the result as parquet plus `oracle_sql.json` (the layout
  * `tools/compare_strict.py` reads), and prints `name rows hash` lines.
  * Pin only after the strict oracle compare passes on the same output:
  *
  * {{{
  * Pin <perfbench/data> <outDir>
  * python3 tools/compare_strict.py perfbench/data/sf0.1 <outDir>
  * }}}
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val dir = new java.io.File(args(0), "sf0.1").getAbsolutePath
    val out = new java.io.File(args(1)).getAbsoluteFile
    out.mkdirs()
    val spark = GraftSession
      .builder("perfbench-pin", Runtime.getRuntime.availableProcessors())
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(out, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lines = BatchSf01.queries.map { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      val back = spark.read.parquet(s"$out/$name").collect()
      Dedup.releaseAll(spark)
      val h = BatchSf01.hash(rows)
      require(BatchSf01.hash(back) == h && back.length == rows.length,
        s"$name: parquet read-back hashes differently")
      s"$name\t${rows.length}\t$h"
    }
    val oracle = BatchSf01.queries.map { n =>
      Json.str(n) + ":" + Json.str(SparkEntry.oracleSql(n)
        .replace("__SF_DIR__", dir))
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      new java.io.File(out, "oracle_sql.json").toPath, oracle)
    java.nio.file.Files.writeString(new java.io.File(out, "pins.tsv").toPath,
      lines.mkString("", "\n", "\n"))
    lines.foreach(println)
    spark.stop()
  }
}

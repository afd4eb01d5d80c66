package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Access to the driver-generated parquet test tables (TESTDATA.md).
  *
  * Mirrors the reference's table registry (`database.py:192-228`): one
  * logical table per name, loaded lazily. Unlike the reference (which
  * re-parses `.table.json` on every process start, `database.py:905-996`),
  * Spark's parquet scan gives us column pruning + predicate pushdown at the
  * source, so no load-time indexing is needed — the scan IS the index path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from a scale-factor directory.
    *
    * `events.parquet` has shipped with two physical types for `ts`:
    * INT64 TIMESTAMP(NANOS), which Spark 4 rejects by default
    * (PARQUET_TYPE_ILLEGAL) — [[graft.GraftSession]] sets
    * `spark.sql.legacy.parquet.nanosAsLong` once at session build, which
    * surfaces it as BIGINT epoch-nanos (a session without that conf
    * fails the scan) — and TIMESTAMP(MICROS), which Spark reads as
    * TIMESTAMP_NTZ. [[normalizeEventTs]] folds both into the BIGINT
    * epoch-nanos shape the window operators consume (integer bucket
    * math — no timestamp semantics needed downstream).
    *
    * MEMOIZED per (session, dir, name) — round 12: `spark.read.parquet`
    * re-infers the schema (a footer read + file listing) on EVERY call,
    * a fixed driver-side cost paid once or more per query slot, ~10-40
    * ms × ~700 table loads across a bench run. The memoized frame
    * FREEZES the directory's file listing at first read: every action
    * still scans those files, but files added, removed or rewritten
    * afterwards are not seen (a removed file fails the scan). So only
    * IMMUTABLE directories — the scale-factor test data — may be read
    * through here; anything that changes in place must be read with
    * `spark.read` directly. Keyed on the session identity so a test JVM
    * with many short-lived sessions cannot cross-wire plans. */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // bound the memo so a long-lived test JVM cycling many sessions
    // cannot accumulate dead sessions through retained plans (a table
    // registry is ≤ names.size entries per live (session, dir))
    if (memo.size > 64) memo.clear()
    memo.getOrElseUpdate((spark, dir, name), {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeEventTs(df) else df
    })
  }

  /** Rewrite a timestamp-typed `ts` to BIGINT epoch-nanos; leave an
    * already-integral `ts` untouched. GraftSession pins the session time
    * zone to UTC, so the NTZ→LTZ cast is the identity on the underlying
    * micros and the conversion is exact. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case _ => df
    }

  /** Register all tables as temp views for spark.sql use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one `queries` entry per operator from SURVEY.md §2
  * (IDs S, P, F, J cited per query), plus the extension surface (§7 phase
  * D/E). Each query is declared once, as a [[QuerySpec]] in the
  * `graft.queries` object of its family: a Spark-first DataFrame body and
  * the DuckDB-equivalent ANSI SQL over the same parquet tables. Both maps
  * here are derived from that registry.
  */
object SparkEntry {

  private val registry: Seq[QuerySpec] = QuerySpec.registry(
    RelationalQueries.all ++ DedupQueries.all ++ RetrievalQueries.all ++
      TextQueries.all ++ EventQueries.all ++ GateQueries.all ++
      SpatialGraphQueries.all ++ SamplingQueries.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-table join chain + aggregation (SURVEY §2.4 J6 writ large). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_multi")(spark, "/root/testdata/sf0.001")

  /** Build every memoized per-dir fixture OUTSIDE any timed slot: the
    * bench calls this before its cold pass (reporting the time as its
    * own `fixture_sec` field) so the build cost stops landing on
    * whichever consumer query happens to run first — per-query cold
    * timings stay comparable run-to-run and round-to-round. */
  def prewarmFixtures(s: SparkSession, dir: String): Unit = {
    SpatialGraphQueries.skipTable(s, dir)
    RetrievalQueries.ivfPqFixture(s, dir)
    TextQueries.proxIndexFixture(s, dir)
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** DuckDB-equivalent SQL per query (same table names; same column
    * aliases — the driver's compare sorts columns by name). Integer sums
    * are CAST to BIGINT (DuckDB SUM(int) yields HUGEINT); decimal-exact
    * double sums mirror the Spark side. */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}

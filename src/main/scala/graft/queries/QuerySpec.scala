package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark body over an sf dir and the DuckDB SQL
  * over the same tables that it must match row for row. Each family
  * object in this package declares its queries as `val all`. */
final case class QuerySpec(name: String,
    run: (SparkSession, String) => DataFrame, oracle: String)

object QuerySpec {

  /** `specs` unchanged, after checking that no name is declared twice
    * and no oracle is empty; throws naming the offenders otherwise. */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect {
      case (n, xs) if xs.size > 1 => n }.toSeq.sorted
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    val noOracle = specs.filter(_.oracle.trim.isEmpty).map(_.name)
    require(noOracle.isEmpty, s"empty oracle: ${noOracle.mkString(", ")}")
    specs
  }
}

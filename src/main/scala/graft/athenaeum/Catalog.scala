package graft.athenaeum

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import scala.collection.mutable

import graft.sources.tablejson.TableJsonIO

/** Engine-surfaced error: message goes to stderr, exit code 1
  * (`database.py:147-152`). */
case class EngineError(msg: String) extends RuntimeException(msg)

/** One loaded `.table.json` table (S1: `database.py:905-996`).
  *
  * The reference builds per-column distinct sets + a reverse index at load;
  * here `df` is the `tablejson` relation over the file, which Spark scans
  * in place with pruned columns and pushed filters (SURVEY §1), so nothing
  * is loaded per query beyond the header; the scan reports the table's
  * row count and size, so Catalyst broadcasts a small table in a join
  * when it plans the query. Column types come from
  * `df.schema`: "lit_int" for LongType (JSON table values are unchecked
  * bigints even though SQL literals cap at 2^31-1), "lit_str" for
  * StringType; every column is non-null (the dialect has no NULL).
  */
final class RefTable(val name: String, val df: DataFrame, val rowCount: Int) {
  def hasColumn(c: String): Boolean = df.schema.fieldNames.contains(c)
  def columnType(c: String): String =
    if (df.schema(c).dataType == LongType) "lit_int" else "lit_str"
}

object Catalog {

  /** Open `<baseDir>/<name>.table.json` as a `tablejson` relation; emits
    * the reference's `- Loaded …` line via `onLoad` (W3:
    * `database.py:990`). */
  def loadTable(spark: SparkSession, baseDir: String, name: String,
      onLoad: String => Unit): RefTable = {
    val fileName = s"$name.table.json"
    val path = java.nio.file.Paths.get(baseDir, fileName).toString
    val (root, schema) =
      try {
        val root = TableJsonIO.cached(path)
        (root, TableJsonIO.schemaOf(path, root))
      } catch {
        case _: java.io.IOException =>
          throw EngineError(s"""Unable to read table "$fileName" from disk\n""")
        case e: TableJsonIO.FormatError => throw EngineError(e.getMessage)
      }
    val rowCount = root.size - 1
    onLoad(s"""- Loaded "$fileName", $rowCount rows.""")
    new RefTable(name,
      spark.read.schema(schema).format("tablejson").load(path), rowCount)
  }

  /** `load_tables` (`database.py:192-228`): returns (allTables incl.
    * aliases, actualTables = effective FROM entries), both insertion-
    * ordered. `FROM t, t` dedupes to one instance (S2); duplicate alias
    * errors. */
  def loadAll(spark: SparkSession, baseDir: String,
      from: Seq[Ast.TableRef], onLoad: String => Unit)
      : (mutable.LinkedHashMap[String, RefTable],
         mutable.LinkedHashMap[String, RefTable]) = {
    val all = mutable.LinkedHashMap.empty[String, RefTable]
    val actual = mutable.LinkedHashMap.empty[String, RefTable]
    for (tr <- from) {
      val table = all.getOrElse(tr.file, {
        val t = loadTable(spark, baseDir, tr.file, onLoad)
        all(tr.file) = t
        t
      })
      tr.as match {
        case Some(alias) =>
          if (all.contains(alias))
            throw EngineError(
              s"""The table alias "$alias" has already been loaded""")
          all(alias) = table
          actual(alias) = table
        case None =>
          actual(tr.file) = table
      }
    }
    (all, actual)
  }
}

package graft.sources.tablejson

import java.util

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSourceV2 for the reference's `.table.json` format (SURVEY §2.1 S1:
  * a single JSON array whose first element is a header of `[name,
  * "str"|"int"]` pairs, then positional row arrays —
  * `database.py:905-996`), and the athenaeum's only reader of it:
  * `Catalog` serves every table as
  * `spark.read.schema(schema).format("tablejson").load(path)`.
  *
  * Supports column pruning (SupportsPushDownRequiredColumns): a
  * projection reaches the reader, which then materializes only the
  * requested columns. Rows are split into at most
  * `spark.default.parallelism` slices of >=1000 rows so a single large
  * file still scans in parallel; files under 1000 rows or 1 MB get ONE
  * partition. The format is a single JSON array, so a slice cannot seek —
  * the parsed tree is shared through [[TableJsonIO.cached]], so the file
  * parses once per JVM no matter how many queries, slices, readers or
  * planning passes touch it. The scan reports its row count and an
  * estimated size (SupportsReportStatistics), so Catalyst can plan a join
  * against a small table as a broadcast before anything runs.
  */
class TableJsonDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tablejson"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    TableJsonIO.schemaOf(path, TableJsonIO.cached(path))
  }

  // a caller that already read the header passes its schema
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TableJsonTable(properties.get("path"), schema)
}

/** The one place that knows the `.table.json` file format: the parse
  * and the header rules, for the source and for `athenaeum.Catalog`. */
private[graft] object TableJsonIO {
  private val mapper = new ObjectMapper()

  /** A header that breaks the format's rules; the message is the
    * reference's error text. */
  final class FormatError(msg: String) extends IllegalArgumentException(msg)

  /** Number of ACTUAL file parses (cache misses) in this JVM — spec
    * instrumentation for the parse-once contract. */
  val parseCount = new java.util.concurrent.atomic.AtomicLong

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, java.lang.ref.SoftReference[JsonNode])]

  /** Parse-once-per-JVM: returns the cached tree while the file's
    * (length, mtime) is unchanged and the soft reference is live (soft,
    * so the JVM reclaims trees under memory pressure rather than pinning
    * them). A file rewritten in place is re-read once its length or
    * mtime moves; a rewrite to the same length inside one mtime tick of
    * the filesystem is not seen. A missing, unreadable or non-JSON file
    * throws an `IOException`. */
  def cached(path: String): JsonNode = {
    require(path != null, "tablejson requires a path")
    val f = new java.io.File(path)
    val len = f.length(); val mt = f.lastModified()
    val cur = cache.get(path)
    if (cur != null && cur._1 == len && cur._2 == mt) {
      val v = cur._3.get()
      if (v != null) return v
    }
    parseCount.incrementAndGet()
    val parsed = mapper.readTree(f)
    cache.put(path, (len, mt, new java.lang.ref.SoftReference(parsed)))
    parsed
  }

  /** The header as a schema: every element a `[name, type]` pair, `int`
    * → LongType (JSON table values are unchecked bigints), `str` →
    * StringType, every column non-null (the dialect has no NULL).
    * Otherwise a [[FormatError]] with the reference's text
    * (`database.py:914-925`). */
  def schemaOf(path: String, root: JsonNode): StructType = {
    def noHeader = new FormatError("There was no header row defined for " +
      s"""table "${new java.io.File(path).getName.stripSuffix(".table.json")}"""")
    val header = root.get(0)
    if (header == null || !header.isArray || header.isEmpty) throw noHeader
    StructType(header.elements.asScala.map { cm =>
      if (!cm.isArray || cm.size != 2) throw noHeader
      val dt = cm.get(1).asText match {
        case "int" => LongType
        case "str" => StringType
        case _ => throw new FormatError("no column type")
      }
      StructField(cm.get(0).asText, dt, nullable = false)
    }.toSeq)
  }
}

private[tablejson] class TableJsonTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = path
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TableJsonScanBuilder(path, tableSchema)
}

private[tablejson] class TableJsonScanBuilder(path: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}
  private var required: StructType = full
  private var accepted: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var pushedAgg: Option[PushedAgg] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def colOf(e: V2Expr): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames.head)
    case _ => None
  }
  private def supportedAgg(f: AggregateFunc): Boolean = f match {
    case _: CountStar => true
    // all .table.json columns are non-nullable, so count(col) == count(*)
    case c: Count => !c.isDistinct && colOf(c.column).isDefined
    case m: Min => colOf(m.column).isDefined
    case m: Max => colOf(m.column).isDefined
    case _ => false
  }

  /** COMPLETE aggregate pushdown for count/count(*)/min/max with
    * optional single-column grouping: the reader emits the final
    * aggregated rows (one partition — the group state is bounded by the
    * group cardinality, and these files are small by format contract),
    * after the pushed filters, so `SELECT max(id) FROM t WHERE …` never
    * materializes a single data row in Spark. The source's twin of
    * parquet's footer-stats aggregate pushdown, computed from the one
    * cached parse. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    limit < 0 &&
      agg.groupByExpressions.forall(e => colOf(e).isDefined) &&
      agg.aggregateExpressions.forall(supportedAgg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!supportCompletePushDown(agg)) return false
    val groups = agg.groupByExpressions.flatMap(e => colOf(e))
    val funcs: Array[(String, String)] = agg.aggregateExpressions.map {
      case _: CountStar => ("count", "*")
      case c: Count => ("count", colOf(c.column).get)
      case m: Min => ("min", colOf(m.column).get)
      case m: Max => ("max", colOf(m.column).get)
    }
    val fields = groups.map(g => full(full.fieldIndex(g))) ++
      funcs.map {
        case ("count", c) => StructField(s"count($c)", LongType, nullable = false)
        // nullable: a global min/max over zero surviving rows is NULL
        case (fn, c) =>
          StructField(s"$fn($c)", full(full.fieldIndex(c)).dataType,
            nullable = true)
      }
    pushedAgg = Some(PushedAgg(groups, funcs))
    required = StructType(fields)
    true
  }

  /** Simple comparisons on the two column types the format has are
    * evaluated INSIDE the reader (the source's own "index"): pushed
    * filters are removed from the residual, so the scan is the only
    * place they run — mirrors the reference's per-column value index
    * (database.py:929-953) without materializing one. */
  private def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In => true
    // every .table.json column is non-nullable by format contract, so
    // IsNotNull is absorbed as always-true (removing it from the
    // residual saves Spark a per-row null check)
    case _: IsNotNull => true
    case _ => false
  }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(supported)
    accepted = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** Limit semantics are post-filter, so a pushed limit forces ONE
    * partition whose reader stops after emitting `limit` surviving
    * rows — correct regardless of how many raw rows the filters drop. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  override def build(): Scan =
    new TableJsonScan(path, full, required, accepted, limit, pushedAgg)
}

/** A complete pushed aggregation: group-by column names plus
  * (func, col) pairs where func ∈ {count, min, max} and col is "*" only
  * for count. */
private[tablejson] case class PushedAgg(groups: Array[String],
    funcs: Array[(String, String)])

private[tablejson] class TableJsonScan(path: String, full: StructType,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    limit: Int, agg: Option[PushedAgg])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The file's row count from the cached parse, and its length scaled to
    * the columns read (Spark's own file-scan estimate: length times the
    * read schema's default width over the full schema's); a pushed limit
    * caps both at its share of the rows. A complete pushed aggregation
    * emits one row when it is global, even over an empty file, and an
    * unknown number of rows when it is grouped (the size stays a bound). */
  override def estimateStatistics(): Statistics = {
    val rows = (TableJsonIO.cached(path).size - 1).toLong
    val read = if (limit >= 0) math.min(rows, limit.toLong) else rows
    val scaled = (new java.io.File(path).length().toDouble *
      required.defaultSize / full.defaultSize * read / math.max(rows, 1L))
      .toLong
    val (out, bytes) = agg match {
      case Some(a) if a.groups.isEmpty =>
        (Some(1L), required.defaultSize.toLong)
      case Some(_) => (None, scaled)
      case None => (Some(read), scaled)
    }
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): util.OptionalLong =
        out.fold(util.OptionalLong.empty())(util.OptionalLong.of)
    }
  }
  override def description(): String =
    s"TableJsonScan ${new java.io.File(path).getName} " +
      s"PushedFilters: [${filters.mkString(", ")}], " +
      s"PushedLimit: ${if (limit >= 0) limit else "none"}" +
      agg.map(a => s", PushedAggregation: [${a.funcs.map {
        case (f, c) => s"$f($c)" }.mkString(", ")}]" +
        (if (a.groups.nonEmpty)
          s", PushedGroupBy: [${a.groups.mkString(", ")}]" else ""))
        .getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    val root = TableJsonIO.cached(path)
    val nRows = root.size - 1
    val maxSlices = org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism
    // single partition for small files: below 1 MB the scan is cheaper
    // than the per-task overhead, and on a multi-executor cluster one
    // slice means at most one executor ever parses the file. A pushed
    // limit forces one partition (see pushLimit); a COMPLETE pushed
    // aggregation must also see every row, so it runs as one partition.
    val small = limit >= 0 || agg.isDefined ||
      new java.io.File(path).length() < (1 << 20)
    val slices =
      if (small) 1 else math.max(1, math.min(maxSlices, nRows / 1000))
    val step = math.max(1, (nRows + slices - 1) / slices)
    val parts = (1 to nRows by step).map(start =>
      TableJsonPartition(path, start, math.min(start + step, nRows + 1))
        .asInstanceOf[InputPartition]).toArray
    // a COMPLETE pushed aggregation over a ZERO-ROW file must still run
    // one reader: Spark does not re-aggregate after a complete pushdown,
    // so with no partitions `count(*)` would return no rows instead of
    // one row containing 0 — the reader synthesizes the empty-input row
    if (parts.isEmpty && agg.isDefined)
      Array(TableJsonPartition(path, 1, 1))
    else parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TableJsonReaderFactory(full, required, filters, limit, agg)
}

private[tablejson] case class TableJsonPartition(path: String, start: Int,
    end: Int) extends InputPartition

private[tablejson] class TableJsonReaderFactory(full: StructType,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    limit: Int, agg: Option[PushedAgg]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    import org.apache.spark.sql.sources._
    val part = p.asInstanceOf[TableJsonPartition]
    if (agg.isDefined)
      return new TableJsonAggReader(part, full, filters, agg.get)
    new PartitionReader[InternalRow] {
      // per-JVM cached tree: the file parses once no matter how many
      // slices or readers touch it
      private val root = TableJsonIO.cached(part.path)
      private val colIdx = required.fields.map(f => full.fieldIndex(f.name))
      private var i = part.start
      private var emitted = 0
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (limit >= 0 && emitted >= limit) return false
        while (i < part.end) {
          val arr = root.get(i)
          i += 1
          if (RowFilters.passes(arr, full, filters)) {
            val vals = new Array[Any](colIdx.length)
            var j = 0
            while (j < colIdx.length) {
              vals(j) = RowFilters.value(arr, full, colIdx(j))
              j += 1
            }
            row = new GenericInternalRow(vals)
            emitted += 1
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** Values and pushed-filter evaluation over the raw JSON row: long
  * compares for int columns; for str, `UTF8String` compares, which are
  * UTF-8 byte order, i.e. code-point order — Spark's own string order
  * (`String.compareTo` is UTF-16 order, which differs above U+FFFF).
  * Shared by the row reader and the aggregate reader so the two paths
  * can never disagree with each other or with Spark on what a filter
  * admits or which value is the min. */
private[tablejson] object RowFilters {
  import org.apache.spark.sql.sources._

  /** Column `c` of a row, as Spark holds it internally. */
  def value(arr: JsonNode, full: StructType, c: Int): Any =
    if (full.fields(c).dataType == LongType) arr.get(c).asLong
    else UTF8String.fromString(arr.get(c).asText)

  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
  }

  private def cmp(arr: JsonNode,
      full: StructType, colName: String, v: Any): Int = {
    val c = full.fieldIndex(colName)
    compare(value(arr, full, c),
      if (full.fields(c).dataType == LongType) v.asInstanceOf[Number].longValue
      else UTF8String.fromString(v.toString))
  }
  def passes(arr: JsonNode,
      full: StructType, filters: Array[Filter]): Boolean =
    filters.forall {
      case EqualTo(a, v) => cmp(arr, full, a, v) == 0
      case GreaterThan(a, v) => cmp(arr, full, a, v) > 0
      case GreaterThanOrEqual(a, v) => cmp(arr, full, a, v) >= 0
      case LessThan(a, v) => cmp(arr, full, a, v) < 0
      case LessThanOrEqual(a, v) => cmp(arr, full, a, v) <= 0
      case In(a, vs) => vs.exists(v => cmp(arr, full, a, v) == 0)
      case IsNotNull(_) => true // format columns are non-nullable
      case _ => true
    }
}

/** Reader for a COMPLETE pushed aggregation: one pass over the (single)
  * partition's rows, pushed filters first, then count/min/max state per
  * group — state size is the group cardinality, never the row count.
  * Output rows are (group cols…, agg values…) in the pushed order. */
private[tablejson] class TableJsonAggReader(part: TableJsonPartition,
    full: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    agg: PushedAgg) extends PartitionReader[InternalRow] {
  private val root = TableJsonIO.cached(part.path)
  private val groupIdx = agg.groups.map(full.fieldIndex)

  private val out: Iterator[InternalRow] = {
    // group key (as a Seq for equality) -> per-func state
    val state = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], Array[Any]]
    var i = part.start
    while (i < part.end) {
      val arr = root.get(i)
      i += 1
      if (RowFilters.passes(arr, full, filters)) {
        val key: Seq[Any] =
          groupIdx.map(RowFilters.value(arr, full, _)).toSeq
        val st = state.getOrElseUpdate(key,
          new Array[Any](agg.funcs.length))
        var j = 0
        while (j < agg.funcs.length) {
          st(j) = agg.funcs(j) match {
            case ("count", _) =>
              (if (st(j) == null) 0L else st(j).asInstanceOf[Long]) + 1L
            case (fn, c) =>
              val v = RowFilters.value(arr, full, full.fieldIndex(c))
              if (st(j) == null ||
                  (fn == "min") == (RowFilters.compare(v, st(j)) < 0)) v
              else st(j)
          }
          j += 1
        }
      }
    }
    // a GLOBAL aggregation over zero surviving rows still yields one
    // row: count = 0, min/max = NULL (complete pushdown means Spark
    // will not re-aggregate, so SQL's empty-input semantics are ours)
    if (groupIdx.isEmpty && state.isEmpty)
      state(Seq.empty) = agg.funcs.map {
        case ("count", _) => 0L: Any
        case _ => null: Any
      }
    state.iterator.map { case (key, st) =>
      new GenericInternalRow((key ++ st).toArray[Any]): InternalRow
    }
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (out.hasNext) { row = out.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

package graft.athenaeum

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Analyzer._

/** Resolved query → DataFrame composition.
  *
  * The reference hand-executes via load-time reverse indexes, row-id paths
  * and a greedy join order (`database.py:656-789`); all of that is
  * replaced by declaring the logical plan and letting Catalyst plan it
  * (SURVEY §4): we cross-join the FROM instances, apply every WHERE
  * comparison as one conjunctive filter, and project. Catalyst's
  * PushDownPredicates + ReorderJoin rewrite that into inner joins with
  * pushed filters — equivalent to (and stronger than) the reference's
  * manual pipeline. The `tablejson` scan reports each table's size, so an
  * equi-join against a table under `autoBroadcastJoinThreshold` is a
  * static broadcast hash join: no shuffle, no AQE re-plan. A FROM instance
  * with no `=` to another instance is hinted `shuffle_replicate_nl`, so
  * its theta or cross joins stay the one-job CartesianProduct: with sizes
  * alone they would broadcast as a BroadcastNestedLoopJoin, which costs a
  * broadcast job and an AQE stage on tables this small. The hint follows
  * from the query's own comparisons; no setting is involved. A WHERE-less
  * multi-table query is a real cross join here; the reference instead
  * loops forever (J9, `database.py:663-673`) — a deliberate
  * divergence-fix.
  */
object Executor {

  /** all-registry key → executable (actual-instance) key. The reference
    * resolves qualified refs to file-name keys even when the instance is
    * aliased, then silently displays nothing (`database.py:805-819`); we
    * map such keys onto the aliased instance instead. */
  private def execKey(all: Registry, actual: Registry, key: String): String =
    if (actual.contains(key)) key
    else actual.collectFirst {
      case (k, t) if t eq all(key) => k
    }.getOrElse(key)

  def run(all: Registry, actual: Registry, r: Resolved): DataFrame = {
    def keyOf(rc: ResolvedCol): String = execKey(all, actual, rc.table)
    def colOf(rc: ResolvedCol): Column = col(s"${keyOf(rc)}.${rc.column}")

    // instances with an `=` to another instance come first, so ReorderJoin
    // sees them as one unhinted chain; the rest are hinted and joined last
    // (a lone instance has no join for a hint to name)
    val equiJoined = r.comparisons.flatMap {
      case RComparison("=", RCol(a), RCol(b)) if keyOf(a) != keyOf(b) =>
        Seq(keyOf(a), keyOf(b))
      case _ => Nil
    }.toSet
    val base = actual.toSeq.sortBy(kt => !equiJoined(kt._1)).map {
      case (key, t) =>
        if (equiJoined(key) || actual.size == 1) t.df.as(key)
        else t.df.as(key).hint("shuffle_replicate_nl")
    }.reduceLeft(_ crossJoin _)

    def termCol(t: RTerm): Column = t match {
      case RCol(rc) => colOf(rc)
      case RLit("lit_int", v, _) => lit(v)
      case RLit(_, _, s) => lit(s)
    }

    def cond(c: RComparison): Column = {
      val (l, rr) = (termCol(c.left), termCol(c.right))
      c.op match {
        case "=" => l === rr
        case "!=" => l =!= rr
        case ">" => l > rr
        case ">=" => l >= rr
        case "<" => l < rr
        case "<=" => l <= rr
      }
    }

    val filtered = r.comparisons.map(cond)
      .reduceOption(_ && _).map(base.filter).getOrElse(base)

    // extension (§2.7): ORDER BY output headers + LIMIT, applied to the
    // final projected frame — Catalyst plans `ORDER BY … LIMIT n` as
    // TakeOrderedAndProject (per-partition top-n heaps, no global sort)
    def sortLimit(df: org.apache.spark.sql.DataFrame) = {
      val ordered =
        if (r.orderBy.isEmpty) df
        else df.orderBy(r.orderBy.map {
          case (h, true) => col(h).desc
          case (h, false) => col(h).asc
        }: _*)
      r.limit.map(n => ordered.limit(n.toInt)).getOrElse(ordered)
    }

    sortLimit(if (r.groupBy.isEmpty && !r.output.exists(o =>
        o.isInstanceOf[OutCount] || o.isInstanceOf[OutSum])) {
      filtered.select(r.output.map {
        case OutRef(rc, alias, _) => colOf(rc).as(alias.getOrElse(rc.column))
        case other => throw new IllegalStateException(other.toString)
      }: _*)
    } else {
      // Phase D: GROUP BY + COUNT/SUM (disabled in the reference grammar,
      // sql-to-json:146-181) via groupBy().agg() — map-side partial
      // aggregation for free.
      val aggs = r.output.collect {
        case o @ OutCount(_) => count(lit(1)).cast("long").as(o.header)
        case o @ OutSum(rc, _) => sum(colOf(rc)).as(o.header)
      }
      val grouped = filtered.groupBy(r.groupBy.map(colOf): _*)
      val agged =
        if (aggs.isEmpty) grouped.agg(count(lit(1)).as("__ignored"))
        else grouped.agg(aggs.head, aggs.tail: _*)
      agged.select(r.output.map {
        // post-agg the grouping columns surface under their bare names
        case OutRef(rc, alias, _) => col(rc.column).as(alias.getOrElse(rc.column))
        case o: OutCount => col(o.header)
        case o: OutSum => col(o.header)
      }: _*)
    })
  }
}

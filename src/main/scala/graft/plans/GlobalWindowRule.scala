package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{broadcast => _, _}
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite GLOBAL (unpartitioned) rank-family window
  * functions into [[ParallelRank]]'s two-phase range-partitioned shape.
  *
  * `row_number() OVER (ORDER BY x)` and friends are the one window shape
  * Spark cannot parallelize: the planner moves every row to a single
  * partition (`WindowExec: No Partition Defined…`), which is a log WARN
  * at 60k rows and a dead executor at 100 TB. This repo's own queries
  * call [[ParallelRank]] explicitly; this rule gives a USER's plain SQL
  * or DataFrame window the same scale-correct plan transparently:
  *
  *   - one range exchange over the sort key (equal keys never split
  *     across range partitions, so tie structure is local),
  *   - pid-partitioned window for in-partition positions (parallel),
  *   - a ≤`shuffle.partitions`-row prefix fold for the cross-partition
  *     offsets, broadcast back — no single-partition stage anywhere.
  *
  * Supported functions (all must match for a Window node to rewrite):
  * `row_number`, `rank`, `dense_rank`, `ntile(lit)`, `percent_rank`,
  * `cume_dist`, and the RUNNING aggregates `sum`/`min`/`max`/`count`
  * when they carry the SQL default frame (RANGE UNBOUNDED
  * PRECEDING..CURRENT ROW — peers included, tie-order-independent) and,
  * for sum, an associative-exact value type (integral/decimal; fp sums
  * would re-round under per-bucket partials and are left alone, as are
  * DISTINCT/FILTER aggregates and explicit ROWS frames). Semantics are
  * preserved exactly — including SQL ntile's uneven-bucket rule,
  * percent_rank's n=1 → 0.0 case, and NULL-over-all-NULL-frame sums;
  * ties among equal sort keys get an arbitrary row_number order,
  * exactly as in the single-partition plan (Spark never promises a tie
  * order).
  *
  * Deliberately NOT rewritten:
  *   - windows whose rank output feeds a literal top-k Filter directly
  *     above (`rn <= k`): Spark's own InferWindowGroupLimit plans those
  *     as parallel partial limits with a bounded k·parts-row final — a
  *     better plan than a full range shuffle of every row;
  *   - nodes mixing unsupported functions (lag/lead, fp sums, avg,
  *     explicit ROWS frames): a partial rewrite of one Window node
  *     would double the pass. lag/lead stay naive on principle — they
  *     are intra-tie-order-dependent, so a rewrite would silently
  *     change which arbitrary answer the user sees.
  *
  *   - nodes over a NONDETERMINISTIC child subtree: the stateless
  *     rewrite recomputes the child once per consuming pass (offsets,
  *     ranks, and the build-time cutpoint jobs), which is only sound
  *     when every recompute yields the same rows.
  *
  * Injected via [[graft.functions.GraftExtensions]]. The rewrite builds
  * the replacement through the DataFrame API on the child plan (reusing
  * the tested [[ParallelRank.rankFamily]]) and re-attaches the original
  * output ExprIds with a final Project, so parent operators resolve
  * unchanged. The rewrite is STATELESS — bucket boundaries are sampled
  * once while the rule runs (two small driver jobs, even under a bare
  * `explain`) and embedded as plan literals — so the spliced subtree is
  * an ordinary declarative plan that later optimizer batches are free to
  * prune, push into, and duplicate; nothing depends on a cache entry or
  * on two exchanges drawing the same sample. Stacked windows rewrite
  * top-down: each rewrite's cutpoint jobs run against the plan BENEATH
  * the remaining window stack (windows only append columns), so
  * building boundaries never executes a not-yet-rewritten global window.
  */
object GlobalWindowRule extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.aggregate.{
    AggregateExpression, Complete, Count, Max, Min, Sum}

  /** What a global window expression rewrites to: a rank-family
    * function, a running aggregate (SQL default RANGE frame), or
    * cume_dist. */
  private sealed trait GwFn
  private final case class RankF(fn: Expression) extends GwFn
  private final case class AggF(value: Expression, op: String) extends GwFn
  private case object CumeF extends GwFn

  /** Only the SQL DEFAULT running frame (RANGE UNBOUNDED
    * PRECEDING..CURRENT ROW — what an ORDER BY with no frame clause
    * resolves to) is rewritten for aggregates: its peers-included
    * semantics make the result independent of intra-tie order, so the
    * parallel plan can promise bit-identical output. Explicit ROWS
    * frames are tie-order-dependent in the naive plan too, but
    * rewriting would CHANGE which arbitrary result the user sees —
    * leave them alone. */
  private def runningRange(f: Expression): Boolean = f match {
    case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) =>
      true
    case _ => false
  }

  /** Aggregate value types whose sum is associative-exact. Float/double
    * sums reassociate under the two-phase plan (per-bucket partials) and
    * would drift from the naive single-partition rounding — skipped. */
  private def exactSum(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  private def classify(ne: NamedExpression): Option[GwFn] = ne match {
    case Alias(WindowExpression(fn,
        WindowSpecDefinition(Nil, _, frame)), _) => fn match {
      case _: RowNumber | _: Rank | _: DenseRank | _: PercentRank =>
        Some(RankF(fn))
      case NTile(Literal(k: Int, IntegerType)) if k > 0 => Some(RankF(fn))
      case _: CumeDist if runningRange(frame) => Some(CumeF)
      case AggregateExpression(af, Complete, false, None, _)
          if runningRange(frame) => af match {
        case Sum(v, _) if exactSum(v.dataType) => Some(AggF(v, "sum"))
        case Min(v) => Some(AggF(v, "min"))
        case Max(v) => Some(AggF(v, "max"))
        case Count(Seq(v)) => Some(AggF(v, "count"))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** ExprIds of global-window rank outputs consumed by a literal top-k
    * Filter directly above — the InferWindowGroupLimit shape this rule
    * must not starve. */
  private def limitFiltered(plan: LogicalPlan): Set[Long] = {
    val s = scala.collection.mutable.Set[Long]()
    plan.foreach {
      case Filter(cond, w: Window) if w.partitionSpec.isEmpty =>
        val ranky = w.windowExpressions.collect {
          case a @ Alias(WindowExpression(fn, _), _)
              if fn.isInstanceOf[RowNumber] || fn.isInstanceOf[Rank] ||
                fn.isInstanceOf[DenseRank] => a.exprId.id
        }.toSet
        conjuncts(cond).foreach {
          case BinaryComparison(a: AttributeReference, _: Literal)
              if ranky.contains(a.exprId.id) => s += a.exprId.id
          case BinaryComparison(_: Literal, a: AttributeReference)
              if ranky.contains(a.exprId.id) => s += a.exprId.id
          case _ =>
        }
      case _ =>
    }
    s.toSet
  }

  /** Whole-frame aggregate over the entire (unpartitioned) input —
    * `sum(x) OVER ()` and friends, the "share of total" shape. The
    * resolved frame for a no-ORDER-BY window is UNBOUNDED
    * PRECEDING..UNBOUNDED FOLLOWING, so every row sees the grand
    * total; the rewrite is a 1-row scalar aggregation broadcast-cross-
    * joined back — no window operator at all. Same exactness policy as
    * the running aggregates (no fp sums). */
  private def classifyWhole(ne: NamedExpression): Option[(Expression, String)] =
    ne match {
      case Alias(WindowExpression(
          AggregateExpression(af, Complete, false, None, _),
          WindowSpecDefinition(Nil, Nil, SpecifiedWindowFrame(_,
            UnboundedPreceding, UnboundedFollowing))), _) => af match {
        case Sum(v, _) if exactSum(v.dataType) => Some((v, "sum"))
        case Min(v) => Some((v, "min"))
        case Max(v) => Some((v, "max"))
        case Count(Seq(v)) => Some((v, "count"))
        case _ => None
      }
      case _ => None
    }

  /** TRUE when an output name is one of this rule's / [[ParallelRank]]'s
    * own helper columns. A window whose child exposes these is part of
    * an ALREADY-SPLICED rewrite (e.g. an internal pid-partitioned window
    * whose foldable partition column a degenerate input let the
    * optimizer erase) — re-rewriting it would join a second offsets
    * frame onto a child that already carries __o0 and die on an
    * ambiguous reference. */
  private def helperName(n: String): Boolean =
    n.startsWith("__gw") || n == "__pid" || n == "__mono" ||
      n.matches("__o\\d+") || n.matches("__g\\d+") ||
      n.matches("__t\\d+") || n.matches("__p\\d+")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val skip = limitFiltered(plan)
    // top-down: outer windows of a stack rewrite first, so each
    // rewrite's sample source can peel the still-raw inner Window nodes
    plan.transformDown {
      case w @ Window(wexprs, Seq(), orderSpec, child, _)
          if orderSpec.nonEmpty && wexprs.nonEmpty &&
            orderSpec.forall(_.deterministic) &&
            wexprs.forall(_.deterministic) &&
            wexprs.forall(e => classify(e).isDefined) &&
            !wexprs.exists(e => skip.contains(e.exprId.id)) &&
            !child.output.exists(a => helperName(a.name)) &&
            child.find(p => p.expressions.exists(!_.deterministic)).isEmpty =>
        rewrite(w)
      case w @ Window(wexprs, Seq(), Seq(), child, _)
          if wexprs.nonEmpty &&
            wexprs.forall(_.deterministic) &&
            wexprs.forall(e => classifyWhole(e).isDefined) &&
            !child.output.exists(a => helperName(a.name)) &&
            child.find(p => p.expressions.exists(!_.deterministic)).isEmpty =>
        rewriteScalar(w)
    }
  }

  /** The sample source for cutpoint building: peel cardinality- and
    * key-preserving operators (Window/Project/Sort) off the child while
    * the sort keys still resolve below them, so the build-time count and
    * sample jobs scan the base data instead of executing window stacks
    * (including other not-yet-rewritten GLOBAL windows). */
  private def sampleSource(plan: LogicalPlan,
      keys: AttributeSet): LogicalPlan = plan match {
    case wnd: Window if keys.subsetOf(wnd.child.outputSet) =>
      sampleSource(wnd.child, keys)
    case p: Project if keys.subsetOf(p.child.outputSet) =>
      sampleSource(p.child, keys)
    case s: Sort => sampleSource(s.child, keys)
    case other => other
  }

  /** SQL NTILE(k) from the 1-based global row number `rn` and total `n`:
    * the first n mod k buckets get one extra row. The ELSE branch's
    * divisor `n DIV k` is 0 only when n < k, and then every rank takes
    * the THEN branch, so the division never evaluates on a taken branch
    * (CASE WHEN is lazy under codegen). */
  private def ntileSql(k: Int): String =
    s"""CAST(CASE
       |  WHEN __gw_rn <= (__gw_n DIV $k + 1L) * (__gw_n % $k)
       |    THEN (__gw_rn - 1L) DIV (__gw_n DIV $k + 1L) + 1L
       |  ELSE __gw_n % $k +
       |    (__gw_rn - 1L - (__gw_n DIV $k + 1L) * (__gw_n % $k))
       |      DIV (__gw_n DIV $k) + 1L
       |END AS INT)""".stripMargin

  private def rewrite(w: Window): LogicalPlan = {
    val spark = SparkSession.active
    val df = GraftSqlBridge.ofRows(spark, w.child)
    val parts = math.max(conf.numShufflePartitions, 1)
    // rebuild direction through the Column API — WindowSpec.orderBy does
    // NOT unwrap an already-SortOrder column and would double-wrap it
    // into an unevaluable SortOrder(SortOrder(…)) comparator
    val sortCols = w.orderSpec.map { so =>
      val c = GraftSqlBridge.column(so.child)
      (so.direction, so.nullOrdering) match {
        case (Ascending, NullsFirst) => c.asc_nulls_first
        case (Ascending, NullsLast) => c.asc_nulls_last
        case (Descending, NullsFirst) => c.desc_nulls_first
        case (Descending, NullsLast) => c.desc_nulls_last
      }
    }
    val fns: Seq[(Alias, GwFn)] = w.windowExpressions.map { ne =>
      ne.asInstanceOf[Alias] -> classify(ne).get
    }
    def any(p: Expression => Boolean) = fns.exists {
      case (_, RankF(f)) => p(f)
      case _ => false
    }
    val needRn = any(f => f.isInstanceOf[RowNumber] || f.isInstanceOf[NTile])
    val needRk =
      any(f => f.isInstanceOf[Rank] || f.isInstanceOf[PercentRank])
    val needDr = any(_.isInstanceOf[DenseRank])
    val hasCume = fns.exists(_._2 == CumeF)
    val needN = hasCume ||
      any(f => f.isInstanceOf[NTile] || f.isInstanceOf[PercentRank])
    val rangeAggs = fns.zipWithIndex.collect {
      case ((_, AggF(v, op)), i) =>
        ParallelRank.RangeAgg(s"__gw_agg_$i", GraftSqlBridge.column(v), op)
    } ++ (if (hasCume) // one shared peers-inclusive row count
      Seq(ParallelRank.RangeAgg("__gw_cd", lit(1L), "count")) else Nil)
    val src = sampleSource(w.child,
      AttributeSet(w.orderSpec.flatMap(_.references) ++
        fns.collect { case (_, AggF(v, _)) => v }.flatMap(_.references)))
    var out = ParallelRank.rankFamily(df, parts, sortCols,
      rowNumOut = if (needRn) Some("__gw_rn") else None,
      rankOut = if (needRk) Some("__gw_rk") else None,
      denseOut = if (needDr) Some("__gw_dr") else None,
      totalOut = if (needN) Some("__gw_n") else None,
      sampleFrom =
        if (src eq w.child) None
        else Some(GraftSqlBridge.ofRows(spark, src)),
      rangeAggs = rangeAggs)
    // one derived output column per original window expression, named so
    // the final Project can find it and re-attach the original ExprId;
    // every branch casts/lands on the original expression's dataType so
    // the re-attached attribute's schema is untouched
    val outNames = fns.zipWithIndex.map { case ((a, gf), i) =>
      val name = s"__gw_out_$i"
      val c = gf match {
        case RankF(f) => f match {
          case _: RowNumber => col("__gw_rn").cast("int")
          case _: Rank => col("__gw_rk").cast("int")
          case _: DenseRank => col("__gw_dr").cast("int")
          case _: PercentRank =>
            // SQL percent_rank: (rank-1)/(n-1), defined as 0.0 when n = 1
            when(col("__gw_n") > 1L,
              (col("__gw_rk") - 1L).cast("double") /
                (col("__gw_n") - 1L).cast("double"))
              .otherwise(lit(0.0))
          case NTile(Literal(k: Int, IntegerType)) => expr(ntileSql(k))
        }
        case AggF(_, _) => col(s"__gw_agg_$i").cast(a.child.dataType)
        case CumeF =>
          col("__gw_cd").cast("double") / col("__gw_n").cast("double")
      }
      out = out.withColumn(name, c)
      (a, name)
    }
    splice(w, out, outNames)
  }

  /** `agg OVER ()` → one scalar aggregation row, broadcast-cross-joined
    * back onto the input: every row sees the grand total, nothing ever
    * moves to a single partition, and for an EMPTY input the cross join
    * yields no rows — exactly the naive window's output. */
  private def rewriteScalar(w: Window): LogicalPlan = {
    val spark = SparkSession.active
    val df = GraftSqlBridge.ofRows(spark, w.child)
    val fns: Seq[(Alias, (Expression, String))] =
      w.windowExpressions.map { ne =>
        ne.asInstanceOf[Alias] -> classifyWhole(ne).get
      }
    val aggCols = fns.zipWithIndex.map { case ((_, (v, op)), i) =>
      val c = GraftSqlBridge.column(v)
      (op match {
        case "sum"   => sum(c)
        case "min"   => min(c)
        case "max"   => max(c)
        case "count" => count(c)
      }).as(s"__gw_sc_$i")
    }
    val scalar = df.agg(aggCols.head, aggCols.tail: _*)
    var out = df.crossJoin(
      org.apache.spark.sql.functions.broadcast(scalar))
    val outNames = fns.zipWithIndex.map { case ((a, _), i) =>
      val name = s"__gw_out_$i"
      out = out.withColumn(name, col(s"__gw_sc_$i").cast(a.child.dataType))
      (a, name)
    }
    splice(w, out, outNames)
  }

  /** Re-enter the optimizer cleanly: the spliced subtree arrives AFTER
    * the early pre-optimization phases already ran, so apply their
    * load-bearing steps ourselves — fold the fresh broadcast()
    * ResolvedHint into the Join node and replace RuntimeReplaceable
    * expressions (array_append in the prefix fold) with their
    * executable forms — then re-attach the original output ExprIds with
    * a final Project so parent operators resolve unchanged. */
  private def splice(w: Window, out: DataFrame,
      outNames: Seq[(Alias, String)]): LogicalPlan = {
    val analyzed = org.apache.spark.sql.catalyst.optimizer
      .ReplaceExpressions(org.apache.spark.sql.catalyst.optimizer
        .EliminateResolvedHint(out.queryExecution.analyzed))
    val byName = analyzed.output.map(at => at.name -> at).toMap
    val aliases = outNames.map { case (a, name) =>
      Alias(byName(name), a.name)(exprId = a.exprId,
        qualifier = a.qualifier)
    }
    Project(w.child.output ++ aliases, analyzed)
  }
}

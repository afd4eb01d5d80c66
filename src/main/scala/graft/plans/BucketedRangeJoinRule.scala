package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, Decimal, DoubleType, LongType}

/** Optimizer rule: plans a tolerance range join between two LARGE tables
  * as a bucketed EQUI join instead of a nested loop.
  *
  * Spark's planner turns `a JOIN b ON abs(a.v - b.v) <= tol` into a
  * BroadcastNestedLoopJoin (or a cartesian product once both sides
  * outgrow the broadcast threshold) — O(n×m) comparisons, the classic
  * 100-TB scale-killer. This rule rewrites the logical join to the
  * `RangeJoin.bucketed` shape automatically: bucket both sides by
  * `floor(v / tol)`, replicate the right side into its 3 neighbor
  * buckets (constant blow-up), equi-join on the bucket id, and keep the
  * original predicate as the exact residual filter inside the join
  * condition. Any qualifying pair lands in the same or an adjacent
  * bucket (|l−r| <= tol bounds floor(l/tol) to floor(r/tol) ± 1), so
  * results are identical — including NULL/NaN rows, which fail the
  * residual predicate in both plans (RangeJoinSpec proves equivalence).
  *
  * Three predicate shapes are recognized (each must be the ENTIRE join
  * condition; joins with additional equi keys already avoid the nested
  * loop and are left alone):
  *
  *  1. `abs(a.v - b.v) <= tol` — symmetric tolerance; bucket width tol,
  *     right side replicated to 3 neighbor buckets.
  *  2. `a.v BETWEEN b.v - t1 AND b.v + t2` (as the analyzer desugars
  *     it: a `>=`/`<=` conjunction, literal offsets, either conjunct
  *     order and either comparison orientation) — the asymmetric band;
  *     bucket width max(t1, t2), same 3-neighbor replication, original
  *     predicate as the exact residual.
  *  3. `a.v BETWEEN b.lo AND b.hi` — interval containment: the point
  *     side buckets by `floor(v / w)`, the interval side EXPLODES each
  *     row into the buckets `floor(lo/w) .. floor(hi/w)` it covers, and
  *     the bucket ids equi-join. Fan-out per interval row is
  *     `width/w + 1`, so this is the right plan exactly when interval
  *     width is bounded (sessions, tolerance windows, IP ranges); `w`
  *     comes from `spark.graft.rangeJoin.bucketWidth` (default 1.0) —
  *     set it near the typical interval width. Results are identical
  *     for ANY w (the original predicate is re-checked as residual;
  *     degenerate hi < lo intervals explode to zero buckets).
  *
  * Injected via [[graft.functions.GraftExtensions]], the only install
  * path. Switch it off per session with
  * `spark.sql.optimizer.excludedRules`.
  */
object BucketedRangeJoinRule extends Rule[LogicalPlan] {

  private def tolOf(l: Literal): Option[Double] = l.value match {
    case d: java.lang.Double => Option.when(d > 0)(d.doubleValue)
    case f: java.lang.Float => Option.when(f > 0)(f.doubleValue)
    case i: java.lang.Integer => Option.when(i > 0)(i.doubleValue)
    case j: java.lang.Long => Option.when(j > 0)(j.doubleValue)
    case s: java.lang.Short => Option.when(s > 0)(s.doubleValue)
    case d: Decimal => Option.when(d.toDouble > 0)(d.toDouble)
    case _ => None
  }

  /** A column reference, possibly under the numeric widening cast the
    * analyzer inserts for mixed-type comparisons (int vs double etc.).
    * Bucketing on the bare attribute is equivalent: the bucket formula
    * re-casts to double itself, and numeric widening is exact. */
  private object BareAttr {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast if c.dataType.isInstanceOf[
          org.apache.spark.sql.types.NumericType] =>
        c.child match {
          case a: AttributeReference => Some(a)
          case _ => None
        }
      case _ => None
    }
  }

  /** `abs(a - b) <= tol` in either orientation. */
  private def matchRange(cond: Expression)
      : Option[(AttributeReference, AttributeReference, Double)] =
    cond match {
      case LessThanOrEqual(
            Abs(Subtract(BareAttr(a), BareAttr(b), _), _),
            l: Literal) =>
        tolOf(l).map((a, b, _))
      case GreaterThanOrEqual(l: Literal,
            Abs(Subtract(BareAttr(a), BareAttr(b), _), _)) =>
        tolOf(l).map((a, b, _))
      case _ => None
    }

  /** `x >= y` written either way round. */
  private object Geq {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case GreaterThanOrEqual(a, b) => Some((a, b))
      case LessThanOrEqual(a, b) => Some((b, a))
      case _ => None
    }
  }

  /** Strip the numeric widening cast the analyzer wraps around a whole
    * bound expression when the compared columns' types differ (e.g.
    * `cast((p_size - 1) as double)` against a double column). Exact:
    * numeric widening never changes the compared value. */
  private def stripNumCast(e: Expression): Expression = e match {
    case c: Cast if c.dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType] => c.child
    case _ => e
  }

  /** `attr + lit` (commuted too) with a positive literal. */
  private object PlusLit {
    def unapply(e: Expression): Option[(AttributeReference, Double)] =
      stripNumCast(e) match {
        case Add(BareAttr(b), l: Literal, _) => tolOf(l).map((b, _))
        case Add(l: Literal, BareAttr(b), _) => tolOf(l).map((b, _))
        case _ => None
      }
  }

  /** `attr - lit` with a positive literal. */
  private object MinusLit {
    def unapply(e: Expression): Option[(AttributeReference, Double)] =
      stripNumCast(e) match {
        case Subtract(BareAttr(b), l: Literal, _) => tolOf(l).map((b, _))
        case _ => None
      }
  }

  /** `a BETWEEN b - t1 AND b + t2`: a >=/<= conjunction over the same
    * attribute pair, either conjunct order. Returns (a, b, max(t1,t2)):
    * a - b ∈ [-t1, t2] implies |a - b| <= max, so the abs-form bucket
    * rewrite applies with the wider width. */
  private def matchBand(cond: Expression)
      : Option[(AttributeReference, AttributeReference, Double)] =
    cond match {
      case And(Geq(BareAttr(a1), MinusLit(b1, t1)),
               Geq(PlusLit(b2, t2), BareAttr(a2)))
          if a1.semanticEquals(a2) && b1.semanticEquals(b2) =>
        Some((a1, b1, math.max(t1, t2)))
      case And(Geq(PlusLit(b2, t2), BareAttr(a2)),
               Geq(BareAttr(a1), MinusLit(b1, t1)))
          if a1.semanticEquals(a2) && b1.semanticEquals(b2) =>
        Some((a1, b1, math.max(t1, t2)))
      case _ => None
    }

  /** `v BETWEEN lo AND hi` with all three operands attributes, `v` from
    * one input and `lo`/`hi` from the other. Returns (v, lo, hi). */
  private def matchInterval(cond: Expression)
      : Option[(AttributeReference, AttributeReference, AttributeReference)] =
    cond match {
      case And(Geq(BareAttr(v1), BareAttr(lo)),
               Geq(BareAttr(hi), BareAttr(v2)))
          if v1.semanticEquals(v2) =>
        Some((v1, lo, hi))
      case And(Geq(BareAttr(hi), BareAttr(v2)),
               Geq(BareAttr(v1), BareAttr(lo)))
          if v1.semanticEquals(v2) =>
        Some((v1, lo, hi))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _) =>
      matchRange(cond).orElse(matchBand(cond)).flatMap { case (a, b, tol) =>
        if (left.outputSet.contains(a) && right.outputSet.contains(b))
          Some(rewrite(j, a, b, tol, cond))
        else if (left.outputSet.contains(b) && right.outputSet.contains(a))
          Some(rewrite(j, b, a, tol, cond))
        else None
      }.orElse {
        matchInterval(cond).flatMap { case (v, lo, hi) =>
          val w = conf.getConfString(
            "spark.graft.rangeJoin.bucketWidth", "1.0").toDouble
          if (j.left.outputSet.contains(v) &&
              j.right.outputSet.contains(lo) &&
              j.right.outputSet.contains(hi))
            Some(rewriteInterval(j, pointOnLeft = true, v, lo, hi, w, cond))
          else if (j.right.outputSet.contains(v) &&
              j.left.outputSet.contains(lo) &&
              j.left.outputSet.contains(hi))
            Some(rewriteInterval(j, pointOnLeft = false, v, lo, hi, w, cond))
          else None
        }
      }.getOrElse(j)
  }

  private def bucket(v: Expression, tol: Double): Expression =
    Floor(Divide(Cast(v, DoubleType), Literal(tol)))

  private def rewrite(j: Join, lv: AttributeReference,
      rv: AttributeReference, tol: Double, orig: Expression): LogicalPlan = {
    val lb = Alias(bucket(lv, tol), "__graft_bucket")()
    val newLeft = Project(j.left.output :+ lb, j.left)
    val rb = bucket(rv, tol)
    val neighbors = CreateArray(Seq(
      Subtract(rb, Literal(1L)), rb, Add(rb, Literal(1L))))
    val genAttr = AttributeReference("__graft_bucket_r", LongType)()
    val newRight = Generate(Explode(neighbors),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(genAttr), child = j.right)
    // equi key first so ExtractEquiJoinKeys plans a hash/sort-merge join;
    // the original range predicate rides along as the residual condition
    val newCond = And(EqualTo(lb.toAttribute, genAttr), orig)
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }

  /** Interval containment: point side projects `floor(v/w)`; interval
    * side explodes to every bucket id in `floor(lo/w) .. floor(hi/w)`
    * (dynamic-length sequence — fan-out = covered buckets, bounded by
    * interval width / w). Degenerate hi < lo rows explode to an empty
    * array, i.e. are dropped, which matches the always-false original
    * predicate under inner join semantics. */
  private def rewriteInterval(j: Join, pointOnLeft: Boolean,
      v: AttributeReference, lo: AttributeReference,
      hi: AttributeReference, w: Double, orig: Expression): LogicalPlan = {
    val (pointSide, intervalSide) =
      if (pointOnLeft) (j.left, j.right) else (j.right, j.left)
    val pb = Alias(bucket(v, w), "__graft_bucket")()
    val newPoint = Project(pointSide.output :+ pb, pointSide)
    // Sequence is TimeZoneAwareExpression: unresolved until a zone is
    // pinned, even for pure long bounds
    val covered = If(GreaterThanOrEqual(hi, lo),
      Sequence(bucket(lo, w), bucket(hi, w), Some(Literal(1L)),
        Some(conf.sessionLocalTimeZone)),
      Literal.create(Seq.empty[Long], ArrayType(LongType)))
    val gen = Explode(covered)
    // Generate.resolved requires the output attribute to mirror the
    // generator's element schema exactly, nullability included
    val elem = gen.elementSchema.head
    val genAttr = AttributeReference("__graft_bucket_r", elem.dataType,
      nullable = elem.nullable)()
    val newInterval = Generate(gen,
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(genAttr), child = intervalSide)
    val newCond = And(EqualTo(pb.toAttribute, genAttr), orig)
    val (nl, nr) =
      if (pointOnLeft) (newPoint, newInterval) else (newInterval, newPoint)
    Project(j.output, Join(nl, nr, Inner, Some(newCond), j.hint))
  }
}

package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator extension: exact top-k rows per group, with rank.
  *
  * The composable form — `row_number() OVER (PARTITION BY g ORDER BY o)`
  * then `rank <= k` — shuffles and sorts EVERY row (WindowExec cannot
  * know the filter will discard all but k per group). This operator plans
  * as partial/final (the HashAggregate pattern): the map side keeps a
  * bounded k-heap per group and discards everything else BEFORE the
  * exchange, so the shuffle carries at most k rows per (group, input
  * partition) instead of the whole table — at 100 TB with k=3 that is
  * the difference between shuffling terabytes and shuffling megabytes.
  *
  * Catalyst wiring: logical node → planner strategy → two exec nodes;
  * EnsureRequirements inserts the hash exchange between them from the
  * final node's required ClusteredDistribution. Memory: bounded by
  * (#groups in partition) × k rows, like a hash aggregate (no spill
  * path — k is expected small).
  *
  * Pruning caveat (same as map-side combine): the partial stage only
  * discards rows where a group has MORE than k rows in one input
  * partition. Few-groups × many-rows (top-k per tenant/category) prunes
  * massively; when distinct groups approach the row count the operator
  * degrades to the window plan's shuffle volume — minus the full sort,
  * which it never does.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  require(groupExprs.nonEmpty && k > 0)
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : TopKPerGroup = copy(child = newChild)
}

/** Shared per-partition bounded top-k: group rows into k-heaps keyed by
  * the grouping projection (heap root = worst kept row). */
private[plans] object TopKHeaps {
  def build(iter: Iterator[InternalRow], groupExprs: Seq[Expression],
      order: Seq[SortOrder], k: Int, attrs: Seq[Attribute])
      : mutable.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]] = {
    val groupProj = UnsafeProjection.create(groupExprs, attrs)
    val rowProj = UnsafeProjection.create(attrs, attrs)
    val ord = GenerateOrdering.generate(order, attrs)
    // reversed: the queue head is the WORST kept row, evicted first
    val heapCmp = new java.util.Comparator[UnsafeRow] {
      override def compare(a: UnsafeRow, b: UnsafeRow): Int = ord.compare(b, a)
    }
    val heaps = mutable.HashMap.empty[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]
    iter.foreach { row =>
      val key = groupProj(row)
      heaps.get(key) match {
        case None =>
          val pq = new java.util.PriorityQueue[UnsafeRow](k, heapCmp)
          pq.add(rowProj(row).copy())
          heaps.put(key.copy(), pq)
        case Some(pq) =>
          if (pq.size < k) pq.add(rowProj(row).copy())
          else if (ord.compare(row, pq.peek()) < 0) {
            pq.poll(); pq.add(rowProj(row).copy())
          }
      }
    }
    heaps
  }
}

/** Map-side pruning stage: narrow (no required distribution), emits at
  * most k rows per (group, partition). */
case class PartialTopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions({ iter =>
      TopKHeaps.build(iter, groupExprs, order, k, child.output)
        .valuesIterator.flatMap { pq =>
          import scala.jdk.CollectionConverters._
          pq.iterator().asScala
        }
    }, preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan)
      : PartialTopKPerGroupExec = copy(child = newChild)
}

/** Reduce stage: requires co-location on the group keys (EnsureRequirements
  * inserts the exchange), re-ranks the ≤ k×partitions survivors per group
  * and appends the 1-based rank. */
case class FinalTopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      val attrs = child.output
      val ord = GenerateOrdering.generate(order, attrs)
      val proj = UnsafeProjection.create(output, output)
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      TopKHeaps.build(iter, groupExprs, order, k, attrs)
        .valuesIterator.flatMap { pq =>
          val rows = new Array[UnsafeRow](pq.size)
          var i = rows.length - 1
          while (i >= 0) { rows(i) = pq.poll(); i -= 1 } // heap pops worst-first
          rows.iterator.zipWithIndex.map { case (r, idx) =>
            rankRow.setLong(0, idx + 1L)
            proj(joined(r, rankRow))
          }
        }
    }
  override protected def withNewChildInternal(newChild: SparkPlan)
      : FinalTopKPerGroupExec = copy(child = newChild)
}

/** Planner strategy mapping the logical node to partial + final. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, rank, child) =>
      FinalTopKPerGroupExec(g, o, k, rank,
        PartialTopKPerGroupExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User-facing constructor. The logical node plans through
  * [[TopKPerGroupStrategy]], which [[graft.functions.GraftExtensions]]
  * injects into every [[graft.GraftSession]]. */
object TopK {
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], k: Int, rankName: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    val g = groupCols.map { n =>
      child.output.find(a => spark.sessionState.conf.resolver(a.name, n))
        .getOrElse(throw new IllegalArgumentException(
          s"group column $n not in ${child.output.map(_.name).mkString(",")}"))
    }
    // Run the order columns through the analyzer (df.sort) so `.desc`
    // et al. arrive as fully-resolved catalyst SortOrders — the raw
    // Column expression is an unresolved (and unserializable) internal
    // column node in Spark 4.
    val o = df.sort(orderCols: _*).queryExecution.analyzed match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.order
      case other => throw new IllegalStateException(
        s"expected a Sort plan, got $other")
    }
    GraftSqlBridge.ofRows(spark, TopKPerGroup(g, o, k,
      AttributeReference(rankName, LongType, nullable = false)(),
      child))
  }
}

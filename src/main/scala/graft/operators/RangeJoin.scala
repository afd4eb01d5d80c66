package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tolerance range join: pairs where |left.v - right.v| <= tol.
  *
  * Spark plans the naive `abs(l - r) <= tol` condition as a broadcast
  * nested loop (or a cartesian product once both sides outgrow the
  * broadcast threshold) — O(n×m) comparisons. The scalable form buckets
  * both sides by `floor(v / tol)`: any qualifying pair lands in the same
  * or an adjacent bucket, so replicating one side into its 3 neighbor
  * buckets turns the range join into an EQUI join on the bucket id (one
  * shuffle, hash/sort-merge) followed by the exact residual filter.
  * Replication factor is a constant 3; comparisons drop from n×m to the
  * pairs sharing a bucket.
  *
  * A plain `l.join(r, abs(l.v - r.v) <= tol)` plans as this bucketed equi
  * join without calling [[bucketed]]: [[graft.plans.BucketedRangeJoinRule]]
  * rewrites it in every session built with `GraftExtensions` (the
  * [[graft.GraftSession]] default).
  */
object RangeJoin {

  def bucketed(left: DataFrame, leftVal: String, right: DataFrame,
      rightVal: String, tol: Double): DataFrame = {
    require(tol > 0, "tolerance must be positive")
    val lb = left.withColumn("__b", floor(col(leftVal) / tol))
    val rb = right.withColumn("__b",
      explode(array(floor(col(rightVal) / tol) - 1,
        floor(col(rightVal) / tol),
        floor(col(rightVal) / tol) + 1)))
    lb.join(rb, "__b")
      .filter(abs(col(leftVal) - col(rightVal)) <= tol)
      .drop("__b")
  }
}

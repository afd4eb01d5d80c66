package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.athenaeum.SparkSpec

/** Public-surface hardening contracts: the cache sweep is scoped to
  * graft-owned state, a [[Dedup.scoped]] unit frees exactly what it
  * tracked, and profile() fails fast on an empty column list — each
  * gets a pinned spec so the contract cannot silently regress.
  */
class HardeningSpec extends SparkSpec {

  test("releaseAll never unpersists a user-owned cache or checkpoint") {
    import spark.implicits._
    val userCache = (1L to 10L).toDF("x").persist()
    assert(userCache.count() == 10)
    val userCp = (1L to 7L).toDF("y").localCheckpoint()
    assert(userCp.count() == 7)

    // graft-owned state created through the tracked entry points
    val tracked = Dedup.persistTracked((1L to 5L).toDF("z"))
    assert(tracked.count() == 5)
    val (trackedCp, trackedCpIds) =
      newPersistentIds(Dedup.checkpointTracked((1L to 3L).toDF("w")))
    assert(trackedCp.count() == 3)

    Dedup.releaseAll(spark)

    // graft's own state is gone
    assert(tracked.storageLevel == StorageLevel.NONE)
    assert(trackedCpIds.nonEmpty &&
      trackedCpIds.forall(id => !persistentIds().contains(id)))

    // the user's cache is still materialized and still readable — an
    // over-broad sweep would have killed the checkpoint's blocks and any
    // read would die with a missing-block error (truncated lineage
    // cannot recompute)
    assert(userCache.storageLevel.useMemory,
      "user persist() must survive releaseAll")
    assert(userCache.filter(col("x") > 5).count() == 5)
    assert(userCp.count() == 7, "user localCheckpoint must survive releaseAll")

    userCache.unpersist()
  }

  test("scoped frees exactly what its body tracked: scopes nest, a throw still releases") {
    import spark.implicits._
    var inner: DataFrame = null
    var innerCpIds = Set.empty[Int]
    Dedup.scoped(spark) {
      val outer = Dedup.persistTracked((1L to 6L).toDF("a"))
      assert(outer.count() == 6)
      val (outerCp, outerCpIds) =
        newPersistentIds(Dedup.checkpointTracked((1L to 4L).toDF("b")))
      assert(outerCp.count() == 4)
      Dedup.scoped(spark) {
        inner = Dedup.persistTracked((1L to 8L).toDF("c"))
        assert(inner.count() == 8)
        val (innerCp, ids) =
          newPersistentIds(Dedup.checkpointTracked((1L to 2L).toDF("d")))
        innerCpIds = ids
        assert(innerCp.count() == 2)
      }
      // the inner scope's cache and checkpoint are gone ...
      assert(inner.storageLevel == StorageLevel.NONE)
      assert(innerCpIds.nonEmpty &&
        innerCpIds.forall(id => !persistentIds().contains(id)))
      // ... and the enclosing scope's survive, the checkpoint readable
      assert(outer.storageLevel.useMemory)
      assert(outerCpIds.nonEmpty && outerCpIds.subsetOf(persistentIds()))
      assert(outerCp.filter(col("b") > 1).count() == 3)
    }

    var failed: DataFrame = null
    val e = intercept[IllegalStateException] {
      Dedup.scoped(spark) {
        failed = Dedup.persistTracked((1L to 3L).toDF("e"))
        assert(failed.count() == 3)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(failed.storageLevel == StorageLevel.NONE)
  }

  private def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  // `f`'s value and the RDD ids it left persisted
  private def newPersistentIds[T](f: => T): (T, Set[Int]) = {
    val before = persistentIds()
    val out = f
    (out, persistentIds() -- before)
  }

  test("profile() rejects an empty column list instead of throwing in reduce") {
    import spark.implicits._
    val df = (1L to 4L).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Profiling.profile(df, Seq.empty)
    }
    assert(e.getMessage.contains("empty column list"))
  }
}

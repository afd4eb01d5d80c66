package graft.streaming

import org.apache.spark.sql.functions.col

import graft.athenaeum.SparkSpec

/** The single-writer lease on [[BucketedState]] paths: two streaming
  * queries accidentally sharing one state path (a copy-pasted fixture
  * suffix) must get a DETERMINISTIC error, not silent corruption — the
  * second sink's batch 0 would otherwise no-op on the first sink's
  * bt-0 marker and its data would simply be lost. The lease is scoped
  * to streaming queries (the checkpoint-stable queryId): maintenance
  * calls and batch surgery carry no query id and are unaffected, and a
  * dead holder's lease expires after `graft.state.writerLeaseMs`. */
class WriterLeaseSpec extends SparkSpec {

  private val QID = "sql.streaming.queryId"

  private def asQuery[A](id: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(QID, id)
    try body finally spark.sparkContext.setLocalProperty(QID, null)
  }

  private def df(tag: Long) = {
    import spark.implicits._
    Seq((tag, tag * 10)).toDF("k", "v")
  }

  test("two streaming queries on one path: deterministic error, not silent no-op; own-query appends and non-streaming callers unaffected") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lease").toString
    // query A takes the lease on its first append and keeps appending
    asQuery("query-A") {
      BucketedState.appendOnce(df(0), dir, 0L, "k", 4)
      BucketedState.appendOnce(df(1), dir, 1L, "k", 4)
    }
    // query B interleaving while A's lease is fresh: fail fast — and
    // on the exact silent-loss batch id (B's own batch 0, which A's
    // bt-0 marker would otherwise swallow)
    val boom = intercept[IllegalStateException] {
      asQuery("query-B") {
        BucketedState.appendOnce(df(100), dir, 0L, "k", 4)
      }
    }
    assert(boom.getMessage.contains("query-A") &&
      boom.getMessage.contains("query-B"))
    // rebucket from a foreign query is refused the same way
    intercept[IllegalStateException] {
      asQuery("query-B") { BucketedState.rebucket(spark, dir, 8) }
    }
    // the state is intact: only A's batches
    assert(BucketedState.committedBatches(spark, dir) == Set(0L, 1L))
    assert(BucketedState.readBefore(spark, dir, 99L).get.count() == 2L)
    // A replays and continues unharmed (lease holder)
    asQuery("query-A") {
      BucketedState.appendOnce(df(1), dir, 1L, "k", 4) // replay no-op
      BucketedState.appendOnce(df(2), dir, 2L, "k", 4)
    }
    assert(BucketedState.committedBatches(spark, dir) == Set(0L, 1L, 2L))
    // non-streaming callers (no query id) neither take nor honor
    // leases: maintenance surgery over a leased path still works
    BucketedState.appendOnce(df(3), dir, 3L, "k", 4)
    assert(BucketedState.readBefore(spark, dir, 99L).get.count() == 4L)
  }

  test("maintenance surgery holds an exclusive lease: a live stream's appends fail fast for the duration and recover after release") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lease3").toString
    asQuery("stream-X") {
      BucketedState.appendOnce(df(0), dir, 0L, "k", 4)
    }
    // surgery in progress: the stream's next append must fail fast
    // (deterministic error naming the maintenance holder), not race it
    BucketedState.withMaintenanceLease(spark, dir) {
      val boom = intercept[IllegalStateException] {
        asQuery("stream-X") {
          BucketedState.appendOnce(df(1), dir, 1L, "k", 4)
        }
      }
      assert(boom.getMessage.contains("maint"),
        s"error should name the maintenance holder: ${boom.getMessage}")
      // non-streaming reads/surgery inside the lease still work
      assert(BucketedState.readBefore(spark, dir, 99L).get.count() == 1L)
    }
    // released: the stream re-takes its own lease and continues
    asQuery("stream-X") {
      BucketedState.appendOnce(df(1), dir, 1L, "k", 4)
    }
    assert(BucketedState.committedBatches(spark, dir) == Set(0L, 1L))
    // rebucket from a non-streaming caller takes the maintenance lease
    // itself (observable: a streaming append injected at the commit
    // point fails fast), and the stream recovers after
    BucketedState.rebucket(spark, dir, 8, onBeforeCommit = () => {
      intercept[IllegalStateException] {
        asQuery("stream-X") {
          BucketedState.appendOnce(df(2), dir, 2L, "k", 4)
        }
      }
      ()
    })
    asQuery("stream-X") {
      BucketedState.appendOnce(df(2), dir, 2L, "k", 4)
    }
    assert(BucketedState.readBefore(spark, dir, 99L).get.count() == 3L)
  }

  test("a malformed graft.state.writerLeaseMs fails with the conf key named, not a bare NumberFormatException") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lease4").toString
    withConf("graft.state.writerLeaseMs" -> "ten minutes") {
      val boom = intercept[IllegalArgumentException] {
        asQuery("query-C") {
          BucketedState.appendOnce(df(0), dir, 0L, "k", 4)
        }
      }
      assert(boom.getMessage.contains("graft.state.writerLeaseMs"))
    }
  }

  test("a dead holder's lease expires: a new query takes over after the ttl") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lease2").toString
    asQuery("query-old") {
      BucketedState.appendOnce(df(0), dir, 0L, "k", 4)
    }
    withConf("graft.state.writerLeaseMs" -> "1") {
      Thread.sleep(5)
      // restarted/replacement query: the stale lease is taken over and
      // the stream continues where the old one left off
      asQuery("query-new") {
        BucketedState.appendOnce(df(1), dir, 1L, "k", 4)
      }
    }
    assert(BucketedState.committedBatches(spark, dir) == Set(0L, 1L))
    assert(BucketedState.readBefore(spark, dir, 99L).get
      .filter(col("k") === 1L).count() == 1L)
  }
}

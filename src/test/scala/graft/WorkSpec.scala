package graft

import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.functions._

import graft.athenaeum.SparkSpec
import graft.operators.Dedup

/** [[Work.measure]] is the one per-query statistics collector: its
  * counters are exact deltas that belong to the measured body alone, and
  * it owns the cache release after every body. */
class WorkSpec extends SparkSpec {

  test("a repeated identical query compiles nothing on its second run") {
    // a literal no earlier query used, so the first run must compile
    val salt = System.nanoTime()
    def run() = Work.measure(spark)(spark.range(0, 1000, 1, 4)
      .select((col("id") * lit(salt)).as("x"))
      .groupBy(col("x") % 7).count().collect())._2
    val first = run()
    val second = run()
    assert(first.compiles > 0, s"first run compiled nothing: $first")
    assert(second.compiles == 0, s"second run recompiled: $second")
    assert(second.jobs > 0)
  }

  test("shuffle bytes: zero for a no-shuffle collect, positive for a groupBy") {
    val flat = Work.measure(spark)(spark.range(0, 1000, 1, 4)
      .filter(col("id") % 3 === 0).collect())._2
    assert(flat.shuffleWriteBytes == 0L, s"no-shuffle query: $flat")
    val grouped = Work.measure(spark)(spark.range(0, 1000, 1, 4)
      .groupBy(col("id") % 7).count().collect())._2
    assert(grouped.shuffleWriteBytes > 0L, s"groupBy query: $grouped")
  }

  test("plans holds the executed plan of the body's query") {
    val df = spark.range(0, 100, 1, 2).filter(col("id") > 50)
    val (rows, work) = Work.measure(spark)(df.collect())
    assert(rows.length == 49)
    assert(work.plans.size == 1, s"plans: ${work.plans}")
    assert(work.plans.head.collectFirst { case r: RangeExec => r }.nonEmpty,
      work.plans.head.treeString)
  }

  test("observe() metrics arrive in observed without waiting") {
    val observed = spark.range(0, 10).observe("probe",
      count(lit(1)).as("n"), max(col("id")).as("top"))
    // the listener bus delivers asynchronously: repeat, so a missing
    // trailing drain shows up as a run whose metrics had not arrived
    (1 to 50).foreach { run =>
      val work = Work.measure(spark)(observed.collect())._2
      assert(work.observed.contains("probe"), s"run $run: $work")
      val m = work.observed("probe")
      assert(m.getAs[Long]("n") == 10L)
      assert(m.getAs[Long]("top") == 9L)
    }
  }

  test("tracked caches and checkpoints are released after the body") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (ids, _) = Work.measure(spark) {
      Dedup.persistTracked(spark.range(0, 100).toDF()).count()
      Dedup.checkpointTracked(spark.range(0, 100).toDF())
      sc.getPersistentRDDs.keySet -- before
    }
    assert(ids.size >= 2, s"body left no persistent RDDs: $ids")
    val left = ids.intersect(sc.getPersistentRDDs.keySet)
    assert(left.isEmpty, s"still persistent after the body: $left")
  }

  test("a throwing body still releases and rethrows") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var ids = Set.empty[Int]
    val e = intercept[IllegalStateException] {
      Work.measure(spark) {
        Dedup.persistTracked(spark.range(0, 100).toDF()).count()
        ids = (sc.getPersistentRDDs.keySet -- before).toSet
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(ids.nonEmpty, "body left no persistent RDD")
    val left = ids.intersect(sc.getPersistentRDDs.keySet)
    assert(left.isEmpty, s"still persistent after the throw: $left")
  }
}

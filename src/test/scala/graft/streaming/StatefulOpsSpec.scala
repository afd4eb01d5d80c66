package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.athenaeum.SparkSpec
import StatefulOps.Keyed

// top-level: Catalyst's generated encoder must be able to construct it
case class StreamDoc(doc_id: Long, text: String)

class StatefulOpsSpec extends SparkSpec {

  // transformWithState requires the RocksDB provider (column families)
  private def withRocksDb[T](f: => T): T = withConf(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  test("firstSeen emits exactly one row per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Keyed]
    val q = StatefulOps.firstSeen(mem.toDS()).writeStream
      .format("memory").queryName("first_seen")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Keyed("a", 1, 10), Keyed("b", 2, 11), Keyed("a", 3, 12))
      q.processAllAvailable()
      mem.addData(Keyed("a", 4, 20), Keyed("c", 5, 21))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("first_seen").as[Keyed].collect()
      .map(k => (k.key, k.id)).toSet
    // duplicate 'a' rows (ids 3, 4) suppressed; one row per key
    assert(got == Set(("a", 1L), ("b", 2L), ("c", 5L)))
  }

  test("lshNearDupStream flags near-dups against earlier batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
    val mem = MemoryStream[StreamDoc]
    val q = StatefulOps
      .lshNearDupStream(mem.toDF(), "doc_id", "text", threshold = 0.5)
      .writeStream.format("memory").queryName("lsh_stream")
      .outputMode(OutputMode.Append).start()
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words about spark shuffles and catalyst plans here"
    try {
      mem.addData(StreamDoc(1, dupText), StreamDoc(2, other))
      q.processAllAvailable()
      // exact duplicate of doc 1 arrives TWO batches later: the state
      // store must still hold doc 1's signature
      mem.addData(StreamDoc(3, "unrelated filler text that matches nothing else at all today"))
      q.processAllAvailable()
      mem.addData(StreamDoc(4, dupText))
      q.processAllAvailable()
    } finally q.stop()
    val hits = spark.table("lsh_stream")
      .as[StatefulOps.NearDupHit].collect()
    // every emitted hit is the planted pair (possibly once per shared
    // band — the documented pre-distinct contract), estimate 1.0
    assert(hits.nonEmpty)
    assert(hits.forall(h => h.new_id == 4L && h.seen_id == 1L))
    assert(hits.forall(_.est_jaccard == 1.0))
    }
  }

  test("runningCounts accumulates state across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Keyed]
    val q = StatefulOps.runningCounts(mem.toDS()).writeStream
      .format("memory").queryName("running")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(Keyed("u", 7, 1), Keyed("u", 8, 2), Keyed("v", 9, 3))
      q.processAllAvailable()
      mem.addData(Keyed("u", 10, 4))
      q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.functions._
    // latest state per key: u has seen 3 rows (firstId 7), v one (firstId 9)
    val latest = spark.table("running")
      .groupBy("key").agg(max("n").as("n"), min("firstId").as("firstId"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(latest == Set(("u", 3L, 7L), ("v", 1L, 9L)))
  }

  test("firstSeen runs on the RocksDB state store (production provider)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[Keyed]
      val q = StatefulOps.firstSeen(mem.toDS()).writeStream
        .format("memory").queryName("first_seen_rocks")
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData(Keyed("a", 1, 10), Keyed("a", 2, 11), Keyed("b", 3, 12))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("first_seen_rocks").as[Keyed].collect()
        .map(k => (k.key, k.id)).toSet
      assert(got == Set(("a", 1L), ("b", 3L)))
    }
  }

  test("dropDuplicatesWithinWatermark dedups a key column") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Keyed]
    val q = StatefulOps.dropDupesWithinWatermark(
        mem.toDF(), "key", tsCol = "ts_us").writeStream
      .format("memory").queryName("dd")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Keyed("a", 1, 1000000), Keyed("a", 2, 2000000),
        Keyed("b", 3, 1500000))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dd").count() == 2)
  }

  test("transformWithState running stats accumulate across batches (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[Keyed]
      val q = StatefulOps.runningStatsTws(mem.toDS()).writeStream
        .format("memory").queryName("tws_stats")
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData(Keyed("a", 5, 10), Keyed("a", 2, 11), Keyed("b", 9, 12))
        q.processAllAvailable()
        mem.addData(Keyed("a", 7, 13))
        q.processAllAvailable()
      } finally q.stop()
      // Update mode: last row per key wins
      val last = spark.table("tws_stats").groupBy("key")
        .agg(org.apache.spark.sql.functions.max("n").as("n"),
          org.apache.spark.sql.functions.min("minId").as("minId"),
          org.apache.spark.sql.functions.max("maxId").as("maxId"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(last == Set(("a", 3L, 2L, 7L), ("b", 1L, 9L, 9L)))
    }
  }

  test("transformWithState top-k per key: bounded state, out-of-order input (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[StatefulOps.Valued]
      val q = StatefulOps.topKTws(mem.toDS(), k = 3).writeStream
        .format("memory").queryName("tws_topk")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: key a has 4 values — only top-3 survive in state
        mem.addData(
          StatefulOps.Valued("a", 1, 10.0), StatefulOps.Valued("a", 2, 40.0),
          StatefulOps.Valued("a", 3, 20.0), StatefulOps.Valued("a", 4, 30.0),
          StatefulOps.Valued("b", 9, 5.0))
        q.processAllAvailable()
        // batch 2 arrives OUT OF ORDER: a late high value (50) and a late
        // low value (1); 50 displaces the weakest (20), 1 is dropped; a
        // tie on 30 breaks to the lower id
        mem.addData(
          StatefulOps.Valued("a", 5, 50.0), StatefulOps.Valued("a", 6, 1.0),
          StatefulOps.Valued("a", 7, 30.0))
        q.processAllAvailable()
      } finally q.stop()
      // Update sink: take each key's latest emitted ranking (max batch)
      val rows = spark.table("tws_topk").as[StatefulOps.TopKOut]
        .collect()
      val lastA = rows.filter(_.key == "a")
        .groupBy(_.rank).map { case (r, xs) => r -> xs.last }.toSeq
        .sortBy(_._1).map { case (r, o) => (r, o.id, o.value) }
      assert(lastA == Seq((1L, 5L, 50.0), (2L, 2L, 40.0), (3L, 4L, 30.0)))
      val lastB = rows.filter(_.key == "b").map(o => (o.rank, o.id, o.value))
      assert(lastB.toSet == Set((1L, 9L, 5.0)))
    }
  }

  test("transformWithState KMV distinct: bounded state, batch-sketch parity (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withRocksDb {
      // 300 distinct mixed hashes for key a (stream k=8 far exceeded),
      // 3 (with repeats) for key b — delivered across two batches
      def mix(i: Long): Long = (i * 2654435761L) % 1000000007L
      val aHashes = (1L to 300L).map(mix)
      val mem = MemoryStream[StatefulOps.Hashed]
      val q = StatefulOps.kmvTws(mem.toDS(), k = 8).writeStream
        .format("memory").queryName("tws_kmv")
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData(aHashes.take(150).map(StatefulOps.Hashed("a", _)) ++
          Seq(StatefulOps.Hashed("b", mix(7)), StatefulOps.Hashed("b", mix(8))): _*)
        q.processAllAvailable()
        mem.addData(aHashes.drop(150).map(StatefulOps.Hashed("a", _)) ++
          Seq(StatefulOps.Hashed("b", mix(7)), StatefulOps.Hashed("b", mix(9))): _*)
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_kmv").as[StatefulOps.KmvOut].collect()
      val lastA = rows.filter(_.key == "a").last
      val lastB = rows.filter(_.key == "b").last
      // bounded state: sketch size pinned at k even after 300 distincts
      assert(lastA.sketch_size == 8L)
      // batch parity: the streaming estimate equals the batch kmv
      // aggregator's estimate on the same data, bit-for-bit
      val batchEst = aHashes.toDF("h")
        .agg(graft.functions.SigAgg.kmv(8)(col("h")).as("sk"))
        .selectExpr("7.0D * 1000000007.0D / sk[7] AS est")
        .collect()(0).getDouble(0)
      assert(lastA.est_distinct == batchEst)
      // duplicates never inflate: b saw 4 rows, 3 distinct
      assert(lastB.sketch_size == 3L && lastB.est_distinct == 3.0)
    }
  }

  test("transformWithState quantile sample: bounded state, batch-aggregator parity (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withRocksDb {
      // 300 rows for key a (k=8 far exceeded), delivered out of order
      // across two batches; key b stays below k
      def mix(i: Long): Long = (i * 2654435761L) % 1000000007L
      val aRows = (1L to 300L).map(i => (mix(i), i * 10L)) // (hash, q)
      val (late, early) = aRows.splitAt(150) // reversed arrival order
      val mem = MemoryStream[StatefulOps.HashedValue]
      val q = StatefulOps.quantileSampleTws(mem.toDS(), k = 8).writeStream
        .format("memory").queryName("tws_quant")
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData(early.map { case (h, v) =>
          StatefulOps.HashedValue("a", h, v) } ++
          Seq(StatefulOps.HashedValue("b", mix(7), 70L)): _*)
        q.processAllAvailable()
        mem.addData(late.map { case (h, v) =>
          StatefulOps.HashedValue("a", h, v) } ++
          Seq(StatefulOps.HashedValue("b", mix(8), 30L)): _*)
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_quant").as[StatefulOps.QuantOut].collect()
      val lastA = rows.filter(_.key == "a").last
      val lastB = rows.filter(_.key == "b").last
      // bounded state: sample pinned at k even after 300 rows
      assert(lastA.n_sample == 8L)
      // batch parity: identical estimates to the batch aggregator's
      // sample over the same rows, any arrival order
      val batch = aRows.toDF("h", "q")
        .agg(graft.functions.SigAgg.bottomKSample(8)(col("h"), col("q"))
          .as("s"))
        .selectExpr(
          "CAST(element_at(s, CAST(floor((size(s) - 1) * 0.5D) AS INT) + 1) AS DOUBLE) / 10000.0D AS p50",
          "CAST(element_at(s, CAST(floor((size(s) - 1) * 0.9D) AS INT) + 1) AS DOUBLE) / 10000.0D AS p90")
        .collect()(0)
      assert(lastA.est_p50 == batch.getDouble(0))
      assert(lastA.est_p90 == batch.getDouble(1))
      // below k: the sample is exact; p50 of {70, 30} picks index 0
      assert(lastB.n_sample == 2L && lastB.est_p50 == 0.003)
    }
  }

  test("transformWithState count-min: fixed state, over-count-only, exact when sparse (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      // key a: item X arrives 5 times split across two batches, plus
      // 200 mixed one-off hashes that stress collisions; key b stays
      // sparse (3 distinct, one repeat)
      def mix(i: Long): Long = (i * 2654435761L) % 1000000007L
      val x = mix(4242)
      val noise = (1L to 200L).map(mix)
      val mem = MemoryStream[StatefulOps.Hashed]
      val q = StatefulOps.cmSketchTws(mem.toDS()).writeStream
        .format("memory").queryName("tws_cm")
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData((noise.take(100) ++ Seq(x, x))
          .map(StatefulOps.Hashed("a", _)) ++
          Seq(StatefulOps.Hashed("b", mix(7)), StatefulOps.Hashed("b", mix(8))): _*)
        q.processAllAvailable()
        mem.addData((noise.drop(100) ++ Seq(x, x, x))
          .map(StatefulOps.Hashed("a", _)) ++
          Seq(StatefulOps.Hashed("b", mix(7))): _*)
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_cm").as[StatefulOps.CmOut].collect()
      // replay through the shared cmCol family on the driver. Cell
      // counts are commutative, so the FINAL matrix is order-
      // independent even though per-arrival estimates are not — all
      // assertions below compare against that order-free truth.
      val arrivalsA = noise ++ Seq(x, x, x, x, x)
      def finalCells(hs: Seq[Long]): Array[Long] = {
        val cnts = new Array[Long](4 * 64)
        hs.foreach { h =>
          (0 until 4).foreach { r =>
            cnts(r * 64 + graft.functions.SigAgg.cmCol(r.toLong, h, 64)) += 1
          }
        }
        cnts
      }
      def estOf(cnts: Array[Long], h: Long): Long =
        (0 until 4).map(r =>
          cnts(r * 64 + graft.functions.SigAgg.cmCol(r.toLong, h, 64))).min
      val cellsA = finalCells(arrivalsA)
      val aRows = rows.filter(_.key == "a")
      // one emission per arrival
      assert(aRows.length == arrivalsA.length)
      assert(aRows.count(_.h == x) == 5)
      val xEsts = aRows.filter(_.h == x).map(_.est)
      // estimates never under-count the running total: the k-th
      // emission for x (in estimate order) is >= k, and every estimate
      // is bounded by the order-free final-state estimate (bit-parity
      // with the shared batch family)
      assert(xEsts.sorted.zipWithIndex.forall { case (e, i) => e >= i + 1 })
      assert(xEsts.forall(_ <= estOf(cellsA, x)))
      assert(estOf(cellsA, x) >= 5L)
      // every emitted estimate for every item respects the final bound
      assert(aRows.forall(r => r.est <= estOf(cellsA, r.h)))
      // sparse key exact: 2 items in 256 cells — the min over 4 rows
      // survives any partial collision, so estimates are exact counts
      val cellsB = finalCells(Seq(mix(7), mix(8), mix(7)))
      assert(estOf(cellsB, mix(7)) == 2L && estOf(cellsB, mix(8)) == 1L)
      val bEsts = rows.filter(_.key == "b").map(r => (r.h, r.est))
      assert(bEsts.filter(_._1 == mix(7)).map(_._2).sorted.toSeq == Seq(1L, 2L))
      assert(bEsts.filter(_._1 == mix(8)).map(_._2).toSeq == Seq(1L))
    }
  }

  test("transformWithState histogram quantiles: sketch state, batch-rule parity (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[StatefulOps.Valued]
      val q = StatefulOps.histQuantileTws(mem.toDS(), width = 10.0)
        .writeStream
        .format("memory").queryName("tws_hist")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: values 1..10 for key a -> median in bucket [0,10)
        mem.addData((1 to 10).map(i =>
          StatefulOps.Valued("a", i, i.toDouble)): _*)
        q.processAllAvailable()
        // batch 2 arrives out of order: a tail of large values shifts
        // p90 into [90,100) while p50 moves to [10,20) — the histogram
        // is a commutative monoid, arrival order is immaterial
        mem.addData(((11 to 19) ++ Seq(95)).map(i =>
          StatefulOps.Valued("a", 100 + i, i.toDouble)): _*)
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_hist").as[StatefulOps.HistOut].collect()
      // latest emission per pct (n = 20 identifies the second batch)
      val last = rows.filter(_.n == 20L).map(o => o.pct -> (o.lo, o.hi)).toMap
      // 20 values 1..19 + 95: rank rule ceil(50*20/100)=10 -> value 10,
      // bucket [10,20); ceil(90*20/100)=18 -> value 18, bucket [10,20)
      assert(last(50L) == ((10.0, 20.0)))
      assert(last(90L) == ((10.0, 20.0)))
      // the batch-1 emission saw 1..10: median bucket [0,10)
      val first = rows.filter(_.n == 10L).map(o => o.pct -> o.lo).toMap
      assert(first(50L) == 0.0)
      assert(first(90L) == 0.0)
    }
  }

  test("stream-static enrich broadcasts the dimension per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("dim_id", "tier")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.enrich(
        mem.toDF().toDF("user_id", "event"), dim, "user_id", "dim_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((1L, "click"), (3L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enriched")
      .select("user_id", "tier").as[(Long, Option[String])].collect().toSet
    assert(rows == Set((1L, Some("gold")), (3L, None)))
  }

  test("foreachBatch incremental upsert maintains a merged snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    var snapshot = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v")
    val mem = MemoryStream[(Long, String, Double)]
    val q = mem.toDF().toDF("k", "s", "v").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the standard streaming-merge pattern: apply each micro-batch as
        // a delta over the running snapshot
        snapshot = graft.operators.Merge.upsert(snapshot, batch, "k")
          .localCheckpoint() // cut lineage so snapshots don't chain forever
      }
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((2L, "B", 20.0), (3L, "c", 3.0))
      q.processAllAvailable()
      mem.addData((1L, "A", 10.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = snapshot.as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "A", 10.0), (2L, "B", 20.0), (3L, "c", 3.0)))
  }

  test("transformWithState sessions close via event-time timers (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[Keyed]
      val gapUs = 1800L * 1000000 // 30 min
      val q = StatefulOps.sessionsTws(mem.toDS(), gapUs).writeStream
        .format("memory").queryName("tws_sessions")
        .outputMode(OutputMode.Append).start()
      try {
        val h = 3600L * 1000000
        // key a: two events 10 min apart -> one session
        mem.addData(Keyed("a", 1, h), Keyed("a", 2, h + 600L * 1000000))
        q.processAllAvailable()
        // far-future event pushes the watermark past a's session + gap
        mem.addData(Keyed("b", 3, 10 * h))
        q.processAllAvailable()
        // one more batch so the expired timer fires with the new watermark
        mem.addData(Keyed("b", 4, 10 * h + 1))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_sessions")
        .as[StatefulOps.SessionOut].collect()
        .map(s => (s.key, s.start_us, s.end_us, s.n)).toSet
      assert(got.contains(("a", 3600000000L, 4200000000L, 2L)),
        s"session for 'a' not emitted: $got")
    }
  }

  test("lshNearDupStream checkpoint restart: the banding index survives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("lsh_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("lsh_out").toString
    val mem = MemoryStream[StreamDoc]
    def start() = StatefulOps
      .lshNearDupStream(mem.toDF(), "doc_id", "text", threshold = 0.5)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    val dupText = "state that must survive a restart of the streaming query here"
    withRocksDb {
      val q1 = start()
      try {
        mem.addData(StreamDoc(1, dupText))
        q1.processAllAvailable()
      } finally q1.stop()
      // restart from the checkpoint: doc 1's signature must still be in
      // the recovered state store for doc 2 to match against
      val q2 = start()
      try {
        mem.addData(StreamDoc(2, dupText))
        q2.processAllAvailable()
      } finally q2.stop()
      val hits = spark.read.parquet(out).as[StatefulOps.NearDupHit]
        .collect()
      assert(hits.nonEmpty, "index lost across restart")
      assert(hits.forall(h => h.new_id == 2L && h.seen_id == 1L))
    }
  }

  test("checkpoint restart: state survives, seen keys are not re-emitted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ckpt_out").toString
    val mem = MemoryStream[Keyed]
    // file sink: the production path that actually supports restart
    def start() = StatefulOps.firstSeen(mem.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()

    val q1 = start()
    try {
      mem.addData(Keyed("a", 1, 1000000), Keyed("b", 2, 1100000))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(out).count() == 2)

    // restart against the SAME checkpoint: "a" is already in state and
    // must not re-emit; only the new key "c" appends
    val q2 = start()
    try {
      mem.addData(Keyed("a", 3, 1200000), Keyed("c", 4, 1300000))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(out).as[Keyed].collect()
      .map(k => (k.key, k.id)).toSet
    assert(got == Set(("a", 1L), ("b", 2L), ("c", 4L)),
      s"state not recovered: $got")
  }

  test("state store data source: checkpointed state is batch-readable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("ssr").toString
    val out = java.nio.file.Files.createTempDirectory("ssr_out").toString
    val mem = MemoryStream[Keyed]
    val q = StatefulOps.firstSeen(mem.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Keyed("a", 1, 1000000), Keyed("b", 2, 1100000))
      q.processAllAvailable()
    } finally q.stop()
    // ops capability: inspect the live keyed state offline (debugging a
    // stuck pipeline, auditing state size) without touching the stream
    val state = spark.read.format("statestore").load(ckpt)
    assert(state.count() == 2)
    val keys = state.selectExpr("key.value AS k").as[String].collect().toSet
    assert(keys == Set("a", "b"), s"state keys: $keys")
  }

  test("streaming content dedup keys on the text fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val q = StatefulOps.dedupStreamByContent(
        mem.toDF().toDF("text", "ts_us"), "text", tsCol = "ts_us")
      .writeStream.format("memory").queryName("cdd")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(("same doc body", 1000000L), ("same doc body", 2000000L),
        ("different body", 1500000L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("cdd")
    assert(rows.count() == 2)
    // the survivor set is by CONTENT: one fp per distinct text
    assert(rows.select("fp").distinct().count() == 2)
  }

  test("streamingQuota admits at most n per key across batches (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[(Long, String)]
      val q = StatefulOps.streamingQuota(
          mem.toDF().toDF("id", "src"), "id", "src", n = 2)
        .writeStream.format("memory").queryName("squota")
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData((1L, "a"), (2L, "a"), (3L, "b"))
        q.processAllAvailable()
        // the cap must hold across micro-batches, not just within one
        mem.addData((4L, "a"), (5L, "b"), (6L, "b"))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("squota").as[StatefulOps.FpIn].collect()
      val bySrc = out.groupBy(_.shard).view.mapValues(_.map(_.id).sorted.toSeq).toMap
      assert(bySrc("a") == Seq(1L, 2L), s"src a: ${bySrc("a")}")
      assert(bySrc("b") == Seq(3L, 5L), s"src b: ${bySrc("b")}")
    }
  }

  test("bloomDedupTws: no duplicate ever emitted, novels pass (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[StreamDoc]
      val q = StatefulOps.bloomDedupTws(mem.toDF(), "doc_id", "text")
        .writeStream.format("memory").queryName("bloomdedup")
        .outputMode(OutputMode.Append).start()
      val a = "first unique document body"
      val b = "second distinct body of text"
      val c = "third novel content entirely"
      try {
        mem.addData(StreamDoc(1, a), StreamDoc(2, b))
        q.processAllAvailable()
        // duplicate content arrives batches later: the mask remembers
        mem.addData(StreamDoc(3, a))
        q.processAllAvailable()
        mem.addData(StreamDoc(4, c), StreamDoc(5, b))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("bloomdedup").as[StatefulOps.FpIn].collect()
      // never a duplicate fingerprint in the output (the hard guarantee)
      assert(out.map(_.fp).distinct.length == out.length)
      // at this tiny load FPP ~ 0: exactly the three first-seen docs pass
      assert(out.map(_.id).sorted.toSeq == Seq(1L, 2L, 4L))
    }
  }

  test("streaming funnel: completion, in-key deadline fail, timer eviction fail") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StatefulOps.{TypedEv, FunnelOut}
    val stages = Seq("view", "cart", "buy")
    val M = 60L * 1000000 // one minute in us
    val mem = MemoryStream[TypedEv]
    val q = StatefulOps.streamingFunnel(mem.toDS(), stages,
      deadlineUs = 10 * M, watermark = "1 minute").writeStream
      .format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        // u1 completes within deadlines (out of order in the batch)
        TypedEv("u1", "buy", 8 * M), TypedEv("u1", "view", 1 * M),
        TypedEv("u1", "cart", 4 * M),
        // u2 reaches cart, then its next event blows the 10-min deadline
        TypedEv("u2", "view", 1 * M), TypedEv("u2", "cart", 3 * M),
        // u3 skips cart: stuck at stage 1 forever
        TypedEv("u3", "view", 2 * M), TypedEv("u3", "buy", 5 * M))
      q.processAllAvailable()
      // u2's late event: observed in-key, fails the funnel
      mem.addData(TypedEv("u2", "buy", 30 * M))
      q.processAllAvailable()
      // watermark push far ahead: u3's timer fires and evicts as failed
      mem.addData(TypedEv("wm", "view", 300 * M))
      q.processAllAvailable()
      mem.addData(TypedEv("wm2", "view", 600 * M))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("funnel").as[FunnelOut].collect()
      .groupBy(_.key).view.mapValues(_.toSeq).toMap
    assert(out("u1") == Seq(FunnelOut("u1", 3, true, 7 * M)))
    assert(out("u2").head.completed == false && out("u2").head.stage_reached == 2)
    assert(out.contains("u3") && out("u3").head.stage_reached == 1 &&
      !out("u3").head.completed)
  }

  test("transformWithState Misra-Gries: bounded state, containment guarantee (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val k = 4
      // key a: 'hot' appears 120 times among 300 rows (freq > n/(k+1) =
      // 60 — MUST survive); 60 distinct cold items appear 3x each,
      // delivered across two batches
      val cold = (1 to 60).flatMap(i => Seq.fill(3)(s"cold$i"))
      val aItems = new scala.util.Random(7)
        .shuffle((Seq.fill(120)("hot") ++ cold).toList)
      val mem = MemoryStream[StatefulOps.KeyedItem]
      val q = StatefulOps.misraGriesTws(mem.toDS(), k).writeStream
        .format("memory").queryName("tws_mg")
        .outputMode(OutputMode.Update).start()
      var afterB1 = 0L
      try {
        mem.addData(aItems.take(150).map(StatefulOps.KeyedItem("a", _)) ++
          Seq(StatefulOps.KeyedItem("b", "x")): _*)
        q.processAllAvailable()
        afterB1 = spark.table("tws_mg").count()
        mem.addData(aItems.drop(150).map(StatefulOps.KeyedItem("a", _)) ++
          Seq(StatefulOps.KeyedItem("b", "x")): _*)
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_mg").as[StatefulOps.MgOut].collect()
      // the FINAL sketch = rows emitted by the second batch only (the
      // memory sink appends update rows in batch order)
      val fin = rows.drop(afterB1.toInt)
      val lastA = fin.filter(_.key == "a")
        .map(o => o.item -> o.cnt_lb).toMap
      // bounded state: at most k counters after 61 distinct items
      assert(lastA.size <= k)
      // containment guarantee: the true heavy hitter is present, with a
      // lower-bound count no greater than its true frequency
      assert(lastA.contains("hot") && lastA("hot") <= 120L)
      // b: two batches of the same single item accumulate exactly
      val lastB = rows.filter(_.key == "b").last
      assert(lastB.item == "x" && lastB.cnt_lb == 2L)
    }
  }

  test("sessions split on gap WITHIN one micro-batch (no timer between bursts)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val mem = MemoryStream[Keyed]
      val gapUs = 1800L * 1000000 // 30 min
      val h = 3600L * 1000000
      val q = StatefulOps.sessionsTws(mem.toDS(), gapUs).writeStream
        .format("memory").queryName("tws_sessions_split")
        .outputMode(OutputMode.Append).start()
      try {
        // two bursts SIX HOURS apart arrive in the SAME batch: folding
        // them into one span (the pre-fix behavior) would emit a single
        // 7-hour "session" spanning a 6-hour silence
        mem.addData(Keyed("a", 1, h), Keyed("a", 2, h + 600L * 1000000),
          Keyed("a", 3, 7 * h), Keyed("a", 4, 7 * h + 60L * 1000000))
        q.processAllAvailable()
        // advance the watermark past both sessions' close points
        mem.addData(Keyed("b", 5, 20 * h))
        q.processAllAvailable()
        mem.addData(Keyed("b", 6, 20 * h + 1))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_sessions_split")
        .as[StatefulOps.SessionOut].collect()
        .filter(_.key == "a")
        .map(s => (s.start_us, s.end_us, s.n)).toSet
      assert(got == Set((h, h + 600L * 1000000, 2L),
        (7 * h, 7 * h + 60L * 1000000, 2L)),
        s"one-batch bursts must split into two sessions: $got")
    }
  }

  test("firstSeen keeps a recently-active key (event-anchored, refreshed eviction)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Keyed]
    val q = StatefulOps.firstSeen(mem.toDS()).writeStream
      .format("memory").queryName("first_seen_hot")
      .outputMode(OutputMode.Append).start()
    try {
      // MODERN timestamps: the pre-fix arm point was
      // watermark-at-first-sight + 1h, which in batch 1 is EPOCH + 1h —
      // the key was evicted on the first real watermark advance and its
      // next arrival re-emitted as a duplicate "first"
      val T = 1000L * 3600L * 1000000 // 1000 hours, in micros
      val m = 60L * 1000000
      mem.addData(Keyed("a", 1, T))
      q.processAllAvailable()
      mem.addData(Keyed("f", 2, T + 30 * m)) // watermark -> T - 30 min
      q.processAllAvailable()
      mem.addData(Keyed("a", 3, T + 31 * m)) // 31 min later: within horizon
      q.processAllAvailable()
    } finally q.stop()
    val aRows = spark.table("first_seen_hot").as[Keyed].collect()
      .filter(_.key == "a").map(_.id).toSeq
    assert(aRows == Seq(1L),
      s"recently-active key re-emitted as a duplicate first: $aRows")
  }

  test("funnel timer is event-anchored: an on-time next stage still completes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StatefulOps.{TypedEv, FunnelOut}
    val mem = MemoryStream[TypedEv]
    val m = 60L * 1000000
    val T = 1000L * 3600L * 1000000
    // deadline 5 min, watermark 10 min
    val q = StatefulOps.streamingFunnel(mem.toDS(), Seq("s1", "s2"),
        deadlineUs = 5 * m, watermark = "10 minutes").writeStream
      .format("memory").queryName("funnel_anchor")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(TypedEv("x", "s1", T))
      q.processAllAvailable()
      // other-key traffic pushes the watermark to T + 2 min — BELOW
      // x's deadline (T + 5 min): the pre-fix watermark-anchored timer
      // fired here and committed a spurious failure
      mem.addData(TypedEv("y", "s1", T + 12 * m))
      q.processAllAvailable()
      // x's on-time stage-2 event (T + 4 min, above the watermark)
      mem.addData(TypedEv("x", "s2", T + 4 * m))
      q.processAllAvailable()
      mem.addData(TypedEv("y", "s2", T + 13 * m))
      q.processAllAvailable()
    } finally q.stop()
    val xRows = spark.table("funnel_anchor").as[FunnelOut].collect()
      .filter(_.key == "x").map(r => (r.stage_reached, r.completed)).toSet
    assert(xRows == Set((2L, true)),
      s"expected only x's completion, got $xRows")
  }
}

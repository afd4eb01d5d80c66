package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Dedup, Graph, Spatial}
import graft.functions.{GraftFunctions, XFormulas}
import graft.functions.XFormulas._
import graft.queries.Shared._

/** Spatial, graph and layout queries: radius/kNN joins, DBSCAN, PageRank,
  * BFS, k-core, z-order/Hilbert keys, zone maps and data skipping
  * (`operators.Spatial`, `operators.Graph`, `sources.VersionedTable`). */
object SpatialGraphQueries {

  /** Orders clustered one file per order-year into a VersionedTable
    * with manifest zone-map stats AND per-file o_orderkey Bloom filters
    * (q_skip_stats / q_skip_read / q_skip_bloom's shared build). The
    * year list is a bounded-domain collect — ≤10 values, the same
    * driver-side contract as a k-means codebook — and the rebuild is
    * deterministic: an OVERWRITE first commit resets the latest
    * version's content regardless of prior runs. Built ONCE per harness
    * run (memoized per dir): the three consumers read the same table.
    *
    * FIXTURE ONLY: the repartition(1)-per-year loop exists to pin
    * exactly one file per year so the specs can count skips — a
    * single-task write per partition value must NOT be copied into a
    * production path; the scale-safe form of this table is ONE
    * `df.write.partitionBy("year")` (parallel within every year) with
    * the same statCols/bloomCols manifest commit. */
  private[graft] def skipTable(s: SparkSession, dir: String): String =
    memoFixture("skip_shared", dir) { path =>
      val orders = t(s, dir, "orders")
      val years = orders.selectExpr("year(o_orderdate) AS y").distinct()
        .orderBy("y").collect().map(_.getInt(0)).toSeq
      years.zipWithIndex.foreach { case (y, i) =>
        graft.sources.VersionedTable.commit(
          orders.filter(expr(s"year(o_orderdate) = $y")).repartition(1),
          path, if (i == 0) "overwrite" else "append",
          statCols = Seq("o_orderdate", "o_totalprice"),
          bloomCols = Seq("o_orderkey"))
      }
      path
    }

  val all: Seq[QuerySpec] = Seq(
    // ----- z-order layout key: interleave the low 10 bits of two join
    // dimensions — the space-filling-curve sort key that keeps BOTH
    // columns' locality in one file order (data-layout optimization for
    // multi-column pruning) -----
    QuerySpec("q_zorder_key", (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("x", expr("l_orderkey % 1024"))
        .withColumn("y", expr("l_partkey % 1024"))
        // statically unrolled bit interleave: a flat 20-term integer
        // expression stays entirely in whole-stage codegen (the HOF fold
        // form allocated a per-row array and ran ~4x slower)
        .withColumn("z", expr((0 until 10).map(b =>
          s"((x >> $b) & 1) * ${1L << (2 * b)}L + " +
            s"((y >> $b) & 1) * ${1L << (2 * b + 1)}L").mkString(" + ")))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          col("z")),
      """SELECT l_orderkey, l_linenumber, x, y,
                  CAST(list_sum(list_transform(range(0, 10), b ->
                    ((x >> b) & 1) * (1::BIGINT << (2 * b)) +
                    ((y >> b) & 1) * (1::BIGINT << (2 * b + 1)))) AS BIGINT) AS z
           FROM (SELECT l_orderkey, l_linenumber,
                        l_orderkey % 1024 AS x, l_partkey % 1024 AS y
                 FROM lineitem)
           ORDER BY z, l_orderkey, l_linenumber LIMIT 100"""),

    // ----- HILBERT layout key — the locality-stronger sibling of
    // q_zorder_key: consecutive keys are ALWAYS adjacent cells (unit
    // Manhattan step, proven exhaustively in HilbertSpec), where z-order
    // takes long diagonal jumps at power-of-2 seams — fewer row-group
    // boundaries straddled per range scan. Ten statically-unrolled
    // rotate-and-accumulate levels (XFormulas.hilbert*: all-integer CASE
    // fragments shared verbatim with the oracle), a pure narrow map in
    // whole-stage codegen. -----
    QuerySpec("q_hilbert_key", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("l_orderkey % 1024").as("x"),
          expr("l_partkey % 1024").as("y"))
        .withColumn("h", GraftFunctions.hilbert(col("x"), col("y"), 10))
        .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          col("h")),
      {
        // the same XFormulas.hilbert* fragments, stacked as CTE levels
        val n = 1024
        val levels = (0 until 10).map { i =>
          val s2 = n >> (i + 1)
          s"""h${i + 1} AS (SELECT l_orderkey, l_linenumber, ox, oy,
             ${XFormulas.hilbertX(s2, n)} AS x,
             ${XFormulas.hilbertY(s2, n)} AS y,
             ${XFormulas.hilbertD(s2)} AS d FROM h$i)"""
        }.mkString(",\n           ")
        s"""WITH h0 AS (SELECT l_orderkey, l_linenumber,
             l_orderkey % 1024 AS ox, l_partkey % 1024 AS oy,
             l_orderkey % 1024 AS x, l_partkey % 1024 AS y,
             CAST(0 AS BIGINT) AS d FROM lineitem),
           $levels
           SELECT l_orderkey, l_linenumber, ox AS x, oy AS y, d AS h
           FROM h10 ORDER BY h, l_orderkey, l_linenumber LIMIT 100"""
      }),

    // ----- LAYOUT PRUNABILITY COMPARISON — the design readout that
    // justifies q_hilbert_key over q_zorder_key with a NUMBER: sort the
    // same rows by each key, cut into 256-row "row groups", keep each
    // group's (x, y) zone map, and count groups a reference box query
    // (x,y each in a 100-wide band) cannot skip. Hilbert's unit-step
    // locality ⇒ tighter bounding boxes ⇒ fewer groups scanned for the
    // same rows returned. All-integer zone maps; the exact matching-row
    // count rides along as the invariant both layouts must serve. -----
    QuerySpec("q_layout_compare", (s, dir) => {
      // both keys are native codegen'd maps (the chained-Project hilbert
      // form costs seconds of Janino compilation per plan shape that
      // inlines it — HilbertKey is one static call per row)
      val keyed = Dedup.persistTracked(t(s, dir, "lineitem")
        .select(expr("l_orderkey % 1024").as("x"),
          expr("l_partkey % 1024").as("y"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("z", expr((0 until 10).map(b =>
          s"((x >> $b) & 1) * ${1L << (2 * b)}L + " +
            s"((y >> $b) & 1) * ${1L << (2 * b + 1)}L").mkString(" + ")))
        .withColumn("h", GraftFunctions.hilbert(col("x"), col("y"), 10)))
      // global rank WITHOUT a single-partition window: the two-phase
      // range-partitioned rank, now factored into plans.ParallelRank
      // (this query was the shape's prototype). (key, okey, lnum) is a
      // total order, so the rank — and the oracle hash — is independent
      // of where the sampled range boundaries land.
      def zones(key: String, layout: String) = {
        graft.plans.ParallelRank.rowNumber(keyed, "grn", 32,
            col(key), col("l_orderkey"), col("l_linenumber"))
          .withColumn("chunk", expr("(grn - 1) DIV 256"))
          .groupBy(col("chunk"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("x")).as("xmin"), max(col("x")).as("xmax"),
            min(col("y")).as("ymin"), max(col("y")).as("ymax"))
          .select(lit(layout).as("layout"), col("n_rows"),
            expr("CASE WHEN xmin <= 199 AND xmax >= 100 AND " +
              "ymin <= 399 AND ymax >= 300 THEN 1L ELSE 0L END").as("hit"))
      }
      val match_rows = keyed.filter(
        expr("x BETWEEN 100 AND 199 AND y BETWEEN 300 AND 399"))
        .agg(count(lit(1)).as("n_match"))
      zones("z", "zorder").union(zones("h", "hilbert"))
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("hit")).as("n_hit_chunks"),
          sum(when(col("hit") === 1L, col("n_rows")).otherwise(0L))
            .as("rows_scanned"))
        .crossJoin(broadcast(match_rows))
    },
      {
        val n = 1024
        val zSql = (0 until 10).map(b =>
          s"((ox >> $b) & 1) * (1::BIGINT << ${2 * b}) + " +
            s"((oy >> $b) & 1) * (1::BIGINT << ${2 * b + 1})").mkString(" + ")
        val levels = (0 until 10).map { i =>
          val s2 = n >> (i + 1)
          s"""h${i + 1} AS (SELECT okey, lnum, ox, oy,
             ${XFormulas.hilbertX(s2, n)} AS x,
             ${XFormulas.hilbertY(s2, n)} AS y,
             ${XFormulas.hilbertD(s2)} AS d FROM h$i)"""
        }.mkString(",\n           ")
        def zone(key: String, layout: String) =
          s"""(SELECT '$layout' AS layout, COUNT(*) AS n_rows,
             CASE WHEN MIN(ox) <= 199 AND MAX(ox) >= 100 AND
                       MIN(oy) <= 399 AND MAX(oy) >= 300 THEN 1 ELSE 0 END AS hit
           FROM (SELECT ox, oy, (ROW_NUMBER() OVER (ORDER BY $key, okey, lnum) - 1) // 256 AS chunk
                 FROM keyed)
           GROUP BY chunk)"""
        s"""WITH h0 AS (SELECT l_orderkey AS okey, l_linenumber AS lnum,
             l_orderkey % 1024 AS ox, l_partkey % 1024 AS oy,
             l_orderkey % 1024 AS x, l_partkey % 1024 AS y,
             CAST(0 AS BIGINT) AS d FROM lineitem),
           $levels,
           keyed AS (SELECT okey, lnum, ox, oy,
             CAST($zSql AS BIGINT) AS z, d AS h FROM h10),
           m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_match FROM keyed
                 WHERE ox BETWEEN 100 AND 199 AND oy BETWEEN 300 AND 399),
           u AS (SELECT * FROM ${zone("z", "zorder")}
                 UNION ALL SELECT * FROM ${zone("h", "hilbert")})
           SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                  CAST(SUM(hit) AS BIGINT) AS n_hit_chunks,
                  CAST(SUM(CASE WHEN hit = 1 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
                  n_match
           FROM u CROSS JOIN m GROUP BY layout, n_match"""
      }),

    // ----- triangle count on the near-dup candidate graph (ordered-edge
    // join-chain — the standard distributed formulation) -----
    QuerySpec("q_triangles", (s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_a").as("a"), col("doc_b").as("b")) // a < b
      val ab = cand
      val bc = cand.select(col("a").as("b2"), col("b").as("c"))
      val ac = cand.select(col("a").as("a3"), col("b").as("c3"))
      ab.join(bc, col("b") === col("b2"))
        .join(ac, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
    },
      s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           SELECT COUNT(*) AS n_triangles
           FROM cand ab
           JOIN cand bc ON ab.b = bc.a
           JOIN cand ac ON ab.a = ac.a AND bc.b = ac.b"""),

    // ----- SHARD BALANCE PLAN: assign docs to 8 fixed shards by
    // sorted-round-robin (heaviest first, shard = (rank−1) mod 8 — the
    // classic LPT-style greedy a deterministic assignment allows) and
    // read out per-shard bytes plus the imbalance ratio vs perfect —
    // the "will one worker finish last" sizing readout before a fixed
    // fan-out export/training job. The global rank over (size, id) is
    // the two-phase range-partitioned rank (plans.ParallelRank) — the
    // same shape a production shard writer uses at scale. -----
    QuerySpec("q_shard_plan", (s, dir) => {
      val sharded = graft.plans.ParallelRank.rowNumber(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "rank", 32, col("n_chars").desc, col("doc_id"))
        .withColumn("shard", expr("(rank - 1) % 8"))
      val per = sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val tot = per.agg(sum(col("bytes")).as("tb"))
      per.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("bytes"),
          expr("CAST(8 * bytes AS DOUBLE) / tb").as("load_vs_perfect"))
    },
      """WITH r AS (SELECT doc_id, n_chars,
                  ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank
                 FROM documents),
           p AS (SELECT (rank - 1) % 8 AS shard,
                        CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(SUM(n_chars) AS BIGINT) AS bytes
                 FROM r GROUP BY (rank - 1) % 8),
           t AS (SELECT CAST(SUM(bytes) AS BIGINT) AS tb FROM p)
           SELECT shard, n_docs, bytes,
                  CAST(8 * bytes AS DOUBLE) / tb AS load_vs_perfect
           FROM p CROSS JOIN t"""),

    // ----- PageRank over the near-dup candidate graph: bounded
    // fixed-point BIGINT rounds (IEEE double sums are order-dependent
    // and can never hash-match across engines or even reruns; integer
    // sums are exact), undirected edges emitted both ways -----
    QuerySpec("q_pagerank", (s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      // both directions in one pass (see the explode note in Dedup.clusters)
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("doc_a"), col("doc_b").as("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
      Graph.pagerank(edges, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
    },
      {
        // 3 unrolled fixed-point rounds — integer ops only, so the
        // BIGINT ranks are bit-identical to Graph.pagerank's
        val rounds = (1 to 3).map { i =>
          s"""r$i AS (SELECT n.id,
                (15 * 1000000000000) // (100 * (SELECT n_nodes FROM nn)) +
                (85 * coalesce(m.s, 0)) // 100 AS rank_fx
              FROM r${i - 1} n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.rank_fx // d.outdeg) AS BIGINT) AS s
                FROM edges e JOIN deg d ON e.src = d.src
                JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst) m
              ON n.id = m.dst)"""
        }.mkString(",\n")
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
           r0 AS (SELECT id, 1000000000000 // (SELECT n_nodes FROM nn) AS rank_fx FROM nodes),
           $rounds
           SELECT id AS doc_id, rank_fx,
                  CAST(rank_fx AS DOUBLE) / 1000000000000.0 AS pagerank
           FROM r3"""
      }),

    // ----- PERSONALIZED PageRank: teleport mass returns to a SEED set
    // (doc_id % 50 == 0), so rank = proximity to the seeds — the
    // random-walk-with-restart primitive; same exact fixed-point BIGINT
    // arithmetic as q_pagerank, seeds ride as a broadcast flag -----
    QuerySpec("q_pagerank_seed", (s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("doc_a"), col("doc_b").as("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
      val seeds = t(s, dir, "documents")
        .filter(col("doc_id") % 50 === 0).select(col("doc_id"))
      Graph.personalizedPagerank(edges, "doc_a", "doc_b", seeds, "doc_id")
        .withColumnRenamed("id", "doc_id")
    },
      {
        // 3 unrolled fixed-point rounds with SEED-restricted teleport —
        // bit-identical to Graph.personalizedPagerank
        val rounds = (1 to 3).map { i =>
          s"""p$i AS (SELECT n.id, n.is_seed,
                (n.is_seed * 15 * 1000000000000) // (100 * (SELECT n_seeds FROM ns)) +
                (85 * coalesce(m.s, 0)) // 100 AS rank_fx
              FROM p${i - 1} n LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.rank_fx // d.outdeg) AS BIGINT) AS s
                FROM edges e JOIN deg d ON e.src = d.src
                JOIN p${i - 1} r ON e.src = r.id GROUP BY e.dst) m
              ON n.id = m.dst)"""
        }.mkString(",\n")
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           nodes AS (SELECT DISTINCT src AS id FROM edges),
           seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
           ns AS (SELECT COUNT(*) AS n_seeds FROM seeds),
           p0 AS (SELECT n.id,
                    CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
                    (CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END
                      * 1000000000000) // (SELECT n_seeds FROM ns) AS rank_fx
                  FROM nodes n LEFT JOIN seeds s ON n.id = s.id),
           $rounds
           SELECT id AS doc_id, rank_fx,
                  CAST(rank_fx AS DOUBLE) / 1000000000000.0 AS ppr
           FROM p3"""
      }),

    // ----- LINK PREDICTION on the candidate graph: common-neighbor
    // count + resource-allocation score (fixed-point 1e9 div deg, exact
    // BIGINT sums — order-independent like q_pagerank's arithmetic) for
    // the top not-yet-linked pairs. Wedges enumerate through their
    // CENTER with a hub cap, so one viral node cannot go quadratic -----
    QuerySpec("q_link_predict", (s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      Graph.linkPredict(cand, "doc_a", "doc_b",
        maxHubDegree = 1000L, topK = 20)
    },
      // wedge enumeration through the center, fixed-point RA weights
      // (1e9 // deg — exact integer division both sides), hub cap 1000,
      // existing edges anti-joined away, total-order top-20 cut
      s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id),
           sym AS (SELECT doc_a AS u, doc_b AS v FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
           deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
           adj AS (SELECT s.u AS z, s.v AS n, 1000000000 // d.deg AS wz
                   FROM sym s JOIN deg d ON s.u = d.u
                   WHERE d.deg <= 1000),
           w AS (SELECT l.n AS a, r.n AS b, l.wz FROM adj l
                 JOIN adj r ON l.z = r.z AND l.n < r.n),
           sc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common,
                         CAST(SUM(wz) AS BIGINT) AS ra_score_fx
                  FROM w GROUP BY a, b)
           SELECT a AS doc_a, b AS doc_b, common, ra_score_fx
           FROM sc WHERE NOT EXISTS (SELECT 1 FROM sym
                                     WHERE sym.u = sc.a AND sym.v = sc.b)
           ORDER BY ra_score_fx DESC, a, b LIMIT 20"""),

    // ----- multi-source BFS over the same near-dup candidate graph:
    // min hop distance from the seed docs (doc_id % 97 == 0), 4 bounded
    // frontier rounds — "how far does influence of these documents
    // propagate through the duplicate graph" -----
    QuerySpec("q_graph_bfs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
        .select("doc_a", "doc_b")
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("doc_a"), col("doc_b").as("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("src"), col("e.doc_b").as("dst"))
      val seeds = docs.filter(col("doc_id") % 97 === 0)
      Graph.bfsHops(edges, "src", "dst", seeds, "doc_id", maxHops = 4)
        .withColumnRenamed("id", "doc_id")
    },
      {
        // 4 unrolled BFS rounds; expanding only the previous round's
        // frontier (hop = i-1) mirrors Graph.bfsHops exactly, and the
        // min(hop) fold makes full-expansion and frontier forms equal
        val rounds = (1 to 4).map { i =>
          s"""h$i AS (SELECT id, MIN(hop) AS hop FROM (
                SELECT id, hop FROM h${i - 1}
                UNION ALL
                SELECT e.dst AS id, f.hop + 1 AS hop
                FROM h${i - 1} f JOIN edges e ON e.src = f.id
                WHERE f.hop = ${i - 1}) u GROUP BY id)"""
        }.mkString(",\n")
        s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
           h0 AS (SELECT doc_id AS id, 0 AS hop FROM documents WHERE doc_id % 97 = 0),
           $rounds
           SELECT id AS doc_id, CAST(hop AS BIGINT) AS hop FROM h4"""
      }),

    // ----- near-dup candidate graph DEGREE DISTRIBUTION: how connected
    // is the dup graph (mega-cluster early warning) — one narrow explode
    // + two aggregations, no self-join -----
    QuerySpec("q_degree_dist", (s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      cand.select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    },
      s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           deg AS (SELECT id, COUNT(*) AS degree FROM (
                     SELECT doc_a AS id FROM cand
                     UNION ALL SELECT doc_b AS id FROM cand)
                   GROUP BY id)
           SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree"""),

    // ----- parquet ROW-GROUP layout audit: per-group rows/chunks/bytes
    // read from footers only (executors open footers, never data pages —
    // a 100 TB layout audit costs one metadata read per file, fanned out
    // over the cluster). Oracle: DuckDB's parquet_metadata() on the SAME
    // footers — two independent parquet implementations agreeing on the
    // physical layout -----
    QuerySpec("q_parquet_meta", (s, dir) =>
      graft.sources.ParquetMeta.rowGroups(s,
          Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet"))
        .select(col("file_name"), col("row_group_id"), col("n_rows"),
          col("n_chunks"), col("compressed_bytes"),
          col("uncompressed_bytes")),
      // SCALE-PORTABLE: __SF_DIR__ is substituted with the sweep's
      // actual data directory when Verify dumps oracle_sql.json, so
      // both engines always read the SAME footers at any scale factor
      // (parquet_metadata needs a raw path; the table views cannot
      // carry one)
      """SELECT file_name, row_group_id, row_group_num_rows AS n_rows,
                  COUNT(*) AS n_chunks,
                  CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_bytes,
                  CAST(SUM(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes
           FROM (
             SELECT 'lineitem.parquet' AS file_name, row_group_id,
                    row_group_num_rows, total_compressed_size,
                    total_uncompressed_size
             FROM parquet_metadata('__SF_DIR__/lineitem.parquet')
             UNION ALL
             SELECT 'orders.parquet', row_group_id, row_group_num_rows,
                    total_compressed_size, total_uncompressed_size
             FROM parquet_metadata('__SF_DIR__/orders.parquet'))
           GROUP BY file_name, row_group_id, row_group_num_rows"""),

    // ----- MANIFEST ZONE MAPS (VersionedTable data skipping): orders
    // committed one immutable file per order-year with per-file
    // min/max/null stats recorded as manifest `# stat` lines; this
    // readout is the STORED metadata itself (zero data I/O after the
    // build) plus each file's prunability under a one-year reference
    // predicate. The oracle recomputes the same numbers from the raw
    // table grouped by year — the stats a 100 TB reader would trust
    // for file skipping must agree exactly with the data they
    // describe -----
    QuerySpec("q_skip_stats", (s, dir) => {
      val path = skipTable(s, dir)
      graft.sources.VersionedTable.fileStatsDf(s, path)
        .filter(col("col") === "o_orderdate")
        .select(col("n_rows"),
          expr("CAST(min_v AS BIGINT)").as("min_us"),
          expr("CAST(max_v AS BIGINT)").as("max_us"))
        .withColumn("may_96",
          col("min_us") < expr("unix_micros(timestamp'1997-01-01 00:00:00')") &&
            col("max_us") >= expr("unix_micros(timestamp'1996-01-01 00:00:00')"))
    },
      // the stored per-file zone maps vs the data they describe: one
      // file per order-year, so DuckDB recomputes per-year bounds
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                  epoch_us(MIN(o_orderdate)) AS min_us,
                  epoch_us(MAX(o_orderdate)) AS max_us,
                  (epoch_us(MIN(o_orderdate)) < epoch_us(TIMESTAMP '1997-01-01')
                   AND epoch_us(MAX(o_orderdate)) >= epoch_us(TIMESTAMP '1996-01-01')) AS may_96
           FROM orders GROUP BY year(o_orderdate)"""),

    // ----- DATA-SKIPPING READ: the same per-year clustered table
    // served through VersionedTable.readWhere — the manifest stats
    // prune six of the seven files BEFORE the scan is planned
    // (VersionedTableSkipSpec pins the file counts), and the exact
    // filter still applies, so the result is identical to a full scan
    // by construction. The oracle is the predicate over the raw table:
    // hash-equality here proves pruning never changed semantics, while
    // at 100 TB it changes the denominator — O(matching files) read
    // instead of O(table) -----
    QuerySpec("q_skip_read", (s, dir) => {
      val path = skipTable(s, dir)
      val pred = expr(
        "o_orderdate >= timestamp'1996-01-01 00:00:00' AND " +
          "o_orderdate < timestamp'1997-01-01 00:00:00' AND " +
          "o_totalprice > 150000.0D")
      graft.sources.VersionedTable.readWhere(s, path, pred)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("double").as("total"))
    },
      // the pruned read must equal the raw-table predicate exactly
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
             AND o_totalprice > 150000.0e0
           GROUP BY o_orderpriority"""),

    // ----- BLOOM-PRUNED POINT LOOKUP: the same year-clustered table,
    // but the predicate is an o_orderkey IN-list — the
    // right-to-be-forgotten / targeted-audit shape. Order keys
    // INTERLEAVE across the year files, so the min/max zone maps span
    // everything and prune NOTHING; the per-file manifest Bloom filters
    // (no false negatives) prove absence and cut the read to the files
    // that may hold the keys (VersionedTableSkipSpec pins the skip
    // counts and the conservatism contract). The oracle is the raw
    // predicate: pruning must never change semantics -----
    QuerySpec("q_skip_bloom", (s, dir) => {
      val path = skipTable(s, dir)
      graft.sources.VersionedTable.readWhere(s, path,
        col("o_orderkey").isin(3L, 777L, 1337L))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
    },
      // the bloom-pruned point lookup must equal the raw IN predicate
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey IN (3, 777, 1337)"""),

    // ----- SPATIAL RADIUS SELF-JOIN via grid bucketing: deterministic
    // planar coordinates derived from customer keys, all pairs within
    // r=25 on a 1000x1000 plane. The naive plan is O(n^2); the grid
    // plan is ONE equi-shuffle on the cell key with a constant 3x3
    // probe fan-out, then an exact integer-squared-distance verify on
    // candidates only (Spatial.radiusJoin's scaladoc carries the
    // 100 TB argument). The oracle IS the naive all-pairs filter —
    // hash-equality proves the neighborhood join misses nothing -----
    QuerySpec("q_spatial_join", (s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.radiusJoin(pts, "id", "x", "y", radius = 25L, cell = 50L)
    },
      // the naive quadratic truth the grid join must reproduce — shared
      // by the batch operator and the streaming gate's cumulative table
      spatialPairsTruth),

    // ----- SPATIAL DENSITY / hotspot audit: points per grid cell and
    // the k-or-more flag — both a standalone spatial aggregation and
    // the skew auditor behind q_spatial_join's cell-size choice -----
    QuerySpec("q_spatial_density", (s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.density(pts, "x", "y", cell = 50L, hotspotAt = 8L)
    },
      """WITH p AS (SELECT (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer)
           SELECT x // 50 AS cx, y // 50 AS cy,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  COUNT(*) >= 8 AS hotspot
           FROM p GROUP BY x // 50, y // 50"""),

    // ----- BIPARTITE radius join (points-to-facilities): customers
    // within r of a supplier — same one-shuffle grid mechanics, no
    // self-join ordering -----
    QuerySpec("q_spatial_near", (s, dir) => {
      val cust = t(s, dir, "customer").selectExpr(
        "c_custkey AS cid",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      val supp = t(s, dir, "supplier").selectExpr(
        "s_suppkey AS sid",
        "(s_suppkey * 53) % 1000 AS x",
        "(s_suppkey * 17) % 1000 AS y")
      Spatial.radiusJoinWith(cust, "cid", "x", "y",
          supp, "sid", "x", "y", radius = 25L, cell = 50L)
        .withColumnRenamed("id_l", "cid").withColumnRenamed("id_r", "sid")
    },
      """WITH c AS (SELECT c_custkey AS cid, (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer),
           s AS (SELECT s_suppkey AS sid, (s_suppkey * 53) % 1000 AS x,
                        (s_suppkey * 17) % 1000 AS y FROM supplier)
           SELECT c.cid, s.sid,
                  CAST((c.x - s.x) * (c.x - s.x)
                     + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2
           FROM c JOIN s ON (c.x - s.x) * (c.x - s.x)
                          + (c.y - s.y) * (c.y - s.y) <= 625"""),

    // ----- NEAREST FACILITY: each customer's single nearest supplier
    // within r (rank window per customer, ties by supplier id) -----
    QuerySpec("q_spatial_nearest", (s, dir) => {
      val cust = t(s, dir, "customer").selectExpr(
        "c_custkey AS cid",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      val supp = t(s, dir, "supplier").selectExpr(
        "s_suppkey AS sid",
        "(s_suppkey * 53) % 1000 AS x",
        "(s_suppkey * 17) % 1000 AS y")
      Spatial.nearestWithin(cust, "cid", "x", "y",
          supp, "sid", "x", "y", radius = 50L, cell = 50L, k = 1)
        .select(col("id_l").as("cid"), col("id_r").as("sid"),
          col("dist2"))
    },
      """WITH c AS (SELECT c_custkey AS cid, (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer),
           s AS (SELECT s_suppkey AS sid, (s_suppkey * 53) % 1000 AS x,
                        (s_suppkey * 17) % 1000 AS y FROM supplier),
           nb AS (SELECT c.cid, s.sid,
                         CAST((c.x - s.x) * (c.x - s.x)
                            + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2
                  FROM c JOIN s ON (c.x - s.x) * (c.x - s.x)
                                 + (c.y - s.y) * (c.y - s.y) <= 2500)
           SELECT cid, sid, dist2 FROM (
             SELECT cid, sid, dist2, row_number() OVER (
               PARTITION BY cid ORDER BY dist2, sid) AS rk FROM nb)
           WHERE rk = 1"""),

    // ----- SPATIAL kNN JOIN, radius-bounded: k nearest neighbors per
    // point among those within r. The radius bound is the exactness
    // contract — it confines candidates to the 3x3 grid neighborhood
    // (unbounded kNN has no exhaustive fixed neighborhood); the rank
    // window is PARTITIONED by point id, never global -----
    QuerySpec("q_spatial_knn", (s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.knnWithin(pts, "id", "x", "y", radius = 25L, cell = 50L,
        k = 3)
    },
      // naive truth: all neighbors within r, rank per point, keep k
      """WITH p AS (SELECT c_custkey AS id, (c_custkey * 37) % 1000 AS x,
                             (c_custkey * 91) % 1000 AS y FROM customer),
           nb AS (SELECT a.id AS id, b.id AS nbr,
                         CAST((a.x - b.x) * (a.x - b.x)
                            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
                  FROM p a JOIN p b ON a.id <> b.id
                  WHERE (a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y) <= 625)
           SELECT id, nbr, dist2, knn_rank FROM (
             SELECT id, nbr, dist2,
                    CAST(row_number() OVER (PARTITION BY id
                      ORDER BY dist2, nbr) AS BIGINT) AS knn_rank
             FROM nb) WHERE knn_rank <= 3"""),

    // ----- DBSCAN, made deterministic: clusters = connected components
    // of the core-point eps-graph (true CC via star contraction — the
    // oracle's recursive reachability closure is round-count-free, so
    // only a TRUE CC matches it), borders attach to the MIN neighboring
    // core cluster, noise gets -1. The eps-graph is the grid radius
    // join — at no stage does anything all-pairs run -----
    QuerySpec("q_spatial_dbscan", (s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      Spatial.dbscan(pts, "id", "x", "y", eps = 30L, minPts = 5L)
    },
      // naive truth: quadratic eps-graph, recursive reachability
      // closure over core-core edges (MIN reachable core = cluster),
      // min-label border attachment, -1 noise
      """WITH RECURSIVE p AS (SELECT c_custkey AS id,
                    (c_custkey * 37) % 1000 AS x,
                    (c_custkey * 91) % 1000 AS y FROM customer),
           nb AS (SELECT a.id AS id, b.id AS nbr FROM p a JOIN p b
                  ON a.id <> b.id
                  WHERE (a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y) <= 900),
           core AS (SELECT id FROM (
                      SELECT p.id, COALESCE(c.n, 0) + 1 AS n FROM p
                      LEFT JOIN (SELECT id, COUNT(*) AS n FROM nb
                                 GROUP BY id) c USING (id))
                    WHERE n >= 5),
           ce AS (SELECT n.id AS src, n.nbr AS dst FROM nb n
                  JOIN core a ON n.id = a.id JOIN core b ON n.nbr = b.id),
           reach AS (SELECT id, id AS r FROM core
                     UNION
                     SELECT e.src AS id, reach.r FROM ce e
                     JOIN reach ON e.dst = reach.id),
           lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
           brd AS (SELECT n.id, MIN(l.cluster) AS cluster FROM nb n
                   JOIN lab l ON n.nbr = l.id
                   WHERE n.id NOT IN (SELECT id FROM core)
                   GROUP BY n.id)
           SELECT id, 'core' AS role, CAST(cluster AS BIGINT) AS cluster
           FROM lab
           UNION ALL
           SELECT id, 'border', CAST(cluster AS BIGINT) FROM brd
           UNION ALL
           SELECT p.id, 'noise', CAST(-1 AS BIGINT) FROM p
           WHERE p.id NOT IN (SELECT id FROM lab)
             AND p.id NOT IN (SELECT id FROM brd)"""),

    // ----- k-CORE of the near-dup candidate graph: nodes surviving 3
    // peel rounds of degree ≥ 2 — the "dense duplication community"
    // detector (a doc in the 2-core shares content with ≥2 docs that
    // each share with ≥2 others; boilerplate families, not chance
    // pairs). Bounded rounds, integer counting, per-round lineage cuts
    // — see Graph.kcore -----
    QuerySpec("q_kcore", (s, dir) => {
      val cand = Dedup.minhashCandidates(
        t(s, dir, "documents"), "doc_id", "text").select("doc_a", "doc_b")
      val edges = cand.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.kcore(edges, "src", "dst", k = 2, rounds = 3)
        .withColumnRenamed("id", "doc_id")
    },
      // 3 unrolled peel rounds — pure integer counting, bit-identical
      // to Graph.kcore's bounded peel
      s"""$minhashCtes,
           cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                    FROM buckets a JOIN buckets b
                      ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id),
           e0 AS (SELECT a AS src, b AS dst FROM cand
                  UNION ALL SELECT b, a FROM cand),
           k1 AS (SELECT src FROM e0 GROUP BY src HAVING COUNT(*) >= 2),
           e1 AS (SELECT e.src, e.dst FROM e0 e
                  JOIN k1 s ON e.src = s.src JOIN k1 d ON e.dst = d.src),
           k2 AS (SELECT src FROM e1 GROUP BY src HAVING COUNT(*) >= 2),
           e2 AS (SELECT e.src, e.dst FROM e1 e
                  JOIN k2 s ON e.src = s.src JOIN k2 d ON e.dst = d.src),
           k3 AS (SELECT src FROM e2 GROUP BY src HAVING COUNT(*) >= 2),
           e3 AS (SELECT e.src, e.dst FROM e2 e
                  JOIN k3 s ON e.src = s.src JOIN k3 d ON e.dst = d.src)
           SELECT src AS doc_id, COUNT(*) AS deg FROM e3 GROUP BY src"""),

    // ----- ZONE-MAP pruning stats: per l_orderkey range zone, the
    // min/max/count needed for data skipping plus each zone's
    // prunability under a reference predicate — the layout diagnostic
    // behind parquet row-group / Z-order skipping. One aggregation;
    // the zone key is a pure projection of the clustering column -----
    QuerySpec("q_zone_map", (s, dir) => {
      t(s, dir, "lineitem")
        .selectExpr("l_orderkey div 1500 AS zone",
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c",
          "l_shipdate")
        .groupBy(col("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("price_c")).as("min_price_c"),
          max(col("price_c")).as("max_price_c"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .withColumn("prunable_price_gt_5000",
          col("max_price_c") <= lit(500000L))
    },
      """SELECT l_orderkey // 1500 AS zone, COUNT(*) AS n_rows,
                  MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS min_price_c,
                  MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS max_price_c,
                  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
                  MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    <= 500000 AS prunable_price_gt_5000
           FROM lineitem GROUP BY 1"""),

    // ----- SCAN-SPLIT PLANNING readout: how a maxPartitionBytes-style
    // coalescer packs each source's docs (ordered by doc_id, exclusive
    // prefix-sum of bytes, split = floor(prefix / target)) — the
    // small-files diagnosis a compaction job is sized from: splits per
    // source, files per split, bytes per split. Pure window arithmetic,
    // one shuffle on source. -----
    QuerySpec("q_scan_plan", (s, dir) => {
      val target = 4096L
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("prefix", coalesce(
          sum(col("n_chars")).over(Window.partitionBy(col("source"))
            .orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        // integer division (`div`), NOT double-divide-then-cast: Spark's
        // double→long cast truncates while DuckDB's rounds — div/`//`
        // are exact and identical in both engines
        .withColumn("split_id", expr(s"prefix div $target"))
        .groupBy(col("source"), col("split_id"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_chars")).as("split_chars"))
    },
      s"""WITH p AS (SELECT source, doc_id, n_chars,
                   coalesce(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
            FROM documents)
           SELECT source, CAST(prefix // 4096 AS BIGINT) AS split_id,
                  COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS split_chars
           FROM p GROUP BY source, prefix // 4096""")
  )
}

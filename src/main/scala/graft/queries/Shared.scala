package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.DecimalType

import graft.functions.XFormulas._
import graft.sources.Tables

/** What two or more query families share: table access, the exact
  * decimal sums, per-dir fixture paths and their one memo, and the
  * oracle CTE builders.
  *
  * Numeric discipline: double-typed aggregates are computed by summing
  * exact DECIMAL(18,2) casts and casting the exact result back to DOUBLE,
  * on BOTH sides, so Spark and DuckDB produce bit-identical doubles
  * regardless of summation order (float sums are order-dependent; decimal
  * sums are exact and associative).
  *
  * The DuckDB twins are generated from the same XFormulas primitives as
  * the Spark side (same hashes, same fold order, same IEEE expression
  * trees — bit-identical by construction).
  */
object Shared {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact decimal cast of a double column (inputs have <=2 decimals). */
  private[queries] def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Order-insensitive exact sum of a double column, returned as double. */
  private[queries] def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** The fixture directory `/tmp/graft_<name>_<dir>` of one sf dir, with
    * every non-alphanumeric character of `dir` replaced by `_`. */
  private[queries] def fixturePath(name: String, dir: String): String =
    s"/tmp/graft_${name}_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** [[fixturePath]], wiped first: batch-id-keyed exactly-once state from
    * a PRIOR harness run would otherwise short-circuit a gate query into
    * returning that run's bytes. */
  private[queries] def freshFixture(name: String, dir: String): String = {
    val path = fixturePath(name, dir)
    freshFixtureDir(path)
    path
  }

  private val built = new java.util.concurrent.ConcurrentHashMap[String, Any]

  /** Build the fixture at [[fixturePath]] once per JVM: the first caller
    * runs `build(path)`, every later caller gets its result. */
  private[queries] def memoFixture[T](name: String, dir: String)(
      build: String => T): T =
    built.computeIfAbsent(fixturePath(name, dir), p => build(p))
      .asInstanceOf[T]

  /** Recursively delete a /tmp fixture directory (fixtures only — never
    * point this at data). */
  private[graft] def freshFixtureDir(path: String): Unit = {
    require(path.startsWith("/tmp/graft_"), s"not a fixture dir: $path")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  private[queries] val stop = duckStopHits("toks")

  // shared candidate-generation CTE chain for the shingle family
  private[queries] val shingleCtes =
    s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
         sh AS (SELECT doc_id, list_distinct(${duckShingles("toks", 3)}) AS shingles FROM tk),
         hs AS (SELECT doc_id, ${duckWordHashes("shingles")} AS hs FROM sh)"""

  private[queries] val minhashCtes =
    s"""$shingleCtes,
         sigs AS (SELECT doc_id, ${duckMinhash("hs", 12)} AS mh FROM hs),
         buckets AS (SELECT doc_id, mh, band, ${duckBandBucket("mh", "band", 3)} AS bucket
                     FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands)"""

  // the all-pairs planar radius truth (the q_spatial_join oracle; the
  // streaming gate's cumulative pair table must reproduce it too)
  private[queries] val spatialPairsTruth =
    """WITH p AS (SELECT c_custkey AS id, (c_custkey * 37) % 1000 AS x,
                           (c_custkey * 91) % 1000 AS y FROM customer)
         SELECT a.id AS id_a, b.id AS id_b,
                CAST((a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
         FROM p a JOIN p b ON a.id < b.id
         WHERE (a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y) <= 625"""

  // naive-scan exact-substring truth: ALL 30-grams of every doc,
  // matched by content, grouped into maximal diagonal runs — the
  // brute formulation of Dedup.duplicatedSubstrings' reduction.
  // `where` restricts the corpus (the streaming gate's slice).
  private[queries] def substrRunCtes(where: String) =
    s"""WITH g AS (
           SELECT doc_id, pos, substr(text, CAST(pos AS INT), 30) AS gram
           FROM (SELECT doc_id, text,
                 unnest(generate_series(1, length(text) - 29)) AS pos
                 FROM documents$where)),
         m AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.pos AS pa, b.pos AS pb
           FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         r AS (
           SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
                  pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                          ORDER BY pa) AS isl
           FROM m),
         runs AS (
           SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
                  CAST(COUNT(*) + 29 AS BIGINT) AS len
           FROM r GROUP BY doc_a, doc_b, diag, isl)"""

  // unrolled Lloyd k-means rounds (the label-propagation trick),
  // shared by the learned-IVF and SemDeDup oracles: assignN = nearest
  // centroid by squared-L2 with ties to the lowest cell; centroid
  // update = floor-quantized 1e-12 BIGINT per-position mean cast back
  // to DOUBLE (order- AND engine-independent — the IVF-PQ oracle
  // consumes centroid VALUES, not just assignments); empty
  // cells inherit the previous centroid via COALESCE. The chain ends
  // at c2 (the 2-round codebook) and cc (the final assignment).
  private[queries] def kmAssign(cents: String, alias: String, filter: String) =
    s"""$alias AS (SELECT vec_id, v, cell FROM (
            SELECT d.vec_id, d.v, i.cell,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id
                     ORDER BY ${duckSqDist("i.c", "d.v", 64)}, i.cell) AS rn
            FROM dv d CROSS JOIN $cents i) WHERE rn = 1$filter)"""

  private[queries] def kmUpdate(assigned: String, prev: String, alias: String) =
    s"""${alias}s AS (SELECT cell, j AS pos,
              CAST(SUM(CAST(floor(v[j] * 1e12) AS BIGINT)) AS DOUBLE)
                / COUNT(*) / 1e12 AS cv
            FROM $assigned CROSS JOIN (SELECT unnest(range(1, 65)) AS j) js
            GROUP BY cell, j),
          $alias AS (SELECT i.cell, COALESCE(n.c, i.c) AS c
            FROM $prev i LEFT JOIN (SELECT cell, list(cv ORDER BY pos) AS c
                                    FROM ${alias}s GROUP BY cell) n
              ON i.cell = n.cell)"""

  private[queries] val kmeansChain =
    s"""dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                        embedding FROM embeddings),
         init AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                  FROM dv ORDER BY vec_id LIMIT 8),
         ${kmAssign("init", "a1", "")},
         ${kmUpdate("a1", "init", "c1")},
         ${kmAssign("c1", "a2", "")},
         ${kmUpdate("a2", "c1", "c2")},
         ${kmAssign("c2", "cc", "")}"""
}

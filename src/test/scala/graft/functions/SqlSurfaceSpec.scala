package graft.functions

import org.apache.spark.sql.functions.col

import graft.athenaeum.SparkSpec
import graft.operators.Dedup
import graft.sources.Tables

/** End-user SQL ergonomics: a complete MinHash-LSH candidate pipeline
  * written in PURE SQL against the registered graft_* functions must
  * produce exactly the candidate set of the library's DataFrame path —
  * proof that the extension surface is usable from `spark.sql` alone
  * (a BI tool, a notebook, a SQL gateway), not only from Scala.
  */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("null array elements on the SQL surface null-skip, never crash") {
    // array_intersect semantics: a NULL element never counts toward the
    // overlap, and never NPEs the sort inside the merge
    val r = spark.sql(
      """SELECT
        |  graft_set_overlap(array('a', CAST(NULL AS STRING), 'b'),
        |                    array('b', 'a')) AS o_str,
        |  graft_set_overlap(array(1L, CAST(NULL AS BIGINT), 2L),
        |                    array(2L, 3L)) AS o_long,
        |  graft_top_count(array('x', CAST(NULL AS STRING), 'x')) AS top
        |""".stripMargin).collect().head
    assert(r.getLong(0) == 2L, "string overlap should skip the null")
    assert(r.getLong(1) == 1L, "long overlap should skip the null")
    assert(r.getLong(2) == 2L, "top count should skip the null")
  }

  test("MinHash-LSH candidates in pure SQL == Dedup.minhashCandidates") {
    Tables(spark, dir, "documents").createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      """WITH sigs AS (
        |  SELECT doc_id, graft_minhash(graft_shingles(text, 3), 12) AS mh
        |  FROM docs_sql
        |),
        |buckets AS (
        |  SELECT doc_id, mh, band, graft_bandbucket(mh, band, 3) AS bucket
        |  FROM sigs LATERAL VIEW explode(sequence(0L, 3L)) AS band
        |)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM buckets a JOIN buckets b
        |  ON a.band = b.band AND a.bucket = b.bucket
        | AND a.doc_id < b.doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val df = Dedup.minhashCandidates(
      Tables(spark, dir, "documents"), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sql == df,
      s"only-sql=${(sql -- df).take(5)} only-df=${(df -- sql).take(5)}")
  }

  test("char-ngram MinHash candidates in pure SQL == Dedup.charMinhashCandidates") {
    Tables(spark, dir, "documents").createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      """WITH sigs AS (
        |  SELECT doc_id, graft_minhash_longs(
        |    array_distinct(graft_char_shingle_hashes(text, 6)), 12) AS mh
        |  FROM docs_sql
        |),
        |buckets AS (
        |  SELECT doc_id, mh, band, graft_bandbucket(mh, band, 3) AS bucket
        |  FROM sigs LATERAL VIEW explode(sequence(0L, 3L)) AS band
        |)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM buckets a JOIN buckets b
        |  ON a.band = b.band AND a.bucket = b.bucket
        | AND a.doc_id < b.doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val df = Dedup.charMinhashCandidates(
      Tables(spark, dir, "documents"), "doc_id", "text", n = 6)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sql == df,
      s"only-sql=${(sql -- df).take(5)} only-df=${(df -- sql).take(5)}")
  }

  test("Bloom novelty ingest in pure SQL == Bloom.noveltyFilter") {
    import graft.operators.Bloom
    val m = 1 << 16; val k = 5
    val docs = Tables(spark, dir, "documents")
    docs.createOrReplaceTempView("docs_sql")
    // positionsSql is plain Spark SQL: the whole mask-build + membership
    // pipeline runs from spark.sql alone (set-bit table in place of the
    // driver-built long[] mask; the exact anti join removes the FPP
    // sliver exactly as the Column path does)
    val posFp = Bloom.positionsSql("fp", m, k)
    val sql = spark.sql(
      s"""WITH fps AS (
         |  SELECT doc_id, source, graft_polyhash(text) AS fp FROM docs_sql
         |),
         |base AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 != 0),
         |bits AS (SELECT DISTINCT explode($posFp) AS pos FROM base),
         |ing AS (
         |  SELECT doc_id, fp, explode($posFp) AS pos
         |  FROM fps WHERE doc_id % 3 = 0
         |),
         |pass AS (
         |  SELECT i.doc_id, i.fp,
         |         min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS ok
         |  FROM ing i LEFT JOIN bits b ON i.pos = b.pos
         |  GROUP BY i.doc_id, i.fp
         |)
         |SELECT doc_id FROM pass WHERE ok = 0
         |UNION ALL
         |SELECT doc_id FROM pass
         |WHERE ok = 1 AND fp NOT IN (SELECT fp FROM base)""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    val fp = docs.withColumn("fp",
      GraftFunctions.polyHash(col("text")))
    val df = Bloom.noveltyFilter(
      fp.filter(col("doc_id") % 3 === 0), "fp",
      fp.filter(col("doc_id") % 3 =!= 0).select(col("fp").as("base_fp")),
      "base_fp", m, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sql == df,
      s"only-sql=${(sql -- df).take(5)} only-df=${(df -- sql).take(5)}")
  }
}

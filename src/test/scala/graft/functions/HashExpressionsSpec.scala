package graft.functions

import org.apache.spark.sql.functions.{col, expr}
import graft.athenaeum.SparkSpec
import graft.functions.XFormulas._
import graft.sources.Tables

/** The native codegen'd expressions must be BIT-IDENTICAL to the SQL
  * higher-order-function formulations (XFormulas) — the DuckDB oracle
  * runs the latter, so any drift here silently breaks the correctness
  * gate. Checked over the full sf0.001 documents/embeddings tables. */
class HashExpressionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("PolyHash == HOF rolling hash on every document") {
    val docs = Tables(spark, dir, "documents")
    val mismatch = docs.select(
      GraftFunctions.polyHash(col("text")).as("native"),
      expr(sparkStrHash("text")).as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
  }

  test("MinHashSig == HOF minhash on every document") {
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"${sparkTokens("text")} AS toks")
      .selectExpr("doc_id", s"array_distinct(${sparkShingles("toks", 3)}) AS shingles")
    val mismatch = docs.select(
      GraftFunctions.minhashSig(col("shingles"), 12).as("native"),
      expr(s"${sparkMinhash(sparkWordHashes("shingles"), 12)}").as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
  }

  test("SimHash32 == HOF simhash on every document") {
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"${sparkTokens("text")} AS toks")
      .selectExpr("doc_id", s"array_distinct(${sparkShingles("toks", 3)}) AS shingles")
    val mismatch = docs.select(
      GraftFunctions.simhash32(col("shingles")).as("native"),
      expr(s"${sparkSimhash(sparkWordHashes("shingles"))}").as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
  }

  test("SimSig == HOF hyperplane signature on every embedding") {
    val e = Tables(spark, dir, "embeddings")
    val mismatch = e.select(
      GraftFunctions.simSig(col("embedding"), 8).as("native"),
      expr(sparkSimSig("embedding", 8, 64)).as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
  }

  test("IvfCell == HOF argmax-dot cell on every embedding") {
    val e = Tables(spark, dir, "embeddings")
    val mismatch = e.select(
      GraftFunctions.ivfCell(col("embedding"), 16).as("native"),
      expr(sparkIvfCell(sparkIvfScores("embedding", 16, 64))).as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
  }

  test("CosineSim bit-equals the HOF cosine on embedding pairs") {
    val e = Tables(spark, dir, "embeddings").limit(50)
    val pairs = e.as("a").crossJoin(e.as("b"))
      .select(col("a.embedding").as("va"), col("b.embedding").as("vb"))
    val mismatch = pairs.select(
      GraftFunctions.cosineSim(col("va"), col("vb")).as("native"),
      expr(sparkCosine("va", "vb")).as("hof"))
      .filter("native <> hof") // bitwise double equality
    assert(mismatch.count() == 0)
  }

  test("Shingles == HOF tokenize+shingle+distinct chain on every document") {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(Seq((9001L, ""), (9002L, "one"), (9003L, "  two  tokens  "),
        (9004L, "a b c a b c")).toDF("doc_id", "text"))
    val mismatch = docs
      .withColumn("toks", expr(sparkTokens("text")))
      .select(
        GraftFunctions.shingles(col("text"), 3).as("native"),
        expr(s"array_distinct(${sparkShingles("toks", 3)})").as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
  }

  test("ShingleHashes == positional HOF hash chain on every document") {
    val docs = Tables(spark, dir, "documents")
    val mismatch = docs.select(
      GraftFunctions.shingleHashes(col("text"), 3).as("native"),
      expr(s"transform(${sparkShingles(sparkTokens("text"), 3)}, " +
        s"sg -> ${sparkStrHash("sg")})").as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
    // positional contract: duplicates kept (unlike Shingles)
    import spark.implicits._
    val rep = Seq(Tuple1("a b c x a b c")).toDF("text")
      .select(GraftFunctions.shingleHashes(col("text"), 3).as("h"))
      .selectExpr("size(h) AS n", "size(array_distinct(h)) AS nd")
      .head()
    assert(rep.getInt(0) == 5 && rep.getInt(1) == 4)
  }

  test("CharShingleHashes == substring HOF hash chain on every document") {
    val docs = Tables(spark, dir, "documents")
    // HOF twin: polyHash of each 6-char window of the lowercased text,
    // character-indexed substring — the form the DuckDB oracle runs
    val mismatch = docs.select(
      GraftFunctions.charShingleHashes(col("text"), 6).as("native"),
      expr("IF(length(text) < 6, array(), " +
        "transform(sequence(1L, length(lower(text)) - 5L), " +
        s"i -> ${sparkStrHash("substring(lower(text), CAST(i AS INT), 6)")}))")
        .as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
    // short-text contract: fewer chars than n yields an empty stream
    import spark.implicits._
    val short = Seq(Tuple1("abc")).toDF("text")
      .select(GraftFunctions.charShingleHashes(col("text"), 6).as("h"))
      .selectExpr("size(h) AS n").head()
    assert(short.getInt(0) == 0)
  }

  test("MinHashLongs == HOF minhash over precomputed hashes (incl. empty)") {
    val docs = Tables(spark, dir, "documents")
    val frames = docs.selectExpr(
      s"array_distinct(${sparkWordHashes(sparkTokens("text"))}) AS hs")
    val bad = frames.select(
      GraftFunctions.minhashLongs(col("hs"), 12).as("native"),
      expr(sparkMinhash("hs", 12)).as("hof"))
      .filter("native <> hof")
    assert(bad.count() == 0)
    // empty hash stream: degenerate all-zeros signature on both forms
    import spark.implicits._
    val empty = Seq(Tuple1(Seq.empty[Long])).toDF("hs")
      .select(GraftFunctions.minhashLongs(col("hs"), 12).as("native"),
        expr(sparkMinhash("hs", 12)).as("hof"))
      .head()
    assert(empty.getSeq[Long](0).forall(_ == 0L))
    assert(empty.getSeq[Long](0) == empty.getSeq[Long](1))
  }

  test("BandBucket == HOF band bucket for every (doc, band)") {
    val sigs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", s"${sparkTokens("text")} AS toks")
      .selectExpr("doc_id", s"array_distinct(${sparkShingles("toks", 3)}) AS shingles")
      .select(col("doc_id"), GraftFunctions.minhashSig(col("shingles"), 12).as("mh"))
      .selectExpr("doc_id", "mh", "explode(sequence(0L, 3L)) AS band")
    val mismatch = sigs.select(
      GraftFunctions.bandBucket(col("mh"), col("band"), 3).as("native"),
      expr(sparkBandBucket("mh", "band", 3)).as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
  }

  test("short docs (0/1/2 tokens) yield empty shingles, zero signatures") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "one"), (3L, "just two"), (4L, "now three tokens"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", s"${sparkTokens("text")} AS toks")
      .selectExpr("doc_id", s"array_distinct(${sparkShingles("toks", 3)}) AS shingles")
    val rows = docs.select(
      col("doc_id"), col("shingles"),
      GraftFunctions.minhashSig(col("shingles"), 12).as("native"),
      expr(s"${sparkMinhash(sparkWordHashes("shingles"), 12)}").as("hof"),
      GraftFunctions.simhash32(col("shingles")).as("nsim"),
      expr(s"${sparkSimhash(sparkWordHashes("shingles"))}").as("hsim"))
      .collect().sortBy(_.getLong(0))
    rows.take(3).foreach { r =>
      assert(r.getSeq[String](1).isEmpty, s"doc ${r.getLong(0)}: expected no shingles")
      assert(r.getSeq[Long](2).forall(_ == 0L), "native minhash must be zeros")
      assert(r.getSeq[Long](3).forall(_ == 0L), "HOF minhash must be zeros")
      assert(r.getLong(4) == 0L && r.getLong(5) == 0L, "simhash must be 0")
    }
    assert(rows(3).getSeq[String](1).length == 1)
    assert(rows(3).getSeq[Long](2) == rows(3).getSeq[Long](3))
  }

  test("Tokens == HOF filter(split(lower)) on every document") {
    val docs = Tables(spark, dir, "documents")
    val mismatch = docs.select(
      GraftFunctions.tokens(col("text")).as("native"),
      expr(sparkTokens("text")).as("hof"))
      .filter("native <> hof")
    assert(mismatch.count() == 0)
    // edge cases: empty, all-space, leading/trailing/multi-space
    import spark.implicits._
    val edges = Seq("", "   ", " a  b ", "A B", "x").toDF("t")
      .select(GraftFunctions.tokens(col("t")).as("native"),
        expr(sparkTokens("t")).as("hof"))
      .filter("native <> hof")
    assert(edges.count() == 0)
  }

  test("SetOverlap == size(array_intersect) on real shingle pairs, both element types") {
    val sh = Tables(spark, dir, "documents").select(
      col("doc_id"),
      GraftFunctions.shingles(col("text"), 3).as("sh"))
    val pairs = sh.select(col("doc_id").as("ida"), col("sh").as("a"))
      .crossJoin(sh.limit(20).select(col("doc_id").as("idb"), col("sh").as("b")))
    // string arrays
    val misStr = pairs.select(
      GraftFunctions.setOverlap(col("a"), col("b")).as("native"),
      expr("CAST(size(array_intersect(a, b)) AS BIGINT)").as("hof"))
      .filter("native <> hof")
    assert(misStr.count() == 0)
    // long arrays (hashed shingles)
    val misLong = pairs.selectExpr(
      "transform(a, s -> graft_polyhash(s)) AS ha",
      "transform(b, s -> graft_polyhash(s)) AS hb")
      .select(
        GraftFunctions.setOverlap(
          expr("array_distinct(ha)"), expr("array_distinct(hb)")).as("native"),
        expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)").as("hof"))
      .filter("native <> hof")
    assert(misLong.count() == 0)
  }

  test("SQL registration: graft_* functions usable from spark.sql") {
    Tables(spark, dir, "documents").createOrReplaceTempView("docs_reg")
    val r = spark.sql(
      """SELECT graft_polyhash(text) AS h,
                graft_simhash(array('a b c', 'b c d')) AS sh,
                graft_minhash(array('a b c'), 4) AS mh,
                graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cs
         FROM docs_reg LIMIT 1""").collect()(0)
    assert(r.getLong(0) >= 0 && r.getSeq[Long](2).length == 4)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
  }

  test("LzPhrases: hand-parsed LZ78 counts, repetition collapses") {
    import spark.implicits._
    // hand parses: 'aaaa' = a|aa|a -> 3; 'abab' = a|b|ab -> 3;
    // 'abcd' = 4 singletons; empty string -> 0 phrases
    val got = Seq("aaaa", "abab", "abcd", "")
      .toDF("s")
      .select(GraftFunctions.lzPhrases(col("s")).as("p"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 3L, 4L, 0L))
    // quality-signal property: same length, boilerplate vs varied text —
    // the repeated string collapses to less than half the phrases
    val rep = "spam ham " * 220
    val varied = (0 until 440).map(i => s"w${i * 7919 % 997}").mkString(" ")
    val Seq(pRep, pVar) = Seq(rep, varied).toDF("s")
      .select(GraftFunctions.lzPhrases(col("s")).as("p"))
      .collect().map(_.getLong(0)).toSeq
    assert(pRep * 2 < pVar, s"rep=$pRep varied=$pVar")
    // bound + SQL name over the real corpus: phrases never exceed bytes
    val docs = Tables(spark, dir, "documents")
    val viol = docs.selectExpr(
      "graft_lz_phrases(text) AS p",
      "CAST(octet_length(text) AS BIGINT) AS len")
      .filter("p > len OR (len > 0 AND p = 0)")
    assert(viol.count() == 0)
  }

  test("PqCodes == HOF pq encode on every embedding, float and double books") {
    val e = Tables(spark, dir, "embeddings")
    // float codebook (the untrained q_ann_pq shape)
    val cbF = e.filter("vec_id % 31 = 0 AND vec_id < 496")
      .agg(expr("transform(array_sort(collect_list(struct(vec_id, embedding))), s -> s.embedding)").as("cb"))
    val mmF = e.crossJoin(org.apache.spark.sql.functions.broadcast(cbF))
      .select(
        GraftFunctions.pqCodes(col("embedding"), col("cb"), 8, 16, 8).as("native"),
        expr(sparkPqCodes("embedding", "cb", 8, 16, 8)).as("hof"))
      .filter("native <> hof")
    assert(mmF.count() == 0)
    // double codebook (the trained q_ann_pq2 shape)
    val dv = e.selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS dv")
    val cbD = dv.filter("vec_id % 31 = 0 AND vec_id < 496")
      .agg(expr("transform(array_sort(collect_list(struct(vec_id, dv))), s -> s.dv)").as("cb"))
    val mmD = dv.crossJoin(org.apache.spark.sql.functions.broadcast(cbD))
      .select(
        GraftFunctions.pqCodes(col("dv"), col("cb"), 8, 16, 8).as("native"),
        expr(sparkPqCodes("dv", "cb", 8, 16, 8)).as("hof"))
      .filter("native <> hof")
    assert(mmD.count() == 0)
  }

  test("PqAdc == HOF asymmetric distance on every (query, candidate) pair") {
    val e = Tables(spark, dir, "embeddings")
    val cb = e.filter("vec_id % 31 = 0 AND vec_id < 496")
      .agg(expr("transform(array_sort(collect_list(struct(vec_id, embedding))), s -> s.embedding)").as("cb"))
    val enc = e.crossJoin(org.apache.spark.sql.functions.broadcast(cb))
      .select(col("vec_id"), col("embedding"), col("cb"),
        GraftFunctions.pqCodes(col("embedding"), col("cb"), 8, 16, 8).as("codes"))
    val qs = enc.filter("vec_id < 5").selectExpr("embedding AS qv")
    val mm = enc.limit(100).crossJoin(org.apache.spark.sql.functions.broadcast(qs))
      .select(
        GraftFunctions.pqAdc(col("qv"), col("codes"), col("cb"), 8, 8).as("native"),
        expr(sparkPqAdc("qv", "codes", "cb", 8, 8)).as("hof"))
      .filter("native <> hof") // EXACT double equality: fold orders match
    assert(mm.count() == 0)
  }

  test("literal inputs constant-fold at optimization time") {
    // deterministic + foldable children → Catalyst's ConstantFolding
    // evaluates the native expressions once on the driver; the optimized
    // plan must carry a Literal, not the expression
    val docs = Tables(spark, dir, "documents")
    val opt = docs.selectExpr("doc_id")
      .select(GraftFunctions.polyHash(
        org.apache.spark.sql.functions.lit("abc")).as("h"))
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("graft_polyhash"), s"not folded:\n$opt")
  }

  test("codegen path active: explain contains no fallback for the exprs") {
    val docs = Tables(spark, dir, "documents")
    val plan = docs.select(GraftFunctions.polyHash(col("text")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in executedPlan
    assert(plan.contains("*(1) Project [graft_polyhash"))
  }
}

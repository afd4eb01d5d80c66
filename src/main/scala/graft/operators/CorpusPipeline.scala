package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.XFormulas._

/** End-to-end training-corpus cleaning pipeline, composed from the
  * individual operators: language filter → quality gate → exact dedup
  * (keep lowest id) → near-dup candidate suppression (MinHash-LSH) →
  * fingerprinted survivors.
  *
  * Shape at 100 TB: stages 1-2 are narrow (no shuffle, codegen'd
  * expressions over the scan with pushdown-friendly predicates); stage 3
  * is one shuffle on the text hash (NOT the text itself — group on a
  * 64-bit fingerprint, verify within the group); stage 4 reuses the LSH
  * banding shuffle. Output is a small survivor table of (doc_id,
  * fingerprint, quality) — the payload text never shuffles at all.
  */
object CorpusPipeline {

  /** @return surviving docs: doc_id, fp, quality — English-ish, above
    *         the quality floor, exact-dedup winners, and not the higher
    *         id of any near-dup candidate pair. */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5): DataFrame = {
    // persist the slim scored projection: it feeds both the keeper agg
    // and the survivor join inside ONE plan — without the barrier the
    // scoring chain executes twice (same fix as cleanFull's gate)
    val scored = Dedup.persistTracked(docs
      .withColumn("toks", GraftFunctions.tokens(col(textCol)))
      .withColumn("stop_hits", expr(sparkStopHits("toks")))
      .withColumn("quality",
        expr("0.4 * least(CAST(size(toks) AS DOUBLE) / 50.0, 1.0) + " +
          "0.3 * (CAST(stop_hits AS DOUBLE) / nullif(size(toks), 0)) + " +
          "0.3 * (CAST(size(filter(toks, w -> length(w) <= 5)) AS DOUBLE) / nullif(size(toks), 0))"))
      .withColumn("fp", GraftFunctions.polyHash(col(textCol)))
      .filter(col("stop_hits") >= 1 && col("quality") >= minQuality)
      .select(col(idCol), col(textCol), col("fp"), col("quality")))

    // exact dedup on the fingerprint: group on 8 bytes, not the text
    val keepers = scored
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol))

    // persist: the survivor set feeds BOTH the near-dup candidate path
    // and the final select — without a barrier the whole scoring chain
    // recomputes per consumer (freed by the caller's Dedup.scoped).
    // The MinHash signature is computed HERE, while textCol is still in
    // scope, so candidate generation below reuses it instead of
    // re-joining docs and re-scanning the text (a full extra join+scan).
    val survivors = Dedup.persistTracked(scored
      .join(keepers, Seq("fp", idCol)) // semi: (fp, id) is the winner pair
      .select(col(idCol), col("fp"), col("quality"),
        GraftFunctions.minhashSig(
          GraftFunctions.shingles(col(textCol), 3), 12).as("mh")))

    // suppress the higher id of every near-dup candidate pair
    val losers = Dedup
      .candidatesFromSignatures(survivors, idCol)
      .select(col("doc_b").as(idCol)).distinct()
    survivors.join(losers, Seq(idCol), "left_anti")
      .select(col(idCol), col("fp"), col("quality"))
  }

  /** FULL production pipeline, composed from the round's operator set:
    * repetition-aware quality gate (per-rule thresholds) → benchmark
    * decontamination (5-gram hash overlap vs `bench`) → exact dedup on
    * the fingerprint → near-dup CLUSTER representatives (min-label
    * propagation). Returns (id, fp) survivors.
    *
    * Scale shape: the gate is narrow; decontamination shuffles 8-byte
    * n-gram hashes against a broadcast benchmark; exact dedup shuffles
    * fingerprints; LSH + label propagation run on the survivor set with
    * signatures computed in-scope. The payload text never shuffles in
    * any stage. */
  def cleanFull(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String): DataFrame =
    fullStages(docs, bench, idCol, textCol).deduped
      .select(col(idCol), col("fp"))

  /** The intermediate frames of [[cleanFull]], one per pipeline stage —
    * shared by the survivor query and the funnel audit so both run the
    * SAME plan shapes (persist barriers included). */
  private[operators] case class Stages(
      gated: DataFrame, clean: DataFrame, keepers: DataFrame,
      deduped: DataFrame)

  private[operators] def fullStages(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String): Stages = {
    import graft.functions.GraftFunctions
    // persist the slim survivor projection: the gate's repetition
    // scores (top_share is O(distinct x n) per doc) feed BOTH the
    // decontamination side and the dedup side — without the barrier the
    // whole scoring chain executes twice inside one plan
    val gated = Dedup.persistTracked(docs
      .withColumn("toks", GraftFunctions.tokens(col(textCol)))
      .withColumn("n_tokens", expr("size(toks)"))
      .withColumn("distinct_ratio", expr(
        "CAST(size(array_distinct(toks)) AS DOUBLE) / nullif(size(toks), 0)"))
      // native O(n) hash-count max — exact HOF/oracle value (TopTokenCount)
      .withColumn("top_share",
        GraftFunctions.topTokenCount(col("toks")).cast("double") /
          expr("nullif(size(toks), 0)"))
      .filter("n_tokens >= 20 AND n_tokens <= 90 AND " +
        "distinct_ratio >= 0.45 AND top_share <= 0.12")
      .withColumn("fp", GraftFunctions.polyHash(col(textCol)))
      .select(col(idCol), col(textCol), col("fp")))
    val contaminated = TextAnalysis
      .decontaminate(gated.select(col(idCol), col(textCol)), bench,
        idCol, textCol)
      .select(idCol)
    // persist: tiny id list, but its subtree (n-gram explode + benchmark
    // join) would otherwise re-execute once per downstream consumer.
    // shuffle_hash on the contaminated side (opt guide §3.1): the id
    // list is the contaminated FRACTION of the corpus — small per
    // partition at any scale — and the planner's estimate-driven
    // sort-merge was sorting the whole gated side to anti-join it
    // (round-11 measured: the SMJ here + the label join below cost
    // q_corpus_clean3 ~0.3 s of pure sort).
    val cleanDocs = Dedup.persistTracked(
      gated.join(contaminated.hint("shuffle_hash"), Seq(idCol),
        "left_anti"))
    val keepers = cleanDocs.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    val survivors = Dedup.persistTracked(cleanDocs
      .join(keepers, Seq("fp", idCol))
      .select(col(idCol), col("fp"),
        GraftFunctions.minhashSig(
          GraftFunctions.shingles(col(textCol), 3), 12).as("mh")))
    val pairs = Dedup.candidatesFromSignatures(survivors, idCol)
      .select(col("doc_a"), col("doc_b"))
    val labels = Dedup.clusters(pairs, "doc_a", "doc_b")
      .withColumnRenamed("doc_a", "__cid")
    // shuffle_hash: labels = docs that belong to a near-dup cluster (a
    // small fraction of survivors, per-partition bounded) — hash-build
    // it instead of sorting the full survivor side (guide §3.1)
    val deduped = survivors
      .join(labels.hint("shuffle_hash"), col(idCol) === col("__cid"),
        "left")
      .filter(col("cluster").isNull || col("cluster") === col(idCol))
    Stages(gated, cleanDocs, keepers, deduped)
  }

  /** FUNNEL AUDIT of [[cleanFull]]: documents surviving each stage —
    * the per-stage attrition readout every corpus pipeline dashboards
    * before committing a training snapshot (a stage suddenly eating 40%
    * of the corpus is a bug or a data-drift signal, and survivor-only
    * output cannot show it). One row per stage: (stage_ord, stage,
    * n_docs). The stage frames are shared with [[cleanFull]] (persist
    * barriers included), so the funnel costs the same one pass plus
    * four tiny count aggregates. */
  def cleanFunnel(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val st = fullStages(docs, bench, idCol, textCol)
    def row(ord: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(ord.toLong).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"))
    row(0, "ingest", docs)
      .unionAll(row(1, "quality_gate", st.gated))
      .unionAll(row(2, "decontaminated", st.clean))
      .unionAll(row(3, "exact_dedup", st.keepers))
      .unionAll(row(4, "near_dedup", st.deduped))
  }

  /** Cluster-aware variant of [[clean]]: instead of dropping the higher
    * id of each candidate PAIR (which can drop every member of a chain
    * a-b-c except `a`, but also drops `b` even when `a` was itself
    * dropped by a third pair), connected components over the candidate
    * graph elect ONE representative per near-dup cluster — the minimum
    * id — so exactly one member of every transitive dup group survives. */
  def cleanClustered(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5): DataFrame = {
    // persist: same dual-consumer shape as [[clean]]
    val scored = Dedup.persistTracked(docs
      .withColumn("toks", GraftFunctions.tokens(col(textCol)))
      .withColumn("stop_hits", expr(sparkStopHits("toks")))
      .withColumn("quality",
        expr("0.4 * least(CAST(size(toks) AS DOUBLE) / 50.0, 1.0) + " +
          "0.3 * (CAST(stop_hits AS DOUBLE) / nullif(size(toks), 0)) + " +
          "0.3 * (CAST(size(filter(toks, w -> length(w) <= 5)) AS DOUBLE) / nullif(size(toks), 0))"))
      .withColumn("fp", GraftFunctions.polyHash(col(textCol)))
      .filter(col("stop_hits") >= 1 && col("quality") >= minQuality)
      .select(col(idCol), col(textCol), col("fp"), col("quality")))
    val keepers = scored.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    // persist: feeds the candidate path, the label join, and the final
    // select; signatures computed in-scope — see [[clean]]
    val survivors = Dedup.persistTracked(scored
      .join(keepers, Seq("fp", idCol))
      .select(col(idCol), col("fp"), col("quality"),
        GraftFunctions.minhashSig(
          GraftFunctions.shingles(col(textCol), 3), 12).as("mh")))
    val pairs = Dedup
      .candidatesFromSignatures(survivors, idCol)
      .select(col("doc_a"), col("doc_b"))
    val labels = Dedup.clusters(pairs, "doc_a", "doc_b")
      .withColumnRenamed("doc_a", "__cid")
    // shuffle_hash on the (cluster-member-sized) label side — same
    // rationale as fullStages' dedup join (guide §3.1)
    survivors
      .join(labels.hint("shuffle_hash"), col(idCol) === col("__cid"),
        "left")
      .filter(col("cluster").isNull || col("cluster") === col(idCol))
      .select(col(idCol), col("fp"), col("quality"))
  }

  /** CROSS-SNAPSHOT corpus diff readout — the release notes a training
    * team reads before switching snapshots: given two committed
    * versions of a [[graft.sources.VersionedTable]] corpus, the
    * per-source count of documents added / removed / changed and the
    * token-count drift those documents carry
    * (token_delta = tokens(added) − tokens(removed) + tokens(changed
    * new) − tokens(changed old); because unchanged documents cancel,
    * this also equals the source's total snapshot-to-snapshot token
    * delta). Sources with no differing documents produce no row.
    *
    * Cost shape: METADATA + CHANGED-FILE READS ONLY. The two manifests
    * are diffed at file granularity (a version's read plans over
    * exactly its manifest's files), and only the symmetric difference
    * is scanned — a document in a file both versions list is
    * byte-identical on both sides and can never be added / removed /
    * changed, so untouched files are provably irrelevant
    * (`VersionedTableSpec` pins that they are not read). Each side's
    * scan is column-pruned to (id, source, text); token counts reduce
    * at scan time, and texts ship through the one id-keyed join only
    * for the exact equality test — changed-file bytes, the thing being
    * diffed. Classification is exact text comparison, never a
    * fingerprint (a 64-bit collision must not misread an edit as
    * unchanged). */
  def corpusDiff(spark: org.apache.spark.sql.SparkSession, path: String,
      vOld: Int, vNew: Int, idCol: String, sourceCol: String,
      textCol: String): DataFrame = {
    import graft.sources.VersionedTable
    val oldAll = VersionedTable.read(spark, path, Some(vOld))
    val newAll = VersionedTable.read(spark, path, Some(vNew))
    val oldFiles = oldAll.inputFiles.toSet
    val newFiles = newAll.inputFiles.toSet
    def side(files: Seq[String], proto: DataFrame, tag: String) = {
      val raw =
        if (files.isEmpty) proto.limit(0)
        else spark.read.parquet(files.sorted: _*)
      raw.select(col(idCol).cast("long").as("__id"),
        col(sourceCol).as(s"${tag}_src"), col(textCol).as(s"${tag}_t"),
        size(GraftFunctions.tokens(col(textCol))).cast("long")
          .as(s"${tag}_tok"))
    }
    val o = side((oldFiles -- newFiles).toSeq, oldAll, "o")
    val n = side((newFiles -- oldFiles).toSeq, newAll, "n")
    o.join(n, Seq("__id"), "full_outer")
      .withColumn("__k",
        when(col("o_src").isNull, "added")
          .when(col("n_src").isNull, "removed")
          .when(col("o_t") =!= col("n_t"), "changed")
          .otherwise("unchanged"))
      .filter(col("__k") =!= "unchanged")
      .groupBy(coalesce(col("n_src"), col("o_src")).as("source"))
      .agg(
        sum(when(col("__k") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("__k") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("__k") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("__k") === "added", col("n_tok"))
          .when(col("__k") === "removed", -col("o_tok"))
          .otherwise(col("n_tok") - col("o_tok"))).as("token_delta"))
  }
}

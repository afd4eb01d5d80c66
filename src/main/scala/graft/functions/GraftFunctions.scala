package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions._

/** Column API + SQL registration for the native graft expressions.
  *
  *  - Library/Column use: `GraftFunctions.minhashSig(col, 12)` — builds
  *    the Catalyst expression directly, no session config needed.
  *  - SQL use: a session built with
  *    `spark.sql.extensions=graft.functions.GraftExtensions` (the
  *    [[graft.GraftSession]] default), then `SELECT graft_simhash(shingles) …`.
  */
object GraftFunctions {

  private def c(e: Expression): Column = GraftSqlBridge.column(e)
  private def e(col: Column): Expression = GraftSqlBridge.expression(col)

  def polyHash(col: Column): Column = c(PolyHash(e(col)))
  def minhashSig(col: Column, k: Int): Column = c(MinHashSig(e(col), k))
  def simhash32(col: Column): Column = c(SimHash32(e(col)))
  def simSig(col: Column, nbits: Int): Column = c(SimSig(e(col), nbits))
  def cosineSim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))
  def jaroWinkler(a: Column, b: Column): Column = c(JaroWinklerSim(e(a), e(b)))
  def setOverlap(a: Column, b: Column): Column = c(SetOverlap(e(a), e(b)))
  def topTokenCount(a: Column): Column = c(TopTokenCount(e(a)))
  def tokens(a: Column): Column = c(Tokens(e(a)))
  def lzPhrases(a: Column): Column = c(LzPhrases(e(a)))
  def bandBucket(sig: Column, band: Column, r: Int): Column =
    c(BandBucket(e(sig), e(band), r))
  def shingles(text: Column, n: Int): Column = c(Shingles(e(text), n))

  /** Positional (non-deduped) shingle polyHashes; see [[ShingleHashes]]. */
  def shingleHashes(text: Column, n: Int): Column =
    c(ShingleHashes(e(text), n))

  /** Positional CHARACTER n-gram polyHashes; see [[CharShingleHashes]]. */
  def charShingleHashes(text: Column, n: Int): Column =
    c(CharShingleHashes(e(text), n))

  /** MinHash signature over precomputed long hashes; see [[MinHashLongs]]. */
  def minhashLongs(hashes: Column, k: Int): Column =
    c(MinHashLongs(e(hashes), k))
  def ivfCell(vec: Column, nc: Int): Column = c(IvfCell(e(vec), nc))
  def shingleRows(text: Column, n: Int): Column = c(ShingleRows(e(text), n))

  /** Winnowed L-gram anchors as (pos, h) rows; see [[WinnowedAnchorRows]]. */
  def winnowedAnchorRows(text: Column, minLen: Int, w: Int): Column =
    c(WinnowedAnchorRows(e(text), minLen, w))
  def bloomContains(key: Column, mask: Array[Long], k: Int): Column =
    c(BloomMightContain(e(key), mask, k))
  def matVec(vec: Column, mat: Array[Double], k: Int, d: Int): Column =
    c(MatVecProject(e(vec), mat, k, d))
  def pqCodes(vec: Column, cb: Column, m: Int, ks: Int, sd: Int): Column =
    c(PqCodes(e(vec), e(cb), m, ks, sd))
  def pqAdc(q: Column, codes: Column, cb: Column, m: Int, sd: Int): Column =
    c(PqAdc(e(q), e(codes), e(cb), m, sd))

  /** Per-pattern greedy-left occurrence counts in one Aho–Corasick text
    * scan; see [[MultiPatternCounts]]. */
  def multiCount(text: Column, patterns: Seq[String]): Column =
    c(MultiPatternCounts(e(text), patterns))

  /** Unicode NFC canonical composition; see [[NfcNormalize]]. */
  def nfc(text: Column): Column = c(NfcNormalize(e(text)))

  /** Hilbert-curve layout key of two bigint coords; see [[HilbertKey]]. */
  def hilbert(x: Column, y: Column, order: Int): Column =
    c(HilbertKey(e(x), e(y), order))

  private[functions] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_polyhash" -> (args => PolyHash(args.head)),
    "graft_minhash" -> (args => MinHashSig(args.head,
      args(1).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)),
    "graft_simhash" -> (args => SimHash32(args.head)),
    "graft_simsig" -> (args => SimSig(args.head,
      args(1).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)),
    "graft_cosine" -> (args => CosineSim(args.head, args(1))),
    "graft_jaro_winkler" -> (args => JaroWinklerSim(args.head, args(1))),
    "graft_set_overlap" -> (args => SetOverlap(args.head, args(1))),
    "graft_top_count" -> (args => TopTokenCount(args.head)),
    "graft_tokens" -> (args => Tokens(args.head)),
    "graft_lz_phrases" -> (args => LzPhrases(args.head)),
    "graft_bandbucket" -> (args => BandBucket(args.head, args(1),
      args(2).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)),
    "graft_shingles" -> (args => Shingles(args.head,
      args(1).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)),
    "graft_char_shingle_hashes" -> (args => CharShingleHashes(args.head,
      args(1).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)),
    "graft_minhash_longs" -> (args => MinHashLongs(args.head,
      args(1).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)),
    "graft_ivfcell" -> (args => IvfCell(args.head,
      args(1).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)),
    "graft_multi_count" -> (args => {
      // the pattern list must be a foldable array literal — the automaton
      // is built once at plan time, not per row
      require(args(1).foldable,
        "graft_multi_count: pattern list must be a constant array")
      val arr = args(1).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val pats = arr.toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      MultiPatternCounts(args.head, pats.toSeq)
    }),
    "graft_nfc" -> (args => NfcNormalize(args.head)),
    "graft_hilbert" -> (args => HilbertKey(args.head, args(1),
      args(2).asInstanceOf[Literal].value.asInstanceOf[Number].intValue)))
}

/** `spark.sql.extensions` injector: the ONE install path for everything
  * graft adds to a session — the SQL functions, the bucketed range-join
  * and global-window optimizer rules, and the top-k-per-group planner
  * strategy. Nothing mutates a session at query time; a session either
  * has the extension from its builder or does not have graft planning. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.BucketedRangeJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.GlobalWindowRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

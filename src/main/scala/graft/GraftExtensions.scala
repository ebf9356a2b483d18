package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomAgg, BloomContainsExpr, CosTopCExpr, HyperplaneSigExpr, MinhashExpr, NgramHashesExpr, Md5Fold64Expr, NormalizeTextExpr, PqAdcTableExpr, PqArgminExpr, ShingleHashesExpr, Simhash64Expr, SortedIntersectSizeExpr, TextStatsExpr, TopKAgg, VectorDotExpr, WinnowExpr}

/** Registers graft's native Catalyst expressions through the public
  * SparkSessionExtensions hook:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * after which `call_function("graft_vector_dot", a, b)` (and the SQL
  * form `graft_vector_dot(a, b)`) resolves anywhere in the session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // tier (c): whole-operator extension — the as-of join planned as a
    // first-class physical operator (graft.plans.AsofJoin*)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // tier (c): optimizer rule — window row_number top-k rewritten to
    // the bounded graft_topk aggregate when provably row-identical
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectFunction((FunctionIdentifier("graft_vector_dot"),
      info("graft_vector_dot",
        "graft_vector_dot(a, b) - dot product of two float arrays in double"),
      (children: Seq[Expression]) => VectorDotExpr(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes",
        "graft_shingle_hashes(s, k) - distinct xxhash64 of char k-shingles"),
      (children: Seq[Expression]) => ShingleHashesExpr(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("graft_sorted_intersect_size"),
      info("graft_sorted_intersect_size",
        "graft_sorted_intersect_size(a, b) - |a intersect b| for sorted long arrays"),
      (children: Seq[Expression]) => SortedIntersectSizeExpr(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("graft_hyperplane_sig"),
      info("graft_hyperplane_sig",
        "graft_hyperplane_sig(vec, planes, dim) - packed sign bits of vec against flattened hyperplanes"),
      (children: Seq[Expression]) => HyperplaneSigExpr(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_pq_argmin"),
      info("graft_pq_argmin",
        "graft_pq_argmin(x, codebook, sub) - index of the flattened-codebook centroid minimizing c*c - 2*x*c"),
      (children: Seq[Expression]) => PqArgminExpr(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_cos_topc"),
      info("graft_cos_topc",
        "graft_cos_topc(x, centroids, dim, n) - top-n (cos, idx) structs of the flattened centroids by cosine to x, cos desc / idx asc"),
      (children: Seq[Expression]) => CosTopCExpr(children(0), children(1), children(2), children(3))))
    ext.injectFunction((FunctionIdentifier("graft_text_stats"),
      info("graft_text_stats",
        "graft_text_stats(s) - one-pass token/marker/punct/digit statistics struct feeding the quality and language heuristics"),
      (children: Seq[Expression]) => TextStatsExpr(children(0))))
    ext.injectFunction((FunctionIdentifier("graft_md5_fold64"),
      info("graft_md5_fold64",
        "graft_md5_fold64(s) - 60-bit portable md5 fold: conv(substring(md5(s),1,15),16,10) in one digest pass"),
      (children: Seq[Expression]) => Md5Fold64Expr(children(0))))
    ext.injectFunction((FunctionIdentifier("graft_pq_adc"),
      info("graft_pq_adc",
        "graft_pq_adc(x, codebook, sub) - per-centroid micro-unit ADC table fround_6(c*c - 2*x*c) over the flattened codebook"),
      (children: Seq[Expression]) => PqAdcTableExpr(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash",
        "graft_minhash(hashes, p) - p-permutation MinHash signature"),
      (children: Seq[Expression]) => MinhashExpr(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64",
        "graft_simhash64(hashes) - 64-bit SimHash over pre-hashed tokens"),
      (children: Seq[Expression]) => Simhash64Expr(children(0))))
    ext.injectFunction((FunctionIdentifier("graft_ngram_hashes"),
      info("graft_ngram_hashes",
        "graft_ngram_hashes(toks, n) - distinct xxhash64 of word n-grams"),
      (children: Seq[Expression]) => NgramHashesExpr(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("graft_normalize"),
      info("graft_normalize",
        "graft_normalize(s) - canonical lowercase/strip/collapse/trim normalize in one pass"),
      (children: Seq[Expression]) => NormalizeTextExpr(children(0))))
    ext.injectFunction((FunctionIdentifier("graft_winnow"),
      info("graft_winnow",
        "graft_winnow(s, k, w) - packed winnowing fingerprints pos*1000000007 + fp"),
      (children: Seq[Expression]) => WinnowExpr(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      info("graft_topk",
        "graft_topk(score, id, k) - bounded top-k aggregate, best-first array of (score, id)"),
      (children: Seq[Expression]) => TopKAgg(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg",
        "graft_bloom_agg(hash, numBits, numHashes) - bloom filter over a bigint column as array<bigint> words"),
      (children: Seq[Expression]) => BloomAgg(children(0), children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains",
        "graft_bloom_contains(bloom, hash, numHashes) - membership probe against graft_bloom_agg words"),
      (children: Seq[Expression]) =>
        BloomContainsExpr(children(0), children(1), children(2))))
  }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{FloatVecDot, FloatVecNorm, SimHash60}

/** SparkSessionExtensions registering the engine's custom expressions
  * as SQL functions (`spark.sql("SELECT vec_dot(a, b) ...")`) for any
  * session configured with them:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or: spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * The GroupTopK planner strategy is not registered here: its logical
  * node is only built by `graft.plans.GroupTopK.groupTopK`, which
  * injects the strategy into the session at call time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float arrays"),
      (args: Seq[Expression]) => FloatVecDot(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(a) - L2 norm of a float array"),
      (args: Seq[Expression]) => FloatVecNorm(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      info("simhash60", "simhash60(text) - 60-bit SimHash of a tokenized string"),
      (args: Seq[Expression]) => SimHash60(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(words, n, k) - k-function MinHash signature of the n-gram shingles"),
      (args: Seq[Expression]) => graft.functions.MinHashSig(args(0),
        args(1).eval().asInstanceOf[Number].intValue,
        args(2).eval().asInstanceOf[Number].intValue)))
    ext.injectFunction((
      new FunctionIdentifier("shingle_set"),
      info("shingle_set",
        "shingle_set(words, n) - sorted distinct n-gram shingle hashes"),
      (args: Seq[Expression]) => graft.functions.ShingleHashSet(args(0),
        args(1).eval().asInstanceOf[Number].intValue)))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_size"),
      info("sorted_intersect_size",
        "sorted_intersect_size(a, b) - |A∩B| of two sorted long-array sets"),
      (args: Seq[Expression]) =>
        graft.functions.SortedIntersectSize(args(0), args(1))))
    // storable-sketch surface for SQL users (aggregates + readers)
    ext.injectFunction((
      new FunctionIdentifier("hll_build"),
      info("hll_build", "hll_build(v[, p]) - binary HLL sketch of the values"),
      (args: Seq[Expression]) => graft.functions.HllBuildAgg(args.head,
        if (args.length > 1) args(1).eval().asInstanceOf[Number].intValue
        else graft.functions.HllSketch.DefaultP).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("hll_merge"),
      info("hll_merge", "hll_merge(sketch) - max-merge binary HLL sketches"),
      (args: Seq[Expression]) =>
        graft.functions.HllMergeAgg(args.head).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("hll_estimate"),
      info("hll_estimate", "hll_estimate(sketch) - distinct estimate of an HLL sketch"),
      (args: Seq[Expression]) => graft.functions.HllEstimate(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("mg_build"),
      info("mg_build", "mg_build(key, cap) - binary Misra-Gries summary of string keys"),
      (args: Seq[Expression]) => graft.functions.MgBuildAgg(args.head,
        args(1).eval().asInstanceOf[Number].intValue).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("mg_merge"),
      info("mg_merge", "mg_merge(sketch, cap) - combine Misra-Gries summaries"),
      (args: Seq[Expression]) => graft.functions.MgMergeAgg(args.head,
        args(1).eval().asInstanceOf[Number].intValue).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("mg_entries"),
      info("mg_entries", "mg_entries(sketch) - array<struct<key,lower_count>> of a summary"),
      (args: Seq[Expression]) => graft.functions.MgEntries(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("bloom_build"),
      info("bloom_build", "bloom_build(v[, mBits, k]) - mergeable Bloom filter blob"),
      (args: Seq[Expression]) => graft.functions.BloomBuildAgg(args.head,
        if (args.length > 1) args(1).eval().asInstanceOf[Number].intValue
        else graft.functions.BloomSketch.DefaultBits,
        if (args.length > 2) args(2).eval().asInstanceOf[Number].intValue
        else graft.functions.BloomSketch.DefaultK).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("bloom_merge"),
      info("bloom_merge", "bloom_merge(blob) - OR Bloom filter blobs"),
      (args: Seq[Expression]) =>
        graft.functions.BloomMergeAgg(args.head).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain", "bloom_might_contain(blob, v) - one-sided membership"),
      (args: Seq[Expression]) =>
        graft.functions.BloomMightContain(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_fill"),
      info("bloom_fill", "bloom_fill(blob) - set-bit fraction"),
      (args: Seq[Expression]) => graft.functions.BloomFill(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("theta_build"),
      info("theta_build", "theta_build(v[, k]) - binary KMV/theta sketch of the values"),
      (args: Seq[Expression]) => graft.functions.ThetaBuildAgg(args.head,
        if (args.length > 1) args(1).eval().asInstanceOf[Number].intValue
        else graft.functions.ThetaSketch.DefaultK).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("theta_merge"),
      info("theta_merge", "theta_merge(sketch) - union theta sketches"),
      (args: Seq[Expression]) =>
        graft.functions.ThetaMergeAgg(args.head).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("theta_estimate"),
      info("theta_estimate", "theta_estimate(sketch) - distinct estimate"),
      (args: Seq[Expression]) => graft.functions.ThetaEstimate(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("theta_union"),
      info("theta_union", "theta_union(a, b) - row-wise union of two sketches"),
      (args: Seq[Expression]) =>
        graft.functions.ThetaUnionPair(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("theta_intersect"),
      info("theta_intersect", "theta_intersect(a, b) - |A∩B| estimate"),
      (args: Seq[Expression]) =>
        graft.functions.ThetaIntersectEst(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("theta_anotb"),
      info("theta_anotb", "theta_anotb(a, b) - |A∖B| estimate"),
      (args: Seq[Expression]) =>
        graft.functions.ThetaAnotBEst(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("theta_jaccard"),
      info("theta_jaccard", "theta_jaccard(a, b) - Jaccard similarity estimate"),
      (args: Seq[Expression]) =>
        graft.functions.ThetaJaccardEst(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("kll_build"),
      info("kll_build", "kll_build(v[, k]) - binary KLL quantile sketch"),
      (args: Seq[Expression]) => graft.functions.KllBuildAgg(args.head,
        if (args.length > 1) args(1).eval().asInstanceOf[Number].intValue
        else graft.functions.KllSketch.DefaultK).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("kll_merge"),
      info("kll_merge", "kll_merge(sketch) - combine KLL sketches"),
      (args: Seq[Expression]) =>
        graft.functions.KllMergeAgg(args.head).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("kll_quantile"),
      info("kll_quantile", "kll_quantile(sketch, q) - quantile at fraction q"),
      (args: Seq[Expression]) => graft.functions.KllQuantile(args.head,
        // SQL fractional literals eval as Decimal, not java.lang.Number
        args(1).eval() match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number                              => n.doubleValue
        })))
  }
}

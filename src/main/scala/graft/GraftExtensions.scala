package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.Decimal
import graft.functions._

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
  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue

  /** The storable-sketch aggregates, one row per SQL name: whether it
    * merges blobs, its usage line, and its [[Sketch]] from the trailing
    * integer arguments. */
  private val sketchAggs: Seq[(String, Boolean, String, Seq[Int] => Sketch[_])] = Seq(
    ("hll_build", false, "hll_build(v[, p]) - binary HLL sketch of the values",
      a => Hll(a.headOption.getOrElse(HllSketch.DefaultP))),
    ("hll_merge", true, "hll_merge(sketch) - max-merge binary HLL sketches",
      _ => Hll(HllSketch.DefaultP)),
    ("mg_build", false, "mg_build(key, cap) - binary Misra-Gries summary of string keys",
      a => Mg(a(0))),
    ("mg_merge", true, "mg_merge(sketch, cap) - combine Misra-Gries summaries",
      a => Mg(a(0))),
    ("bloom_build", false, "bloom_build(v[, mBits, k]) - mergeable Bloom filter blob",
      a => Bloom(a.lift(0).getOrElse(BloomSketch.DefaultBits),
        a.lift(1).getOrElse(BloomSketch.DefaultK))),
    ("bloom_merge", true, "bloom_merge(blob) - OR Bloom filter blobs",
      _ => Bloom(BloomSketch.DefaultBits, BloomSketch.DefaultK)),
    ("theta_build", false, "theta_build(v[, k]) - binary KMV/theta sketch of the values",
      a => Theta(a.headOption.getOrElse(ThetaSketch.DefaultK))),
    ("theta_merge", true, "theta_merge(sketch) - union theta sketches",
      _ => Theta(ThetaSketch.DefaultK)),
    ("kll_build", false, "kll_build(v[, k]) - binary KLL quantile sketch",
      a => Kll(a.headOption.getOrElse(KllSketch.DefaultK))),
    ("kll_merge", true, "kll_merge(sketch) - combine KLL sketches",
      _ => Kll(KllSketch.DefaultK)))

  /** The other functions: SQL name, usage line, builder. */
  private val scalars: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two float arrays",
      args => FloatVecDot(args(0), args(1))),
    ("vec_norm", "vec_norm(a) - L2 norm of a float array",
      args => FloatVecNorm(args.head)),
    ("simhash60", "simhash60(text) - 60-bit SimHash of a tokenized string",
      args => SimHash60(args.head)),
    ("minhash_sig",
      "minhash_sig(words, n, k) - k-function MinHash signature of the n-gram shingles",
      args => MinHashSig(args(0), intArg(args(1)), intArg(args(2)))),
    ("shingle_set", "shingle_set(words, n) - sorted distinct n-gram shingle hashes",
      args => ShingleHashSet(args(0), intArg(args(1)))),
    ("sorted_intersect_size",
      "sorted_intersect_size(a, b) - |A∩B| of two sorted long-array sets",
      args => SortedIntersectSize(args(0), args(1))),
    // readers of the storable sketches
    ("hll_estimate", "hll_estimate(sketch) - distinct estimate of an HLL sketch",
      args => HllEstimate(args.head)),
    ("mg_entries", "mg_entries(sketch) - array<struct<key,lower_count>> of a summary",
      args => MgEntries(args.head)),
    ("bloom_might_contain", "bloom_might_contain(blob, v) - one-sided membership",
      args => BloomMightContain(args(0), args(1))),
    ("bloom_fill", "bloom_fill(blob) - set-bit fraction",
      args => BloomFill(args.head)),
    ("theta_estimate", "theta_estimate(sketch) - distinct estimate",
      args => ThetaEstimate(args.head)),
    ("theta_union", "theta_union(a, b) - row-wise union of two sketches",
      args => ThetaUnionPair(args(0), args(1))),
    ("theta_intersect", "theta_intersect(a, b) - |A∩B| estimate",
      args => ThetaIntersectEst(args(0), args(1))),
    ("theta_anotb", "theta_anotb(a, b) - |A∖B| estimate",
      args => ThetaAnotBEst(args(0), args(1))),
    ("theta_jaccard", "theta_jaccard(a, b) - Jaccard similarity estimate",
      args => ThetaJaccardEst(args(0), args(1))),
    ("kll_quantile", "kll_quantile(sketch, q) - quantile at fraction q",
      args => KllQuantile(args.head,
        // SQL fractional literals eval as Decimal, not java.lang.Number
        args(1).eval() match {
          case d: Decimal => d.toDouble
          case n: Number  => n.doubleValue
        })))

  override def apply(ext: SparkSessionExtensions): Unit = {
    val aggs = sketchAggs.map { case (name, merging, usage, sketch) =>
      (name, usage, (args: Seq[Expression]) =>
        SketchAgg(args.head, sketch(args.tail.map(intArg)), merging).toAggregateExpression())
    }
    (scalars ++ aggs).foreach { case (name, usage, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    }
  }
}

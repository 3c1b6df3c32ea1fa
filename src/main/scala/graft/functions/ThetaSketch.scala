package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Persistable KMV/theta sketches: distinct-count SET ALGEBRA over
  * stored subsets.
  *
  * The storable HLL sketch ([[HllSketch]]) answers "distinct across any
  * union of subsets" — but HLL registers only merge by max, so
  * INTERSECTION and DIFFERENCE questions ("how many of this crawl's
  * documents already appear in that crawl?", "what fraction of source
  * A's vocabulary is shared with source B?") cannot be answered from
  * stored HLLs. The theta sketch (Dasgupta et al., "Theta-Sketch
  * Framework", and the KMV estimator literature) closes that gap: keep
  * the k smallest 63-bit hashes of the set; θ = the k-th smallest
  * (normalized), every retained hash < θ is a uniform 1/θ-rate sample
  * of the distinct universe, so |S∩T|, |S∖T|, and Jaccard similarity
  * are all estimable from two kilobyte blobs — no rescan, no join.
  *
  * Blob layout (also the partial-aggregation wire format):
  * [k:int][theta:long][n:int][n ascending longs, all < theta].
  * Build/merge are deterministic and order-insensitive (the k smallest
  * of a union do not depend on arrival order), so partition-merge
  * equals the whole-corpus sketch bit for bit — property-gated.
  * Estimates: n·2⁶³/θ (EXACT while the set held < k values, since then
  * θ = 2⁶³ and every hash was retained); relative error ≈ 1/√(k-1) in
  * the sampled regime.
  */
object ThetaSketch {
  val DefaultK = 1024
  /** Sentinel k for an untouched merge buffer: foldInto takes the min
    * of ks, so Int.MaxValue means "adopt the first folded blob's k"
    * instead of imposing DefaultK on sketches built with a larger k
    * (which would silently truncate e.g. a k=8192 sketch to 1024). */
  private[graft] val UntouchedK = Int.MaxValue
  /** θ sentinel "1.0": hashes are masked to [0, 2⁶³), so every value
    * compares below it and the sketch is exhaustive (exact). */
  val MaxTheta: Long = Long.MaxValue

  def theta_build(c: Column, k: Int = DefaultK): Column = Sketch.build(c, Theta(k))

  def theta_merge(c: Column): Column = Sketch.merge(c, Theta(DefaultK))

  def theta_estimate(c: Column): Column =
    graftshim.exprToColumn(ThetaEstimate(graftshim.columnToExpr(c)))

  def theta_union(a: Column, b: Column): Column =
    graftshim.exprToColumn(
      ThetaUnionPair(graftshim.columnToExpr(a), graftshim.columnToExpr(b)))

  def theta_intersect(a: Column, b: Column): Column =
    graftshim.exprToColumn(
      ThetaIntersectEst(graftshim.columnToExpr(a), graftshim.columnToExpr(b)))

  def theta_anotb(a: Column, b: Column): Column =
    graftshim.exprToColumn(
      ThetaAnotBEst(graftshim.columnToExpr(a), graftshim.columnToExpr(b)))

  def theta_jaccard(a: Column, b: Column): Column =
    graftshim.exprToColumn(
      ThetaJaccardEst(graftshim.columnToExpr(a), graftshim.columnToExpr(b)))

  // ── mutable aggregation buffer ─────────────────────────────────────

  /** k-smallest-unique buffer with a running θ bound. Invariants after
    * every mutation: all entries < theta, at most k entries. */
  final class Buf(var k: Int, var theta: Long,
      val set: java.util.TreeSet[java.lang.Long]) {
    def addHash(h: Long): Unit =
      if (h < theta && (set.size < k || h < set.last)) {
        set.add(h)
        if (set.size > k) set.pollLast()
      }
  }

  private[graft] def emptyBuf(k: Int): Buf =
    new Buf(k, MaxTheta, new java.util.TreeSet[java.lang.Long]())

  /** Fold another buffer/blob into `a` (union semantics): θ drops to
    * the min, entries re-filtered below it, then trimmed to the k
    * smallest. Early trimming is safe — a discarded entry is ≥ every
    * retained one, so it can only re-matter if θ later falls below the
    * retained entries, in which case it is filtered out anyway. */
  private[graft] def foldInto(a: Buf, k: Int, theta: Long,
      vs: Iterator[Long]): Unit = {
    if (k < a.k) a.k = k
    if (theta < a.theta) a.theta = theta
    vs.foreach { v => if (v < a.theta) a.set.add(v) }
    while (!a.set.isEmpty && a.set.last >= a.theta) a.set.pollLast()
    while (a.set.size > a.k) a.set.pollLast()
  }

  // ── wire format ────────────────────────────────────────────────────

  private[graft] def ser(buf: Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + 8 * buf.set.size)
    bb.putInt(buf.k).putLong(buf.theta).putInt(buf.set.size)
    buf.set.iterator.asScala.foreach(v => bb.putLong(v.longValue))
    bb.array()
  }

  final case class Blob(k: Int, theta: Long, vs: Array[Long])

  private[graft] def deser(b: Array[Byte]): Blob = {
    val bb = java.nio.ByteBuffer.wrap(b)
    val k = bb.getInt; val theta = bb.getLong; val n = bb.getInt
    val vs = new Array[Long](n)
    var i = 0
    while (i < n) { vs(i) = bb.getLong; i += 1 }
    Blob(k, theta, vs)
  }

  private[graft] def deserToBuf(b: Array[Byte]): Buf = {
    val blob = deser(b)
    val buf = emptyBuf(blob.k)
    buf.theta = blob.theta
    blob.vs.foreach(v => buf.set.add(v))
    buf
  }

  /** Canonicalize for user-visible eval: a FULL buffer promotes its
    * largest entry to θ (it is the k-th smallest of the union), leaving
    * k−1 live entries strictly below θ. */
  private[graft] def canonical(buf: Buf): Array[Byte] = {
    if (buf.set.size == buf.k && buf.k > 0) {
      buf.theta = buf.set.pollLast()
    }
    ser(buf)
  }

  // ── estimators over canonical blobs ────────────────────────────────

  private[graft] def estimate(n: Long, theta: Long): Double =
    if (theta == MaxTheta) n.toDouble
    else n.toDouble * (MaxTheta.toDouble / theta.toDouble)

  def estimateBlob(b: Array[Byte]): Double = {
    val blob = deser(b)
    estimate(blob.vs.length.toLong, blob.theta)
  }

  /** (common count, a-only count, union count) below min(θa, θb),
    * by a single two-pointer sweep of the sorted retained sets. */
  private[graft] def sweep(a: Blob, b: Blob): (Long, Long, Long, Long) = {
    val theta = math.min(a.theta, b.theta)
    var i = 0; var j = 0
    var common = 0L; var aOnly = 0L; var union = 0L
    while (i < a.vs.length && a.vs(i) < theta &&
           j < b.vs.length && b.vs(j) < theta) {
      if (a.vs(i) == b.vs(j)) { common += 1; union += 1; i += 1; j += 1 }
      else if (a.vs(i) < b.vs(j)) { aOnly += 1; union += 1; i += 1 }
      else { union += 1; j += 1 }
    }
    while (i < a.vs.length && a.vs(i) < theta) { aOnly += 1; union += 1; i += 1 }
    while (j < b.vs.length && b.vs(j) < theta) { union += 1; j += 1 }
    (common, aOnly, union, theta)
  }
}

/** The theta family as a [[Sketch]]: the k smallest xxhash64 (seed 42)
  * hashes, masked to 63 bits so θ arithmetic stays in the positive Long
  * range. The merge side starts at [[ThetaSketch.UntouchedK]], so the
  * min-k union adopts the first folded blob's k; a merge of no blobs
  * yields an empty DefaultK sketch rather than leaking the sentinel.
  * The result is the canonical blob.
  */
case class Theta(k: Int) extends Sketch[ThetaSketch.Buf] {
  require(k >= 16 && k <= 65536, s"theta sketch k=$k outside [16, 65536]")

  def name: String = "theta"
  def zero: ThetaSketch.Buf = ThetaSketch.emptyBuf(k)
  override def mergeZero: ThetaSketch.Buf = ThetaSketch.emptyBuf(ThetaSketch.UntouchedK)

  def add(buf: ThetaSketch.Buf, value: Any, dt: DataType): ThetaSketch.Buf = {
    buf.addHash(XxHash64Function.hash(value, dt, 42L) & Long.MaxValue)
    buf
  }

  def merge(a: ThetaSketch.Buf, b: ThetaSketch.Buf): ThetaSketch.Buf = {
    ThetaSketch.foldInto(a, b.k, b.theta, b.set.iterator.asScala.map(_.longValue))
    a
  }

  def serialize(buf: ThetaSketch.Buf): Array[Byte] = ThetaSketch.ser(buf)
  def deserialize(bytes: Array[Byte]): ThetaSketch.Buf = ThetaSketch.deserToBuf(bytes)

  override def result(buf: ThetaSketch.Buf): Array[Byte] = {
    if (buf.k == ThetaSketch.UntouchedK) buf.k = ThetaSketch.DefaultK
    ThetaSketch.canonical(buf)
  }
}

/** `theta_estimate(sketch)`: distinct-count estimate (exact while the
  * sketch never overflowed k). CodegenFallback: evaluated on
  * sketch-sized frames, never in a corpus-width hot path. */
case class ThetaEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    ThetaSketch.estimateBlob(v.asInstanceOf[Array[Byte]])
  override def prettyName: String = "theta_estimate"
  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}

/** `theta_union(a, b)`: row-wise union of two blobs (for pairing stored
  * sketches without an aggregation). */
case class ThetaUnionPair(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val buf = ThetaSketch.deserToBuf(a.asInstanceOf[Array[Byte]])
    val blob = ThetaSketch.deser(b.asInstanceOf[Array[Byte]])
    ThetaSketch.foldInto(buf, blob.k, blob.theta, blob.vs.iterator)
    ThetaSketch.canonical(buf)
  }
  override def prettyName: String = "theta_union"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `theta_intersect(a, b)`: |A ∩ B| estimate from two stored sketches —
  * the question HLL cannot answer. Exact while both are exhaustive. */
case class ThetaIntersectEst(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (common, _, _, theta) = ThetaSketch.sweep(
      ThetaSketch.deser(a.asInstanceOf[Array[Byte]]),
      ThetaSketch.deser(b.asInstanceOf[Array[Byte]]))
    ThetaSketch.estimate(common, theta)
  }
  override def prettyName: String = "theta_intersect"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `theta_anotb(a, b)`: |A ∖ B| estimate ("how much of this delta is
  * genuinely new?"). Exact while both are exhaustive. */
case class ThetaAnotBEst(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (_, aOnly, _, theta) = ThetaSketch.sweep(
      ThetaSketch.deser(a.asInstanceOf[Array[Byte]]),
      ThetaSketch.deser(b.asInstanceOf[Array[Byte]]))
    ThetaSketch.estimate(aOnly, theta)
  }
  override def prettyName: String = "theta_anotb"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `theta_jaccard(a, b)`: |A∩B| / |A∪B| estimate — θ cancels, so this
  * is a plain ratio of retained-sample counts below min(θa, θb). */
case class ThetaJaccardEst(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (common, _, union, _) = ThetaSketch.sweep(
      ThetaSketch.deser(a.asInstanceOf[Array[Byte]]),
      ThetaSketch.deser(b.asInstanceOf[Array[Byte]]))
    if (union == 0L) 0.0 else common.toDouble / union.toDouble
  }
  override def prettyName: String = "theta_jaccard"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

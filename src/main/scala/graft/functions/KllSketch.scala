package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Storable KLL quantile sketches as binary columns — third member of
  * the persistable-sketch surface ([[HllSketch]] distinct, [[MgSketch]]
  * heavy hitters, this for ranks/quantiles; the reference's quantile
  * surface is SampleQuantileSketch + exact NumericSamples). KLL
  * (Karnin-Lang-Liberty 2016): per level i a buffer of items with
  * weight 2^i; a full level sorts, keeps alternate items (deterministic
  * xorshift coin derived from the build seed — reproducible for a given
  * partition layout), and promotes them one level up. Capacities decay
  * geometrically (k·(2/3)^depth, floor 8), giving O(k·log(n/k)) space
  * and ε ≈ O(1/k) rank error. Merge concatenates levels then re-compacts
  * — associative up to the guarantee (like MG, sketch BYTES are not
  * canonical across partitionings; the rank-error bound is, and that is
  * what queries may rely on: bound-gated, or candidates-then-verify).
  *
  * Blob layout: [k:int][n:long][seed:long][nlevels:int]
  * ([len:int][doubles]*)*nlevels.
  */
object KllSketch {
  val DefaultK = 200

  def kll_build(c: Column, k: Int = DefaultK): Column = Sketch.build(c, Kll(k))

  def kll_merge(c: Column): Column = Sketch.merge(c, Kll(DefaultK))

  /** Quantile of a sketch blob at fraction q ∈ [0, 1]. */
  def kll_quantile(c: Column, q: Double): Column =
    graftshim.exprToColumn(KllQuantile(graftshim.columnToExpr(c), q))

  final class Buf(
      val k: Int,
      var n: Long,
      var seed: Long,
      val levels: ArrayBuffer[ArrayBuffer[Double]]) extends Serializable

  def emptyBuf(k: Int): Buf =
    new Buf(k, 0L, 0x9E3779B97F4A7C15L, ArrayBuffer(ArrayBuffer.empty[Double]))

  private def capacity(k: Int, level: Int, numLevels: Int): Int =
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, numLevels - 1 - level)).toInt)

  private def nextBit(b: Buf): Int = {
    // xorshift64* step; deterministic given the build's history
    var x = b.seed
    x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
    b.seed = x
    ((x * 0x2545F4914F6CDD1DL) >>> 63).toInt
  }

  private def compactLevel(b: Buf, i: Int): Unit = {
    if (i == b.levels.length - 1) b.levels += ArrayBuffer.empty[Double]
    val cur = b.levels(i).sortInPlace()
    val offset = nextBit(b)
    val up = b.levels(i + 1)
    var j = offset
    while (j < cur.length) { up += cur(j); j += 2 }
    b.levels(i) = ArrayBuffer.empty[Double]
  }

  private[graft] def compress(b: Buf): Unit = {
    var i = 0
    while (i < b.levels.length) {
      if (b.levels(i).length > capacity(b.k, i, b.levels.length)) compactLevel(b, i)
      i += 1
    }
  }

  private[graft] def add(b: Buf, v: Double): Unit = {
    b.levels(0) += v
    b.n += 1L
    if (b.levels(0).length > capacity(b.k, 0, b.levels.length)) compress(b)
  }

  private[graft] def mergeBufs(a: Buf, b: Buf): Buf = {
    if (b.n == 0L) return a
    if (a.n == 0L) return b
    require(a.k == b.k,
      s"cannot merge KLL sketches with different k (${a.k} vs ${b.k})")
    while (a.levels.length < b.levels.length) a.levels += ArrayBuffer.empty[Double]
    var i = 0
    while (i < b.levels.length) { a.levels(i) ++= b.levels(i); i += 1 }
    a.n += b.n
    a.seed ^= java.lang.Long.rotateLeft(b.seed, 17)
    compress(a)
    a
  }

  /** (value, weight) pairs sorted by value with cumulative weights. */
  private def weighted(b: Buf): (Array[Double], Array[Long]) = {
    val items = ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < b.levels.length) {
      val w = 1L << i
      b.levels(i).foreach(v => items += ((v, w)))
      i += 1
    }
    val sorted = items.sortBy(_._1).toArray
    val cum = new Array[Long](sorted.length)
    var acc = 0L
    var j = 0
    while (j < sorted.length) { acc += sorted(j)._2; cum(j) = acc; j += 1 }
    (sorted.map(_._1), cum)
  }

  private[graft] def quantile(b: Buf, q: Double): Double = {
    val (vs, cum) = weighted(b)
    if (vs.isEmpty) return Double.NaN
    val total = cum.last
    val target = math.max(1L, math.ceil(q * total).toLong)
    var lo = 0
    var hi = vs.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) < target) lo = mid + 1 else hi = mid
    }
    vs(lo)
  }

  /** Estimated rank (fraction of items < v). */
  private[graft] def rank(b: Buf, v: Double): Double = {
    var below = 0L
    var total = 0L
    var i = 0
    while (i < b.levels.length) {
      val w = 1L << i
      b.levels(i).foreach { x =>
        total += w
        if (x < v) below += w
      }
      i += 1
    }
    if (total == 0L) Double.NaN else below.toDouble / total
  }

  private[graft] def serialize(b: Buf): Array[Byte] = {
    val sz = 4 + 8 + 8 + 4 + b.levels.map(l => 4 + 8 * l.length).sum
    val bb = java.nio.ByteBuffer.allocate(sz)
    bb.putInt(b.k); bb.putLong(b.n); bb.putLong(b.seed)
    bb.putInt(b.levels.length)
    b.levels.foreach { l =>
      bb.putInt(l.length)
      l.foreach(bb.putDouble)
    }
    bb.array()
  }

  private[graft] def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt
    val n = bb.getLong
    val seed = bb.getLong
    val nl = bb.getInt
    val levels = ArrayBuffer.empty[ArrayBuffer[Double]]
    var i = 0
    while (i < nl) {
      val len = bb.getInt
      val l = new ArrayBuffer[Double](len)
      var j = 0
      while (j < len) { l += bb.getDouble; j += 1 }
      levels += l
      i += 1
    }
    new Buf(k, n, seed, levels)
  }
}

/** The KLL family as a [[Sketch]]: numeric values as doubles into a
  * k-sized buffer. An empty buffer adopts whatever it merges with, so
  * the merge side needs no sentinel of its own.
  */
case class Kll(k: Int) extends Sketch[KllSketch.Buf] {
  require(k >= 8, s"kll k=$k too small")

  def name: String = "kll"
  def zero: KllSketch.Buf = KllSketch.emptyBuf(k)

  def add(buf: KllSketch.Buf, value: Any, dt: DataType): KllSketch.Buf = {
    val d = value match {
      case x: Double  => x
      case x: Float   => x.toDouble
      case x: Long    => x.toDouble
      case x: Int     => x.toDouble
      case x: Short   => x.toDouble
      case x: Byte    => x.toDouble
      case x: Decimal => x.toDouble
      case x          => x.toString.toDouble
    }
    KllSketch.add(buf, d)
    buf
  }

  def merge(a: KllSketch.Buf, b: KllSketch.Buf): KllSketch.Buf = KllSketch.mergeBufs(a, b)
  def serialize(buf: KllSketch.Buf): Array[Byte] = KllSketch.serialize(buf)
  def deserialize(bytes: Array[Byte]): KllSketch.Buf = KllSketch.deserialize(bytes)
}

/** `kll_quantile(sketch, q)` → double. CodegenFallback: sketch-sized
  * frames only.
  */
case class KllQuantile(child: Expression, q: Double)
    extends UnaryExpression with CodegenFallback {
  require(q >= 0.0 && q <= 1.0, s"quantile fraction $q outside [0, 1]")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    KllSketch.quantile(KllSketch.deserialize(v.asInstanceOf[Array[Byte]]), q)

  override def prettyName: String = "kll_quantile"
  override protected def withNewChildInternal(newChild: Expression): KllQuantile =
    copy(child = newChild)
}

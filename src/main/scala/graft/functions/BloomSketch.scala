package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** Persistable mergeable BLOOM FILTER — the membership member of the
  * storable-sketch family (HLL: distinct counts; MG: heavy hitters;
  * KLL: quantiles; theta: set cardinality algebra; Bloom: "have we
  * seen exactly this value?"). The decontamination/dedup question the
  * others cannot answer from stored state: theta estimates |A∩B|, but
  * only a Bloom answers per-VALUE membership without rescanning A —
  * the broadcast-Bloom decontamination pass
  * ([[graft.text.TextAnalysis]] contaminationBloom) builds one ad hoc;
  * this makes the same structure a STORED, mergeable blob, so the eval
  * set's filter is built once and shipped to every future crawl.
  *
  * Blob layout: [mBits:int][k:int][bitset bytes, mBits/8]. Merge is
  * bitwise OR — a commutative idempotent monoid, so partition-merge
  * equals the whole-corpus build BIT FOR BIT and re-merging shards is
  * harmless. Hashes: double hashing h1 + i·h2 (Kirsch-Mitzenmacher)
  * over xxhash64 seeds 41/43 — deterministic, no RNG state.
  * One-sided error: membership NEVER false-negative; false-positive
  * rate ≈ (1 − e^(−k·n/m))^k, property-gated.
  */
object BloomSketch {
  val DefaultBits = 1 << 16 // 8 KiB blob
  val DefaultK = 6

  def bloom_build(c: Column, mBits: Int = DefaultBits, k: Int = DefaultK): Column =
    Sketch.build(c, Bloom(mBits, k))

  def bloom_merge(c: Column): Column = Sketch.merge(c, Bloom(DefaultBits, DefaultK))

  def bloom_might_contain(blob: Column, v: Column): Column =
    graftshim.exprToColumn(BloomMightContain(
      graftshim.columnToExpr(blob), graftshim.columnToExpr(v)))

  def bloom_fill(blob: Column): Column =
    graftshim.exprToColumn(BloomFill(graftshim.columnToExpr(blob)))

  // ── internals ──────────────────────────────────────────────────────

  private[graft] def empty(mBits: Int, k: Int): Array[Byte] = {
    require(mBits % 8 == 0 && mBits > 0, s"mBits must be a positive multiple of 8")
    require(k > 0, "k must be positive")
    val b = new Array[Byte](8 + mBits / 8)
    val bb = java.nio.ByteBuffer.wrap(b)
    bb.putInt(mBits).putInt(k)
    b
  }

  private[graft] def mBitsOf(b: Array[Byte]): Int =
    java.nio.ByteBuffer.wrap(b).getInt(0)
  private[graft] def kOf(b: Array[Byte]): Int =
    java.nio.ByteBuffer.wrap(b).getInt(4)

  /** Kirsch-Mitzenmacher positions from the TWO INDEPENDENT 32-bit
    * halves of the 64-bit hash: with a power-of-two m, (h1 + i·h2)
    * mod m reads only low bits — deriving h2 FROM h1 (the classic
    * shortcut h2 = c·h1 + 1) collapses the signature universe to
    * m distinct signatures and was measured at 3.7% FP where theory
    * says 0.002%; independent halves restore the 2⁶⁴ universe. */
  @inline private def pos(hash: Long, i: Int, m: Int): Int = {
    val h1 = hash & 0xffffffffL
    val h2 = (hash >>> 32) | 1L // odd ⇒ full-period step
    java.lang.Long.remainderUnsigned(h1 + i * h2, m).toInt
  }

  /** Set the k double-hashing bit positions of `hash` in place. */
  private[graft] def addHash(blob: Array[Byte], hash: Long): Unit = {
    val m = mBitsOf(blob); val k = kOf(blob)
    var i = 0
    while (i < k) {
      val bit = pos(hash, i, m)
      blob(8 + (bit >> 3)) = (blob(8 + (bit >> 3)) | (1 << (bit & 7))).toByte
      i += 1
    }
  }

  private[graft] def containsHash(blob: Array[Byte], hash: Long): Boolean = {
    val m = mBitsOf(blob); val k = kOf(blob)
    var i = 0
    while (i < k) {
      val bit = pos(hash, i, m)
      if ((blob(8 + (bit >> 3)) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  private[graft] def orInto(a: Array[Byte], b: Array[Byte]): Unit = {
    require(mBitsOf(a) == mBitsOf(b) && kOf(a) == kOf(b),
      s"cannot merge blooms with different geometry " +
        s"(${mBitsOf(a)}/${kOf(a)} vs ${mBitsOf(b)}/${kOf(b)})")
    var i = 8
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
  }

  private[graft] def valueHash(v: Any, dt: DataType): Long =
    XxHash64Function.hash(v, dt, 41L)

  /** Fraction of set bits — the load factor the FP formula reads. */
  private[graft] def fill(blob: Array[Byte]): Double = {
    var set = 0L
    var i = 8
    while (i < blob.length) {
      set += java.lang.Integer.bitCount(blob(i) & 0xff); i += 1
    }
    set.toDouble / mBitsOf(blob)
  }
}

/** The Bloom family as a [[Sketch]]: an mBits/k filter over
  * [[BloomSketch.valueHash]]. The buffer is the blob itself. The merge
  * side starts from an empty sentinel that adopts (a copy of) the first
  * folded blob's geometry; a merge of no blobs yields an empty filter.
  */
case class Bloom(mBits: Int, k: Int) extends Sketch[Array[Byte]] {
  def name: String = "bloom"
  def zero: Array[Byte] = BloomSketch.empty(mBits, k)
  override def mergeZero: Array[Byte] = Array.emptyByteArray

  def add(buf: Array[Byte], value: Any, dt: DataType): Array[Byte] = {
    BloomSketch.addHash(buf, BloomSketch.valueHash(value, dt))
    buf
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (b.isEmpty) a
    else if (a.isEmpty) b.clone()
    else { BloomSketch.orInto(a, b); a }

  def serialize(buf: Array[Byte]): Array[Byte] = buf
  def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def result(buf: Array[Byte]): Array[Byte] = if (buf.isEmpty) zero else buf
}

/** `bloom_might_contain(blob, value)`: one-sided membership. Evaluated
  * per probe row against a (usually broadcast) blob column. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(blob: Any, v: Any): Any =
    BloomSketch.containsHash(blob.asInstanceOf[Array[Byte]],
      BloomSketch.valueHash(v, right.dataType))
  override def prettyName: String = "bloom_might_contain"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/** `bloom_fill(blob)`: set-bit fraction (observability: the load the
  * FP formula reads). */
case class BloomFill(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    BloomSketch.fill(v.asInstanceOf[Array[Byte]])
  override def prettyName: String = "bloom_fill"
  override protected def withNewChildInternal(newChild: Expression): BloomFill =
    copy(child = newChild)
}

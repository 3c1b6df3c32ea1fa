package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Persistable, mergeable HyperLogLog sketches as binary columns.
  *
  * The reference's HLogLog (platform/src/main/java/org/hillview/sketches/
  * HLogLog.java) lives only inside one sketch invocation: registers are
  * built per leaf, merged up the dataset tree, and the count is returned —
  * the sketch itself is never a value a user can store. At 100 TB the
  * storable form is the point: build per-partition/per-source register
  * arrays ONCE (one scan), persist them as ordinary binary cells next to
  * the partition metadata, and answer later "distinct across any subset /
  * after any new delta" queries by max-merging kilobyte sketches instead
  * of rescanning the corpus. This is the same partial-aggregate monoid
  * discipline Spark applies within a job, lifted to a cross-job surface.
  *
  * Layout: 2^p byte registers (dense; p ≤ 18 keeps a sketch ≤ 256 KB).
  * Register i holds max(ρ(w)) over hashed values routed to i by their top
  * p hash bits, ρ = leading-zero rank of the remaining 64-p bits. Merge =
  * elementwise max — associative, commutative, idempotent, so partition
  * order and duplicate deltas cannot change the result, and the estimate
  * is fully deterministic for a given input set (xxhash64, seed 42).
  * Estimator: classic HLL alpha correction with the linear-counting
  * small-range branch (Flajolet et al. 2007); rsd ≈ 1.04/√(2^p).
  */
object HllSketch {
  val DefaultP = 12

  def hll_build(c: Column, p: Int = DefaultP): Column = Sketch.build(c, Hll(p))

  def hll_merge(c: Column): Column = Sketch.merge(c, Hll(DefaultP))

  def hll_estimate(c: Column): Column =
    graftshim.exprToColumn(HllEstimate(graftshim.columnToExpr(c)))

  private[graft] def emptyRegisters(p: Int): Array[Byte] =
    new Array[Byte](1 << p)

  private[graft] def addHash(regs: Array[Byte], hash: Long): Unit = {
    val p = Integer.numberOfTrailingZeros(regs.length)
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    // rank of the first 1-bit in the suffix; all-zero suffix gets the max
    val rank = (if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
    val r = math.min(rank, 64 - p + 1).toByte
    if (r > regs(idx)) regs(idx) = r
  }

  private[graft] def maxMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length,
      s"cannot merge HLL sketches of different precision (${a.length} vs ${b.length} registers)")
    var i = 0
    while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  private[graft] def estimate(regs: Array[Byte]): Double = {
    val m = regs.length
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs(i) & 0xff
      sum += java.lang.Math.scalb(1.0, -r) // 2^-r
      if (r == 0) zeros += 1
      i += 1
    }
    val e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }
}

/** The HLL family as a [[Sketch]]: 2^p registers, values routed by
  * xxhash64 seed 42. The merge side starts from an empty sentinel that
  * adopts (a copy of) the first folded sketch, so merging never fixes a
  * precision of its own; a merge of no sketches yields empty 2^p
  * registers.
  */
case class Hll(p: Int) extends Sketch[Array[Byte]] {
  require(p >= 4 && p <= 18, s"hll precision p=$p outside [4, 18]")

  def name: String = "hll"
  def zero: Array[Byte] = HllSketch.emptyRegisters(p)
  override def mergeZero: Array[Byte] = Array.emptyByteArray

  def add(buf: Array[Byte], value: Any, dt: DataType): Array[Byte] = {
    HllSketch.addHash(buf, XxHash64Function.hash(value, dt, 42L))
    buf
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (b.isEmpty) a else if (a.isEmpty) b.clone() else HllSketch.maxMerge(a, b)

  def serialize(buf: Array[Byte]): Array[Byte] = buf
  def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def result(buf: Array[Byte]): Array[Byte] = if (buf.isEmpty) zero else buf
}

/** `hll_estimate(sketch)`: distinct-count estimate of a binary sketch.
  * CodegenFallback: evaluated on sketch-sized frames (one row per
  * source/partition), never in a corpus-width hot path.
  */
case class HllEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    HllSketch.estimate(v.asInstanceOf[Array[Byte]])

  override def prettyName: String = "hll_estimate"
  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}

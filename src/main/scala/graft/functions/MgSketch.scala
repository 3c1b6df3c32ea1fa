package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Storable Misra-Gries heavy-hitter sketches as binary columns — the
  * second member of the persistable-sketch surface next to
  * [[HllSketch]] (reference: MGFreqKSketch; merge per Agarwal et al.
  * "Mergeable Summaries"). Build a ≤cap-entry summary per source or
  * partition in one scan, persist the kilobyte blob, and combine any
  * subset later with `mg_merge` — the merged summary keeps the MG
  * guarantee (every key with true count > N/(cap+1) over the UNION is
  * present, counts are lower bounds with deficit ≤ N/(cap+1)), so a
  * candidates → exact-verify pass on top of merged sketches yields
  * exact heavy hitters without ever rescanning the full corpus history.
  *
  * Unlike HLL registers, an MG summary depends on processing order, so
  * sketch BYTES are not canonical — only the guarantee is. Queries must
  * consume candidates via exact verification (the heavy_mg pattern),
  * never the raw counts.
  *
  * Blob layout: [n:int][len:int key-utf8 count:long]*n.
  */
object MgSketch {
  def mg_build(c: Column, cap: Int): Column = Sketch.build(c, Mg(cap))

  def mg_merge(c: Column, cap: Int): Column = Sketch.merge(c, Mg(cap))

  def mg_entries(c: Column): Column =
    graftshim.exprToColumn(MgEntries(graftshim.columnToExpr(c)))

  private[functions] def serialize(m: mutable.HashMap[String, Long]): Array[Byte] = {
    val keys = m.iterator.map { case (k, c) =>
      (k.getBytes(StandardCharsets.UTF_8), c)
    }.toArray
    val bb = java.nio.ByteBuffer.allocate(
      4 + keys.map(_._1.length + 12).sum)
    bb.putInt(keys.length)
    keys.foreach { case (k, c) => bb.putInt(k.length); bb.put(k); bb.putLong(c) }
    bb.array()
  }

  private[graft] def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val k = new Array[Byte](len)
      bb.get(k)
      m.update(new String(k, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    m
  }

  /** The Misra-Gries core, shared by every MG summary in the engine
    * (the aggregates here, [[MisraGries.MGAggregator]] and the streaming
    * heavy hitters): the streaming update over a bounded key → count map. A key already counted gains one; a new key takes a
    * free slot; with all `cap` slots taken, the row is dropped and every
    * counter loses one (zeros leave). `own` runs only on an inserted key,
    * so a key backed by a reused buffer is copied once per insert.
    */
  private[graft] def add[K](m: mutable.HashMap[K, Long], v: K, cap: Int)(own: K => K): Unit = {
    val c = m.getOrElse(v, 0L)
    if (c > 0L) m.update(v, c + 1L)
    else if (m.size < cap) m.update(own(v), 1L)
    else {
      m.filterInPlace((_, c) => c > 1L)
      m.mapValuesInPlace((_, c) => c - 1L)
    }
  }

  /** Mergeable-summaries combine: add counts, subtract the (cap+1)-th
    * largest, keep positives. Merges `b` into `a` and returns `a`.
    */
  private[graft] def combine[K](
      a: mutable.HashMap[K, Long],
      b: mutable.HashMap[K, Long],
      cap: Int): mutable.HashMap[K, Long] = {
    b.foreach { case (key, c) => a.update(key, a.getOrElse(key, 0L) + c) }
    if (a.size > cap) {
      val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(cap)
      a.filterInPlace((_, c) => c > cut)
      a.mapValuesInPlace((_, c) => c - cut)
    }
    a
  }
}

/** The Misra-Gries family as a [[Sketch]]: a ≤cap-entry summary of
  * string keys (each value's `toString`). Both sides start empty and
  * merge by [[MgSketch.combine]] at the same cap.
  */
case class Mg(cap: Int) extends Sketch[mutable.HashMap[String, Long]] {
  require(cap >= 1, s"mg cap=$cap must be positive")

  def name: String = "mg"
  def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty

  def add(buf: mutable.HashMap[String, Long], value: Any,
      dt: DataType): mutable.HashMap[String, Long] = {
    MgSketch.add(buf, value.toString, cap)(identity)
    buf
  }

  def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] =
    MgSketch.combine(a, b, cap)

  def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = MgSketch.serialize(buf)
  def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = MgSketch.deserialize(bytes)
}

/** Misra-Gries over a key TUPLE, the one-pass half of heavy hitters:
  * `children` are the key columns, and the buffer maps each key tuple
  * to its count, at most `cap` entries. The tuple is an UnsafeRow,
  * projected per row and copied only on insert. Keys group exactly as
  * `groupBy(children)` does: float and double keys are normalized
  * (NaN = NaN, -0.0 = 0.0), the caller keeps every key type
  * binary-stable (`UnsafeRowUtils.isBinaryStable`), and a null inside the
  * tuple is a key value.
  *
  * The counts sum to the input row count exactly when no decrement or
  * merge cut ever ran, and then every count is exact.
  *
  * Result and wire format: [n:int]([len:int row-bytes count:long])*n,
  * read back with [[MgTupleAgg.decode]].
  */
case class MgTupleAgg(
    children: Seq[Expression],
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UnsafeRow, Long]] {

  require(cap >= 1, s"mg cap=$cap must be positive")

  @transient private lazy val keyOf =
    UnsafeProjection.create(children.map(graftshim.normalizeFloats))

  override def createAggregationBuffer(): mutable.HashMap[UnsafeRow, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UnsafeRow, Long], input: InternalRow): mutable.HashMap[UnsafeRow, Long] = {
    MgSketch.add(buf, keyOf(input), cap)(_.copy())
    buf
  }

  override def merge(
      a: mutable.HashMap[UnsafeRow, Long],
      b: mutable.HashMap[UnsafeRow, Long]): mutable.HashMap[UnsafeRow, Long] =
    MgSketch.combine(a, b, cap)

  override def eval(buf: mutable.HashMap[UnsafeRow, Long]): Any = serialize(buf)
  override def serialize(buf: mutable.HashMap[UnsafeRow, Long]): Array[Byte] =
    MgTupleAgg.encode(buf)
  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UnsafeRow, Long] =
    mutable.HashMap.from(MgTupleAgg.decode(bytes, children.size))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "mg_tuple"

  override def withNewMutableAggBufferOffset(newOffset: Int): MgTupleAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgTupleAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MgTupleAgg =
    copy(children = newChildren)
}

object MgTupleAgg {
  def encode(m: mutable.HashMap[UnsafeRow, Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(
      4 + m.keysIterator.map(_.getSizeInBytes + 12).sum)
    bb.putInt(m.size)
    m.foreach { case (k, c) =>
      bb.putInt(k.getSizeInBytes)
      bb.put(k.getBytes)
      bb.putLong(c)
    }
    bb.array()
  }

  /** The (key tuple, count) entries of an encoded summary whose tuples
    * have `numFields` columns. */
  def decode(bytes: Array[Byte], numFields: Int): Array[(UnsafeRow, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bb.getInt) {
      val k = new Array[Byte](bb.getInt)
      bb.get(k)
      val row = new UnsafeRow(numFields)
      row.pointTo(k, k.length)
      (row, bb.getLong)
    }
  }
}

/** `mg_entries(sketch)` → array<struct<key string, lower_count long>>,
  * sorted by key for a stable row order. CodegenFallback: runs on
  * sketch-sized frames only.
  */
case class MgEntries(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", StringType), StructField("lower_count", LongType))),
    containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val m = MgSketch.deserialize(v.asInstanceOf[Array[Byte]])
    new GenericArrayData(
      m.toArray.sortBy(_._1).map { case (k, c) =>
        InternalRow(UTF8String.fromString(k), c)
      }.toArray[Any])
  }

  override def prettyName: String = "mg_entries"
  override protected def withNewChildInternal(newChild: Expression): MgEntries =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{BinaryType, DataType}

/** One storable sketch family as a monoid over a mutable buffer `B` —
  * the reference's ISketch (`zero`/`create`/`add`,
  * dataset/api/ISketch.java) for the sketches graft stores as binary
  * cells: [[Hll]], [[Theta]], [[Kll]], [[Bloom]] and [[Mg]]. The batch
  * `*_build`/`*_merge` aggregates ([[SketchAgg]]) and the streaming twins
  * (`graft.streaming.Events`) are both written once against this
  * interface, so a family's hashing, bounds and merge sentinels live in
  * its one instance.
  */
trait Sketch[B] extends Serializable {
  /** Family prefix of the SQL names `<name>_build` and `<name>_merge`. */
  def name: String

  /** The build side's start buffer. */
  def zero: B

  /** The merge side's start buffer, before a folded blob fixes the
    * geometry (an empty sentinel where the blob carries it). */
  def mergeZero: B = zero

  /** Fold one non-null Catalyst internal value of type `dt` into `buf`. */
  def add(buf: B, value: Any, dt: DataType): B

  /** Fold `b` into `a`; either may be reused for the result. */
  def merge(a: B, b: B): B

  def serialize(buf: B): Array[Byte]
  def deserialize(bytes: Array[Byte]): B

  /** The user-visible blob of a finished buffer. */
  def result(buf: B): Array[Byte] = serialize(buf)
}

object Sketch {
  /** `<name>_build(value)`: aggregate rows into a blob. */
  def build[B](c: Column, sketch: Sketch[B]): Column =
    graftshim.exprToColumn(
      SketchAgg(graftshim.columnToExpr(c), sketch, merging = false).toAggregateExpression())

  /** `<name>_merge(blob)`: combine already-built blobs. */
  def merge[B](c: Column, sketch: Sketch[B]): Column =
    graftshim.exprToColumn(
      SketchAgg(graftshim.columnToExpr(c), sketch, merging = true).toAggregateExpression())
}

/** The one build/merge aggregate of every [[Sketch]]: building folds
  * each non-null input value in with `add`, merging folds each non-null
  * input blob in with `merge`. Partial buffers travel as `serialize`d
  * bytes, and the result is the sketch's `result` blob.
  */
case class SketchAgg[B](
    child: Expression,
    sketch: Sketch[B],
    merging: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): B =
    if (merging) sketch.mergeZero else sketch.zero

  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v == null) buf
    else if (merging) sketch.merge(buf, sketch.deserialize(v.asInstanceOf[Array[Byte]]))
    else sketch.add(buf, v, child.dataType)
  }

  override def merge(a: B, b: B): B = sketch.merge(a, b)

  override def eval(buf: B): Any = sketch.result(buf)
  override def serialize(buf: B): Array[Byte] = sketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): B = sketch.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String =
    sketch.name + (if (merging) "_merge" else "_build")

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAgg[B] =
    copy(child = newChild)
}

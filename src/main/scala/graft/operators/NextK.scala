package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hillview's NextKSketch (sketches/NextKSketch.java:46-306): the table
  * view's "order by + seek + limit" — first K *distinct* sort-key tuples
  * at or after a pivot row, each with its multiplicity and optional
  * per-tuple aggregates (NextKSketchAggregate.java:24-60).
  *
  * Spark-first shape: filter(seek) → groupBy(sortCols) → agg → orderBy →
  * limit K. Catalyst plans partial+final HashAggregate (the monoid merge
  * of the reference) under a TakeOrderedAndProject. A plain `collect()`
  * shuffles every partial group to the final aggregate and takes K
  * there. Collected through [[graft.engine.SketchExec]] (as every
  * gesture is, via `Memo`), the order is the grouping keys', so the
  * frame runs as one job with no exchange: each partition returns only
  * the buffers of its K smallest keys and the driver keeps the K
  * smallest — the bounded result hillview's paper §7.1 credits for
  * beating a naive Spark baseline. No full sort ever materializes.
  */
object NextK {

  sealed trait AggKind
  case object SumAgg extends AggKind
  case object MinAgg extends AggKind
  case object MaxAgg extends AggKind
  case object AvgAgg extends AggKind
  final case class AggSpec(kind: AggKind, column: String, as: String)

  final case class Order(column: String, ascending: Boolean = true) {
    /** Missing sorts larger than any value (docs/userManual.md:181-185):
      * asc → nulls last, desc → nulls first.
      */
    def col: Column =
      if (ascending) org.apache.spark.sql.functions.col(column).asc_nulls_last
      else org.apache.spark.sql.functions.col(column).desc_nulls_first
  }

  def nextK(
      df: DataFrame,
      order: Seq[Order],
      k: Int,
      pivot: Option[Seq[Any]] = None,
      aggs: Seq[AggSpec] = Nil,
      exactSums: Boolean = true): DataFrame = {
    import graft.engine.Num
    val seeked = pivot match {
      case Some(p) =>
        // asc-only seek matches the reference's pagination gesture; mixed
        // asc/desc seeks would need per-column inversion.
        df.filter(Filters.rowSeek(order.map(o => col(o.column)), p))
      case None => df
    }
    val aggCols = count(lit(1)).as("cnt") +: aggs.map { a =>
      val c = col(a.column)
      (a.kind match {
        case SumAgg => if (exactSums) Num.sumExact(c) else sum(c)
        case MinAgg => min(c)
        case MaxAgg => max(c)
        case AvgAgg => if (exactSums) Num.avgExact(c) else avg(c)
      }).as(a.as)
    }
    seeked
      .groupBy(order.map(o => col(o.column)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(order.map(_.col): _*)
      .limit(k)
  }

  /** startPosition of the pivot (#rows strictly before it) — the second
    * half of the reference's NextKList. A single count aggregate: bounded
    * result, no shuffle of data rows.
    */
  def startPosition(df: DataFrame, order: Seq[Order], pivot: Seq[Any]): Long =
    df.filter(!Filters.rowSeek(order.map(o => col(o.column)), pivot)).count()
}

/** Full-table top-K under a RecordOrder (reference sorts are always
  * top-K: sketches/results/IntTreeTopK.java, MonoidTopK.java). Spark's
  * orderBy+limit plans TakeOrderedAndProject — per-partition heaps merged
  * at the driver, the same O(K) memory bound as the reference.
  */
object TopK {
  def topK(df: DataFrame, order: Seq[NextK.Order], k: Int): DataFrame =
    df.orderBy(order.map(_.col): _*).limit(k)
}

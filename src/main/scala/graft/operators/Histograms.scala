package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Hillview's histogram family (sketches/HistogramSketch.java,
  * Histogram2DSketch, HeatmapSketch, DataWithCDFSketch; bucket defs in
  * sketches/results/{Double,Explicit,String}HistogramBuckets.java).
  *
  * Buckets are expressions, so the whole histogram is one partial+final
  * HashAggregate pass over the scan — identical dataflow to the
  * reference's per-partition sketch + monoid merge, with whole-stage
  * codegen for free. Result size is O(#buckets), independent of table
  * size: the driver never sees data rows.
  */
object Histograms {

  /** Equal-width numeric bucket over [lo, hi]; hi-edge values clamp into
    * the last bucket (DoubleHistogramBuckets semantics). Values outside
    * the range should be filtered out by the caller (the reference
    * computes the range first — see dataRange in Stats).
    *
    * The expression `least(floor((x - lo) / ((hi - lo)/n)), n-1)` uses
    * only IEEE-deterministic ops, so a SQL oracle evaluating the same
    * formula gets bit-identical bucket ids.
    */
  def numericBucket(c: Column, lo: Double, hi: Double, n: Int): Column = {
    val step = (hi - lo) / n.toDouble
    least(floor((c - lit(lo)) / lit(step)), lit(n - 1)).cast(IntegerType)
  }

  /** Explicit boundaries: bucket i covers [bounds(i), bounds(i+1)), last
    * bucket closed (ExplicitHistogramBuckets). Encoded as a CASE chain —
    * codegen-friendly, oracle-expressible.
    */
  def explicitBucket(c: Column, bounds: Seq[Double]): Column =
    bounds.sliding(2).zipWithIndex.foldLeft(lit(null).cast(IntegerType)) {
      case (acc, (Seq(lo, hi), i)) =>
        val isLast = i == bounds.size - 2
        val cond = if (isLast) c >= lit(lo) && c <= lit(hi)
                   else c >= lit(lo) && c < lit(hi)
        when(cond, lit(i)).otherwise(acc)
    }

  /** String buckets: ranges between sorted boundary strings
    * (StringHistogramBuckets) — bucket i = [bounds(i), bounds(i+1)),
    * last unbounded above. Uses binary (UTF8) string comparison on both
    * Spark and the oracle side.
    */
  def stringBucket(c: Column, bounds: Seq[String]): Column =
    bounds.zipWithIndex.tail.foldLeft(lit(0)) { case (acc, (b, i)) =>
      when(c >= lit(b), lit(i)).otherwise(acc)
    }

  /** 1-D histogram: one aggregation pass; missing values get bucket -1
    * (hillview keeps a dedicated missing counter, Groups.perMissing).
    */
  def histogram1D(df: DataFrame, bucket: Column): DataFrame =
    df.groupBy(when(bucket.isNull, lit(-1)).otherwise(bucket).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** 2-D histogram (Histogram2DSketch): groupBy two bucket expressions. */
  def histogram2D(df: DataFrame, bx: Column, by: Column): DataFrame =
    df.groupBy(bx.as("bx"), by.as("by")).agg(count(lit(1)).as("cnt"))

  /** 3-/4-D nested histograms (Histogram3DSketch/Histogram4DSketch —
    * Trellis chart views): groupBy N bucket expressions, one pass.
    */
  def histogramND(df: DataFrame, buckets: Seq[(String, Column)]): DataFrame =
    df.groupBy(buckets.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("cnt"))

  /** Heatmap with singleton detail (HeatmapSketch + CountAndSingleton):
    * per cell, the count plus a representative value exposed only when
    * the cell holds exactly one row.
    */
  def heatmapWithSingleton(
      df: DataFrame, bx: Column, by: Column, detail: Column): DataFrame =
    df.groupBy(bx.as("bx"), by.as("by"))
      .agg(count(lit(1)).as("cnt"), min(detail).as("det"))
      .withColumn("singleton", when(col("cnt") === 1, col("det")))
      .drop("det")

  /** 1-D histogram retaining the row detail of singleton buckets
    * (HistogramAndSingletonSketch — the 1-D form of the heatmap's
    * CountAndSingleton cells).
    */
  def histogramWithSingleton(df: DataFrame, bucket: Column, detail: Column): DataFrame =
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"), min(detail).as("det"))
      .withColumn("singleton", when(col("cnt") === 1, col("det")))
      .drop("det")

  /** Histogram + CDF in one result (DataWithCDFSketch): bucket counts
    * plus running cumulative sum. The window runs over O(#buckets) rows
    * post-aggregation — a driver-sized frame, not a data-sized one, so
    * the single-partition window is safe at any scale. Collected through
    * [[graft.engine.SketchExec]], the window runs on the driver over the
    * merged histogram, as hillview's root sums the CDF, and the gesture
    * is one Spark job.
    */
  def histogramWithCdf(df: DataFrame, bucket: Column): DataFrame =
    histogram1D(df, bucket).withColumn(
      "cdf",
      sum(col("cnt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Per-bucket quantile vectors (HistogramQuantilesSketch →
    * "box-and-whisker per bar"). Exact percentile here (oracle-checkable);
    * the scale path swaps in percentile_approx — same plan shape.
    */
  def bucketQuantiles(
      df: DataFrame, bucket: Column, value: Column,
      quantiles: Seq[Double]): DataFrame = {
    val aggs = quantiles.zipWithIndex.map { case (q, i) =>
      round(expr(s"percentile(__qv, $q)"), 4).as(s"q$i")
    }
    df.withColumn("__qv", value)
      .groupBy(bucket.as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Scale path for per-bucket quantiles: percentile_approx (mergeable
    * bounded sketch per group — rank error ≤ 1/accuracy) instead of the
    * exact percentile, which buffers every group value in memory. Same
    * plan shape, same column names; the reference itself answers these
    * from per-bucket reservoir samples (NumericSamplesSketch), so the
    * approximate form is the higher-fidelity mapping.
    */
  def bucketQuantilesApprox(
      df: DataFrame, bucket: Column, value: Column,
      quantiles: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val aggs = quantiles.zipWithIndex.map { case (q, i) =>
      round(expr(s"percentile_approx(__qv, $q, $accuracy)"), 4).as(s"q$i")
    }
    df.withColumn("__qv", value)
      .groupBy(bucket.as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** 2-D twin of bucketQuantilesApprox (Histogram2DQuantilesSketch's
    * scale path): bounded sketch state per (b1, b2) cell instead of
    * buffering every cell value.
    */
  def bucketQuantilesApprox2D(
      df: DataFrame, b1: Column, b2: Column, value: Column,
      quantiles: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val aggs = quantiles.zipWithIndex.map { case (q, i) =>
      round(expr(s"percentile_approx(__qv, $q, $accuracy)"), 4).as(s"q$i")
    }
    df.withColumn("__qv", value)
      .groupBy(b1.as("b1"), b2.as("b2"))
      .agg(aggs.head, aggs.tail: _*)
  }
}

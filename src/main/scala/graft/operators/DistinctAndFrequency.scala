package graft.operators

import graft.functions.MgTupleAgg
import graft.streaming.Memo
import org.apache.spark.sql.{Column, DataFrame, graftshim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, CreateStruct,
  Descending, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distinct-count and heavy-hitter family (sketches/HLogLogSketch.java,
  * MGFreqKSketch.java:49-175, ExactFreqSketch.java,
  * SampleDistinctElementsSketch.java, NIThresholdSketch.java).
  */
object DistinctAndFrequency {

  /** Exact distinct count — oracle-checkable form of HLogLogSketch. */
  def distinctCount(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(countDistinct(col(cols.head), cols.tail.map(col): _*).as("n_distinct"))

  /** HyperLogLog distinct count (HLogLogSketch.java:30-77): Spark's
    * native HLL++ — bounded sketch merged partial/final, exactly the
    * reference's monoid. Approximate → rows-only driver check.
    */
  def approxDistinctCount(df: DataFrame, column: String, rsd: Double = 0.05): DataFrame =
    df.agg(approx_count_distinct(col(column), rsd).as("approx_distinct"))

  /** Per-group HLL++ distinct counts (the reference's GroupBy-combinator
    * over HLogLogSketch — one bounded sketch per group, merged
    * partial/final like any aggregate). Approximate → rows-only gate,
    * per-group error property-gated.
    */
  def approxDistinctByGroup(df: DataFrame, groupCol: String, column: String,
      rsd: Double = 0.02): DataFrame =
    df.groupBy(col(groupCol))
      .agg(approx_count_distinct(col(column), rsd).as("approx_distinct"))

  /** Count-Min frequency estimates for requested items (the sketch
    * cousin of Misra-Gries: bounded depth×width counters, mergeable
    * partial/final, one-sided error — estimate ∈ [true, true + εN] with
    * prob. 1-δ). Spark's `stat.countMinSketch` does the distributed
    * build; the probe is a driver-side lookup over the requested items
    * (O(items) rows out, like any sketch result).
    */
  def countMinFreq(df: DataFrame, column: String, items: Seq[String],
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cms = df.stat.countMinSketch(col(column), eps, confidence, seed)
    items.map(v => (v, cms.estimateCount(v))).toDF(column, "est_count")
  }

  /** Exact heavy hitters over a column tuple: groupBy + HAVING count ≥
    * ε·N. One scan: the total N is the sum of the group counts, taken by
    * a window over the O(#groups) aggregate result (driver-sized frame —
    * no second pass over the data).
    */
  def heavyHittersExact(df: DataFrame, cols: Seq[String], epsilon: Double): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cnt") >= ceil(lit(epsilon) * col("__n")))
      .drop("__n")
      .orderBy(col("cnt").desc, struct(cols.map(col): _*).asc)

  /** Misra-Gries heavy hitters — the reference's production path
    * (MGFreqKSketch → ExactFreqSketch, web RPC `checkHeavy`). One
    * aggregation runs the tuple-keyed MG summary ([[MgTupleAgg]],
    * bounded state per partition, merged like any sketch) beside the
    * exact row count n, as one Spark job collected through [[Memo]], so
    * a replayed gesture finds the summary there and scans nothing. When the
    * summary's counts sum to n, no counter was ever cut, so the summary IS the exact frequency table: the
    * result is built on the driver from its ≤cap entries, with no second
    * scan, and collecting it starts no Spark job. Only a saturated
    * summary (more distinct keys than cap) pays for the verify scan,
    * which recounts the candidates exactly through a broadcast
    * null-safe semi-join. MG guarantees no false negatives above ε·n,
    * so both paths equal [[heavyHittersExact]] row for row — DuckDB
    * oracle-checkable while exercising the custom sketch.
    */
  def heavyHittersMG(df: DataFrame, cols: Seq[String], epsilon: Double): DataFrame = {
    val spark = df.sparkSession
    val cap = math.max(16, math.ceil(2.0 / epsilon).toInt)
    val keys = df.select(cols.map(col): _*)
    val keyAttrs = graftshim.analyzedPlan(keys).output
    keyAttrs.foreach { a =>
      require(UnsafeRowUtils.isBinaryStable(a.dataType),
        s"heavy hitters key `${a.name}` has type ${a.dataType.catalogString}, " +
          "whose equal values can differ in bytes; cast it to a binary-stable type")
    }
    val mg = MgTupleAgg(keyAttrs, cap).toAggregateExpression()
    val summary = Memo.collectMemoized(keys.agg(graftshim.exprToColumn(mg), count(lit(1)))).head
    val entries = MgTupleAgg.decode(summary.getAs[Array[Byte]](0), cols.size)
    val n = summary.getLong(1)
    val minCnt = math.ceil(epsilon * n).toLong
    if (entries.iterator.map(_._2).sum == n) {
      // exact: the entries are the whole frequency table
      val out = keyAttrs.map(_.newInstance()) :+
        AttributeReference("cnt", LongType, nullable = false)()
      val order = new InterpretedOrdering(Seq(
        SortOrder(out.last, Descending), SortOrder(CreateStruct(out.init), Ascending)), out)
      val keyTypes = keyAttrs.map(_.dataType)
      val rows = entries.collect { case (k, c) if c >= minCnt =>
        InternalRow.fromSeq(k.toSeq(keyTypes) :+ c)
      }
      graftshim.ofRows(spark, LocalRelation(out, rows.sorted(order).toSeq))
    } else {
      val candAttrs = keyAttrs.indices.map(i =>
        AttributeReference(s"__mg$i", keyAttrs(i).dataType, keyAttrs(i).nullable)())
      val cand = graftshim.ofRows(spark, LocalRelation(candAttrs, entries.map(_._1).toSeq))
      val on = cols.indices.map(i => df.col(cols(i)) <=> cand.col(s"__mg$i")).reduce(_ && _)
      df.join(broadcast(cand), on, "left_semi")
        .groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= lit(minCnt))
        .orderBy(col("cnt").desc, struct(cols.map(col): _*).asc)
    }
  }

  /** Sampled heavy hitters (SampleHeavyHittersSketch.java): group-count
    * on a uniform sample, scaled back up. The reference's cheap first
    * pass before exact verification; approximate by construction.
    */
  def heavyHittersSampled(df: DataFrame, cols: Seq[String], epsilon: Double,
      fraction: Double = 0.1, seed: Long = 42L): DataFrame = {
    val sampled = df.sample(withReplacement = false, fraction, seed)
    val n = sampled.count()
    sampled.groupBy(cols.map(col): _*)
      .agg((count(lit(1)) / lit(fraction)).cast("long").as("est_cnt"))
      .filter(col("est_cnt") >= lit(math.ceil(epsilon * n / fraction)))
      .orderBy(col("est_cnt").desc, struct(cols.map(col): _*).asc)
  }

  /** ExactFreqSketch (sketches/ExactFreqSketch.java; web RPC `checkHeavy`
    * TableTarget.java:584-599): exact counts for an explicit candidate
    * tuple list. Semi-join restricts the scan to candidate rows before
    * the group-count; the final broadcast outer join reports absent
    * candidates as 0 (the reference returns a count per candidate,
    * present or not). Candidate list is O(k) — both joins broadcast.
    */
  def exactFrequencies(df: DataFrame, cols: Seq[String],
      candidates: Seq[Seq[String]]): DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    val cand = spark.createDataFrame(
      java.util.Arrays.asList(
        candidates.map(t => org.apache.spark.sql.Row.fromSeq(t)): _*), schema)
    val counts = df.join(broadcast(cand), cols, "left_semi")
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    broadcast(cand).join(counts, cols, "left")
      .select(cols.map(col) :+ coalesce(col("cnt"), lit(0L)).as("cnt"): _*)
  }

  /** Exact distinct values of a small-cardinality tuple
    * (DistinctStringsSketch — bounded result).
    */
  def distinctValues(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()
      .orderBy(cols.map(c => col(c).asc_nulls_last): _*)

  /** Functional-dependency discovery — the data-profiling classic
    * (TANE's level-1 check, the thing every schema explorer surfaces):
    * A → B holds exactly when distinct(A) = distinct(A, B); the
    * violation count (distinct(A,B) − distinct(A)) says how many
    * determinant classes carry more than one dependent value. All
    * ordered column pairs from ONE aggregation pass (the prefix
    * distinct counts the RLE layout audit also uses) — no self-joins,
    * no per-pair scans. Columns must be non-null. */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size == cols.distinct.size)
    val spark = df.sparkSession
    import spark.implicits._
    val singles = cols.map(c => countDistinct(col(c)).as(s"__s_$c"))
    val pairs = for {
      a <- cols; b <- cols if a != b
    } yield (a, b)
    // distinct of the unordered pair set suffices: d(a,b) = d(b,a)
    val pairSets = cols.combinations(2).toSeq
    val pairAggs = pairSets.map { p =>
      countDistinct(col(p(0)), col(p(1))).as(s"__p_${p(0)}_${p(1)}")
    }
    val row = df.agg((singles ++ pairAggs).head,
      (singles ++ pairAggs).tail: _*).head()
    val sIdx = cols.zipWithIndex.toMap
    val pIdx = pairSets.zipWithIndex.map { case (p, i) =>
      p.toSet -> (cols.size + i)
    }.toMap
    pairs.map { case (a, b) =>
      val da = row.getLong(sIdx(a))
      val dab = row.getLong(pIdx(Set(a, b)))
      (a, b, da, dab, dab == da, dab - da)
    }.toDF("determinant", "dependent", "n_classes", "n_pairs",
      "fd_holds", "n_violations")
  }
}

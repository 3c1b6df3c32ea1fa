package graft.operators

import graft.engine.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Column statistics sketches (sketches/BasicColStatSketch.java,
  * DoubleDataRangeSketch.java, SummarySketch.java, CounterSketch.java).
  * All are single-pass multi-aggregate jobs with O(1) results — Spark's
  * partial/final HashAggregate is the reference's sketch-monoid merge.
  */
object Stats {

  /** SummarySketch: row count (schema comes from df.schema for free). */
  def rowCount(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_rows"))

  /** BasicColStatSketch for a numeric ≤2-decimal column: min, max,
    * present/missing counts, mean and population stddev computed from
    * exact decimal moments (the reference also derives stddev from
    * moments at the root, web/.../targets/TableTarget.java:108-124).
    * Decimal moments make the result deterministic & oracle-exact.
    */
  def basicColStats(df: DataFrame, column: String): DataFrame = {
    val c = col(column)
    val d = Num.dec2(c)
    // s2 via integer-cents products (Num.sumSquaresExact): the dec2×dec2
    // product types decimal(37,4) — a BigDecimal per row; the cents form
    // is bit-identical after the exact decimal de-scaling
    df.agg(
        min(c).as("min_v"),
        max(c).as("max_v"),
        count(c).as("present"),
        count(when(c.isNull, 1)).as("missing"),
        sum(d).as("s1"),
        Num.sumProductExact(c, c).as("s2"))
      .select(
        col("min_v"), col("max_v"), col("present"), col("missing"),
        (col("s1").cast(DoubleType) / col("present")).as("mean"),
        round(
          sqrt(
            col("s2") / col("present") -
              (col("s1").cast(DoubleType) / col("present")) *
              (col("s1").cast(DoubleType) / col("present"))),
          4).as("stddev"))
  }

  /** DoubleDataRangeSketch / date range: min, max, present, missing. */
  def dataRange(df: DataFrame, column: String): DataFrame = {
    val c = col(column)
    df.agg(
      min(c).as("min_v"),
      max(c).as("max_v"),
      count(c).as("present"),
      count(when(c.isNull, 1)).as("missing"))
  }

  /** Correlation matrix entry (PCACorrelationSketch) for a column pair —
    * exact decimal moments, deterministic to the last bit before the one
    * rounding at the end.
    */
  def correlation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = Num.dec2(col(xCol))
    val y = Num.dec2(col(yCol))
    // moment products via integer cents (see correlationMatrix below) —
    // descaled to the bit-identical doubles of the decimal formulation,
    // so the closed form and the oracle are unchanged
    df.agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        Num.sumProductExact(col(xCol), col(yCol)).as("sxy"),
        Num.sumProductExact(col(xCol), col(xCol)).as("sxx"),
        Num.sumProductExact(col(yCol), col(yCol)).as("syy"))
      .select(round(
        ((col("sxy") * col("n") -
          col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
          (sqrt(col("n") * col("sxx") -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
           sqrt(col("n") * col("syy") -
            col("sy").cast(DoubleType) * col("sy").cast(DoubleType)))),
        4).as("corr"))
  }

  /** Full correlation matrix (PCACorrelationSketch: one pass computing
    * all pairwise moments, eigen-decomposition happens at the root in
    * the reference). Single aggregation over the scan producing every
    * sum/sum-of-squares/cross-product, then a constant-size reshape to
    * (col_a, col_b, corr) rows — O(k²) result, one pass, exact decimal
    * moments.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    // Exact moments WITHOUT per-row decimal products: dec2 × dec2 types
    // as decimal(37,4), which exceeds the compact-long precision and
    // drags every row through java.math.BigDecimal (measured: this one
    // pass over lineitem cost 1.1 s at sf0.1, and its allocation churn
    // made the query 2× worse again under suite heap pressure). Instead
    // each ≤2-decimal value becomes exact integer cents
    // (floor(x·100 + 0.5), the same primitive half-up the int8 quantizer
    // uses — Spark's round() on doubles allocates a BigDecimal per value;
    // the double sits ≪0.5 from the true integer, so half-up is exact),
    // products are exact primitive long arithmetic (|cents| ≤ ~1e7 →
    // product ≤ ~1e14 ≪ 2^63), and only the SUM widens to decimal for
    // corpus-scale exactness — per-row casts stay at precision 18 (the
    // compact-long ceiling, no BigDecimal), the sum result widens to
    // decimal(28,0) ≈ 1e28 ≫ 1e26 = 100 TB worth of max products.
    // Correlation is invariant under the
    // uniform ×100 per-column scaling, so the closed form is unchanged;
    // the oracle applies the identical cents transform.
    def cents(c: String): Column =
      floor(col(c) * lit(100) + lit(0.5)).cast("long")
    val aggs =
      Seq(count(lit(1)).cast(DoubleType).as("n")) ++
      cols.map(c => sum(cents(c)
        .cast(org.apache.spark.sql.types.DecimalType(18, 0)))
        .cast(DoubleType).as(s"s_$c")) ++
      cols.flatMap(a => cols.filter(_ >= a).map { b =>
        sum((cents(a) * cents(b)).cast(org.apache.spark.sql.types.DecimalType(18, 0)))
          .cast(DoubleType).as(s"p_${a}_$b")
      })
    val m = df.agg(aggs.head, aggs.tail: _*)
    def p(a: String, b: String) = if (a <= b) col(s"p_${a}_$b") else col(s"p_${b}_$a")
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    // all pairs as one explode over the single moments row — one job,
    // not one union leg (job) per pair
    val pairStructs = pairs.map { case (a, b) =>
      struct(
        lit(a).as("col_a"), lit(b).as("col_b"),
        round(
          (p(a, b) * col("n") - col(s"s_$a") * col(s"s_$b")) /
            (sqrt(col("n") * p(a, a) - col(s"s_$a") * col(s"s_$a")) *
             sqrt(col("n") * p(b, b) - col(s"s_$b") * col(s"s_$b"))),
          4).as("corr"))
    }
    m.select(explode(array(pairStructs: _*)).as("r")).select(col("r.*"))
  }

  /** CategoryCentroidsSketch: per-category centroid of numeric columns. */
  def categoryCentroids(
      df: DataFrame, category: String, numeric: Seq[String]): DataFrame = {
    val aggs = numeric.map(c => Num.avgExact(col(c)).as(s"avg_$c"))
    df.groupBy(col(category)).agg(aggs.head, aggs.tail: _*)
  }

  /** Benford first-digit audit — the fabricated-numbers detector
    * (Newcomb 1881 / Benford 1938; the forensic-accounting staple, and
    * a synthetic-data QA signal): observed share of each first
    * SIGNIFICANT digit vs log10(1 + 1/d), both on the exact 1e-4 grid
    * (the expectations are fixed integer constants — no runtime log,
    * per the float policy). The first significant digit comes from the
    * decimal string form (identical in both engines for DECIMAL
    * columns), so 0.052 audits as 5. One scan, 9-row output. */
  def benfordAudit(df: DataFrame, value: Column): DataFrame = {
    val expected = Seq(3010L, 1760L, 1249L, 969L, 791L, 669L, 579L, 511L, 457L)
    val fd = col("__fd")
    // the nine digit counts and the total in one no-group aggregation,
    // then one row per digit that occurs
    val digits = expected.zipWithIndex.map { case (e, i) =>
      struct(lit(i + 1L).as("first_digit"), col(s"__n${i + 1}").as("n"),
        lit(e).as("__exp_e4"))
    }
    df.filter(value > 0)
      .select(regexp_extract(value.cast("string"), "[1-9]", 0).as("__fd"))
      .agg(count(when(fd =!= "", 1)).as("__t"),
        (1 to 9).map(d => count(when(fd === d.toString, 1)).as(s"__n$d")): _*)
      .select(col("__t"), explode(array(digits: _*)).as("__d"))
      .select(col("__t"), col("__d.*"))
      .filter(col("n") > 0)
      .withColumn("__share_e4", expr("n * 10000 div __t"))
      .select(col("first_digit"), col("n"),
        (col("__share_e4") / lit(10000.0)).as("share"),
        (col("__exp_e4") / lit(10000.0)).as("expected_share"),
        (abs(col("__share_e4") - col("__exp_e4")) / lit(10000.0))
          .as("deviation"))
  }
}

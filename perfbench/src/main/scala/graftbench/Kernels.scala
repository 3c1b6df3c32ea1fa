package graftbench

import graft.functions.{HllSketch, KllSketch, MinHashExpression, MisraGries,
  SimHashExpression, VectorExpressions}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

/** Kernel tier of the traced run: ns per row of each custom Catalyst
  * expression on a fixed cached input, net of a scan-only query over
  * the same input, with whole-stage codegen on and off; and whether the
  * operator evaluating it stays inside one WholeStageCodegen node (a
  * CodegenFallback expression drops its operator out of whole-stage
  * codegen). */
object Kernels {
  val Rows = 200000
  private val Reps = 3

  /** name -> (class name of the evaluating expression, query over the
    * input, the same query with the kernel replaced by a trivial
    * expression over the same columns). */
  private def kernels: Seq[(String, String, DataFrame => DataFrame, DataFrame => DataFrame)] = {
    val strLen: DataFrame => DataFrame = _.select(length(col("text")).as("v")).agg(max("v"))
    Seq(
      ("SimHash60", "SimHash60",
        _.select(SimHashExpression.simhash60(col("text")).as("v")).agg(max("v")), strLen),
      ("Md5Long60", "Md5Long60",
        _.select(SimHashExpression.md5Long60(col("text")).as("v")).agg(max("v")), strLen),
      ("MinHashSig", "MinHashSig",
        _.select(MinHashExpression.minhash_sig(split(col("text"), " "), 3, 16).as("v"))
          .agg(max("v")),
        _.select(size(split(col("text"), " ")).as("v")).agg(max("v"))),
      ("MisraGries", "ScalaAggregator",
        _.agg(udaf(new MisraGries.MGAggregator(64), Encoders.STRING)(col("word"))),
        _.agg(max("word"))),
      ("HllBuildAgg", "HllBuildAgg", _.agg(HllSketch.hll_build(col("a"))), _.agg(max("a"))),
      ("KllBuildAgg", "KllBuildAgg", _.agg(KllSketch.kll_build(col("x"))), _.agg(max("x"))),
      ("Cos2ThresholdGe", "Cos2ThresholdGe",
        _.select(VectorExpressions.cos2_threshold_ge(col("a"), col("b"), col("c"), 2, 5)
          .cast("int").as("v")).agg(sum("v")),
        _.select((col("a") * col("a") > col("b") * col("c")).cast("int").as("v")).agg(sum("v"))))
  }

  private def input(spark: SparkSession): DataFrame = {
    val words = array(Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group").map(lit): _*)
    def pick(salt: Column) = element_at(words, (pmod(hash(col("id"), salt), lit(14)) + 1).cast("int"))
    spark.range(0, Rows, 1, 4).select(
      col("id"),
      concat_ws(" ", transform(sequence(lit(1), pmod(col("id"), lit(16)) + 8), pick(_))).as("text"),
      pick(lit(-1)).as("word"),
      (pmod(xxhash64(col("id")), lit(1000000L)) / 1000.0).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1L << 20)).as("a"),
      (pmod(xxhash64(col("id"), lit(2)), lit(1L << 20)) + 1).as("b"),
      (pmod(xxhash64(col("id"), lit(3)), lit(1L << 20)) + 1).as("c"))
  }

  private def inWholeStage(plan: SparkPlan, cls: String): Boolean = {
    val hits = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def walk(p: SparkPlan, inside: Boolean): Unit = {
      val here = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter => false
        case _ => inside
      }
      if (p.expressions.exists(_.exists(_.getClass.getSimpleName == cls))) hits += here
      p.children.foreach(walk(_, here))
    }
    walk(plan, inside = false)
    hits.nonEmpty && hits.forall(identity)
  }

  def run(spark: SparkSession): Map[String, Any] = {
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
      .map(k => k -> conf.get(k))
    conf.set("spark.sql.adaptive.enabled", "false")
    val data = input(spark).cache()
    data.count()
    // best of Reps after one warm execution: the least disturbed run
    def bestNs(q: DataFrame => DataFrame): Double = {
      q(data).collect()
      (1 to Reps).map { _ =>
        val t0 = System.nanoTime(); q(data).collect(); System.nanoTime() - t0
      }.min.toDouble
    }
    def nsPerRow(q: DataFrame => DataFrame, base: DataFrame => DataFrame, wsc: Boolean) = {
      conf.set("spark.sql.codegen.wholeStage", wsc.toString)
      math.max(0.0, bestNs(q) - bestNs(base)) / Rows
    }
    try kernels.flatMap { case (name, cls, q, base) =>
      conf.set("spark.sql.codegen.wholeStage", "true")
      val inside = inWholeStage(q(data).queryExecution.executedPlan, cls)
      Seq(s"functions.$name.ns_per_row" -> nsPerRow(q, base, wsc = true),
        s"functions.$name.ns_per_row_no_wsc" -> nsPerRow(q, base, wsc = false),
        s"functions.$name.in_wholestage" -> (if (inside) 1 else 0))
    }.toMap
    finally {
      data.unpersist()
      saved.foreach { case (k, v) => conf.set(k, v) }
    }
  }
}

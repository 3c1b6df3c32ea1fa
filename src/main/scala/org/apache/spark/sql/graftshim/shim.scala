package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column↔Expression conversions so the
  * engine's custom Catalyst expressions (FloatVecDot, SimHash60, …) can
  * be exposed as user-facing Columns. Lives in the org.apache.spark.sql
  * namespace solely for access; contains no Spark-derived logic.
  */
package object graftshim {
  def exprToColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def columnToExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Fully converted Catalyst expression (ColumnNode tree → Expression),
    * so `.sql` renders real SQL text instead of the lazy
    * ColumnNodeExpression placeholder — needed to persist gestures as
    * replayable SQL (redo log / bookmarks). */
  def columnToSql(c: Column): String =
    classic.ColumnNodeToExpressionConverter.apply(c.node).sql

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** `e` with float and double values normalized the way grouping
    * keys are (NaN = NaN, -0.0 = 0.0), recursively through structs and
    * arrays. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Register the functions `ext` injects into an already-built
    * session, as a session built with the extensions registers them. */
  def registerFunctions(ext: SparkSessionExtensions, spark: SparkSession): Unit = {
    ext.registerFunctions(spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry)
    ()
  }

  def experimentalStrategies(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental
}

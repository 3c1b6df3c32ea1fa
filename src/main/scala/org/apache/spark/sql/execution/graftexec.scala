package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Bridge into `QueryExecution`'s package-private preparation rules, so
  * graft can plan a frame as one physical plan without adaptive
  * execution. Lives in the org.apache.spark.sql.execution namespace
  * solely for access; contains no Spark-derived logic.
  */
object graftexec {
  def queryExecution(df: DataFrame): QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution

  /** `qe` with adaptive execution left out: its executed plan is prepared
    * by the non-adaptive rules (exchanges, whole-stage codegen and the
    * session's columnar rules in place, one plan for all stages). It
    * shares `qe`'s logical and physical plans and its planning tracker,
    * so nothing is planned twice and listeners see `qe`'s phases. */
  def nonAdaptive(qe: QueryExecution): QueryExecution =
    new QueryExecution(qe.sparkSession, qe.logical, qe.tracker, qe.mode,
        qe.shuffleCleanupMode, qe.refreshPhaseEnabled) {
      override def analyzed: LogicalPlan = qe.analyzed
      override def optimizedPlan: LogicalPlan = qe.optimizedPlan
      override def sparkPlan: SparkPlan = qe.sparkPlan
      override protected def preparations: Seq[Rule[SparkPlan]] =
        QueryExecution.preparations(sparkSession, None, false)
    }

  /** Run `body` as one SQL execution of `qe`, as `collect()` does, so SQL
    * listeners and query execution listeners see it. */
  def withExecutionId[T](qe: QueryExecution)(body: => T): T =
    SQLExecution.withNewExecutionId(qe, Some("collect"))(body)
}

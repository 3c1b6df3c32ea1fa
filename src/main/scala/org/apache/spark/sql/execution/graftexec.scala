package org.apache.spark.sql.execution

import org.apache.spark.{SparkConf, SparkContext, TaskContext, TaskContextImpl}
import org.apache.spark.memory.{TaskMemoryManager, UnifiedMemoryManager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Bridge into `QueryExecution`'s package-private preparation rules, so
  * graft can plan a frame as one physical plan without adaptive
  * execution, and into Spark's task context, so operator code can run on
  * the driver. Lives in the org.apache.spark.sql.execution namespace
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

  /** Run `body` on the caller's thread as a one-off task, so operator
    * code that reads `TaskContext.get()` (a window's row buffer asks it
    * for a memory manager) runs on the driver. The context has its own
    * `TaskMemoryManager`, as Spark gives the broadcast `HashedRelation`
    * it builds on the driver, and a copy of the caller's local
    * properties, so `SQLConf.get` inside `body` reads what a task of the
    * caller's job would. `body` must not return a lazy view of task
    * memory: the memory is freed and the context unset when it ends. */
  def onDriverTask[T](sc: SparkContext)(body: => T): T = {
    val memory = new TaskMemoryManager(new UnifiedMemoryManager(new SparkConf(false),
      Runtime.getRuntime.maxMemory, Runtime.getRuntime.maxMemory / 2, 1), 0)
    val ctx = new TaskContextImpl(0, 0, 0, 0L, 0, 1, memory,
      org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties), null)
    TaskContext.setTaskContext(ctx)
    try body
    finally {
      try ctx.markTaskCompleted(None)
      finally {
        memory.cleanUpAllAllocatedMemory()
        TaskContext.unset()
      }
    }
  }
}

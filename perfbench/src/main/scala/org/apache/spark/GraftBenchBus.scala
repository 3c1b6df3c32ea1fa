package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run's job, stage and query-execution records are complete
  * before they are written out. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

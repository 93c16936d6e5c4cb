package org.apache.spark

/** Lets the traced run wait until every posted listener event (job, stage,
  * task and query-execution events) has been delivered, so a counter read
  * after an action covers that action. The bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

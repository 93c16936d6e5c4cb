package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's state read after an action covers that action. The
  * listener bus is package-private, hence this package.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

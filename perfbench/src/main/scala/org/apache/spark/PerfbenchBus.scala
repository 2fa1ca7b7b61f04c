package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * counter snapshot taken after an action includes that action's events.
  * Lives in Spark's package because the bus drain is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

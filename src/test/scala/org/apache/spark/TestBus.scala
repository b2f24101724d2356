package org.apache.spark

/** Test hook into the package-private listener bus: block until every event
  * posted so far has reached the registered listeners, so a listener's
  * counters are complete when a test reads them.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

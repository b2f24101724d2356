package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the listener
  * bus has delivered every event posted so far, so the benchmark's
  * [[org.apache.spark.scheduler.SparkListener]] has seen all task and stage
  * ends of an action before its counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

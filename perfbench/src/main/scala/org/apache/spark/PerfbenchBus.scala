package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read after a measured window include all of its tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

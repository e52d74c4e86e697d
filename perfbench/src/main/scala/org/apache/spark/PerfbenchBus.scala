package org.apache.spark

/** Drains the listener bus so trace counters read after an operation
  * include every event that operation posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Reaches the listener bus, which is private to Spark: the traced run
  * drains it before reading its counters, so no event is still queued.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

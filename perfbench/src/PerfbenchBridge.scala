package org.apache.spark

/** The one call the benchmark needs from Spark's private API: waiting for
  * the listener bus to deliver queued events before spans are read. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

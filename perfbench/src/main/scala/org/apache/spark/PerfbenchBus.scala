package org.apache.spark

/** The listener bus is package-private; the traced run must wait for it to
  * drain before it reads the counters its listener accumulated. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

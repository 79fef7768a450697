package org.apache.spark

/** The listener bus is package-private; the benchmark needs one call on
  * it to read complete listener data at the end of a pass. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus is package-private; the benchmark's trace needs
  * every event of a span delivered before it reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

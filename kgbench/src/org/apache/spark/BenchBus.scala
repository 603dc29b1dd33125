package org.apache.spark

/** Lets the benchmark's trace recorder wait for the asynchronous listener
  * bus, so the counters of a span are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

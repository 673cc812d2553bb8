package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * waits on it before reading what its listener recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

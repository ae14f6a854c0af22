package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so that counters read after a measured window include every
  * event the window posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

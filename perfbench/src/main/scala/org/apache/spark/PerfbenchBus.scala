package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so listener counters are complete when a phase is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

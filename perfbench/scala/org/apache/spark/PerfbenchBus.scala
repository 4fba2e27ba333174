package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it to read task metrics and query plans right after each op.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

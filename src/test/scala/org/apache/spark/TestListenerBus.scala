package org.apache.spark

/** The listener bus's drain is package-private to Spark; a test that
  * counts jobs with a listener drains it before it reads the count.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

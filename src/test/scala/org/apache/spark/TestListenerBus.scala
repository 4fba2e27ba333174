package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** The listener bus's drain is package-private to Spark; a test that
  * counts jobs with a listener drains it before it reads the count.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the Spark jobs started on `sc` while it ran. */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    drain(sc)
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      val out = body
      drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}

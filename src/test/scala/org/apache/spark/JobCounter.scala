package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. Job-start events reach
  * listeners asynchronously; draining the listener bus is
  * spark-private, hence this bridge in Spark's package.
  */
object JobCounter {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}

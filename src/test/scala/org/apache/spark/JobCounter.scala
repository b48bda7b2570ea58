package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. Job-start events reach
  * listeners asynchronously; draining the listener bus is
  * spark-private, hence this bridge in Spark's package.
  */
object JobCounter {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (r, groups) = jobGroups(sc)(body)
    (r, groups.size)
  }

  /** The job group (`spark.jobGroup.id`, None when unset) of each job
    * `body` launches, in start order.
    */
  def jobGroups[T](sc: SparkContext)(body: => T): (T, Seq[Option[String]]) = {
    sc.listenerBus.waitUntilEmpty()
    val groups = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))): Unit
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

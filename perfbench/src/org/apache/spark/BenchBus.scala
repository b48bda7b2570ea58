package org.apache.spark

/** Drains Spark's listener bus, so per-operation listener records are
  * complete before the benchmark reads them. The bus is spark-private,
  * hence this one-method bridge in Spark's package.
  */
object BenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

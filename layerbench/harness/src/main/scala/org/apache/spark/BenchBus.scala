package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so listener counts taken for an op are complete when the op
  * is closed. The bus is private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

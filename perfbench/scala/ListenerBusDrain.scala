package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * listener totals read afterwards are complete. The bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

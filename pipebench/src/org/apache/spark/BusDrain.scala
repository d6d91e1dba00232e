package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event,
  * so a traced run's counts are complete before they are reported. The
  * bus is package-private, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

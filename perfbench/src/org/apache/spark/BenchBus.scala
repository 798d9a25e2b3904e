package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The traced run drains it before reading its job and task counts, so a
  * count never misses an event still queued on the bus thread. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `listenerBus.waitUntilEmpty` is `private[spark]`; the traced run must
  * drain the asynchronous bus before it reads a query's counters, or
  * late task-end events would be credited to the next query. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered. The
  * listener bus is asynchronous, so counters read right after an action
  * would otherwise miss its last events; `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

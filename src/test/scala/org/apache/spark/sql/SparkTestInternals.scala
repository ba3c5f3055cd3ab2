package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Package-private Spark state that specs assert on: the listener bus
  * (`private[spark]`) and the number of cache manager entries. */
object SparkTestInternals {
  /** Waits until every queued listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def numCachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}

package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Lives in Spark's package for two reads Spark keeps package-private:
  * the listener bus's drain (a listener has seen every job of an action
  * only once the events posted during it are delivered) and the number of
  * relations the cache manager holds.
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedRelations(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}

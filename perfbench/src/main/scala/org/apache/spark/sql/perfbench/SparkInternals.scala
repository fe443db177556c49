package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The Spark internals the harness reads: draining the listener bus
  * (listener events are delivered asynchronously, so per-pass totals are
  * complete only once the bus is empty), the CacheManager's entry count
  * and the version string.
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def cachedEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
  def sparkVersion: String = org.apache.spark.SPARK_VERSION
}

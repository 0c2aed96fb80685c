package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two Spark-internal reads the benchmark needs, kept in one place. */
object SparkInternals {

  /** Listener events are delivered asynchronously: wait until the bus has
    * delivered everything posted so far before reading a counter. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Entries the session's CacheManager holds (persisted Datasets). */
  def cacheEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

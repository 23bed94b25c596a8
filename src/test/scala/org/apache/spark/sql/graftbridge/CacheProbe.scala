package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache manager, whose entry count is
  * `private[spark]`: `persist()` registers an entry before any job has
  * materialized its blocks, so `getPersistentRDDs` alone misses a leaked
  * entry whose first job failed. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test-only view of the session's `CacheManager`, whose entry count is
  * `private[sql]`: a frame that was `persist`ed and never unpersisted
  * stays registered there, whether or not its blocks were computed. */
object CacheEntries {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}

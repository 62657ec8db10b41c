// Lives in org.apache.spark.sql to reach the private[sql] cache manager.
package org.apache.spark.sql

object CacheShims {
  /** The entries of the session's (shared) CacheManager. */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}

package org.apache.spark.sql.graftspec

import org.apache.spark.sql.SparkSession

/** The number of entries in a session's CacheManager: one per persisted
  * frame that was not unpersisted. The count is Spark-private, which is
  * the only reason this helper lives in Spark's package. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}

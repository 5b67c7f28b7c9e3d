package org.apache.spark.sql

/** The number of entries in the session's cache manager. The count is
  * Spark-internal, so this helper lives in Spark's package (like
  * [[org.apache.spark.JobCounter]]).
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}

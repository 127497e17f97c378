package org.apache.spark.sql

/** Test-only view of the session cache manager's entry count, which Spark
  * keeps package-private. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}

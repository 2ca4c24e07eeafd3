package org.apache.spark.sql

/** Test access to the number of cache-manager entries, which Spark keeps
  * `private[sql]`. */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}

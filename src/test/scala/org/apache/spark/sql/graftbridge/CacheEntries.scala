package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The number of entries in a session's cache manager, which Spark
  * keeps package-private: what the tests count to show that a library
  * call leaves the cache as it found it.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

package org.apache.spark.sql.graftglue

import org.apache.spark.sql.SparkSession

/** Number of live CacheManager entries of a session — a count the
  * CacheManager keeps package-private to Spark SQL, hence this object's
  * package. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

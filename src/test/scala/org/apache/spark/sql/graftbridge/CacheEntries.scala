package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Number of entries in the session's CacheManager — `private[sql]`, so
  * re-exposed here for the specs that assert nothing stays cached. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

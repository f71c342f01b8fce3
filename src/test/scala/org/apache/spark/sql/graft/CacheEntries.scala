package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-only view of the session CacheManager's entry count, which
  * Spark keeps `private[sql]`: specs use it to prove an operator leaves
  * nothing cached behind.
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

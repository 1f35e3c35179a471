// Lives in the spark.sql namespace: CacheManager.numCachedEntries is
// sql-internal — the same packaging rationale as graftplan.PlanStats.
package org.apache.spark.sql.graftcheck

import org.apache.spark.sql.SparkSession

object CacheEntries {

  /** The number of frames the session's CacheManager holds. */
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

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

/** The listener bus is private to Spark: this lets a spec wait until every
  * queued event has reached its listener before it reads a count. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}

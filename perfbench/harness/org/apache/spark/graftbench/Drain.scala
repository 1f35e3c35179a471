package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this wrapper lets the benchmark
  * wait until every queued event has reached its listener before it reads
  * the counts. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package graft.runtime

import org.apache.spark.sql.SparkSession

/** Stable, collision-free identity keys for per-session memoization.
  *
  * `System.identityHashCode` is NOT unique: after GC a new session can
  * collide with a stopped one's hash and a memo would serve a frame bound
  * to a dead SparkContext. This helper mints one UUID per live session in
  * a weak map, and [[purgeStopped]] lets memo owners drop entries whose
  * session has been STOPPED — the frames' cached blocks died with the
  * context, so those entries are dropped WITHOUT unpersist. (Eviction
  * keys off `sparkContext.isStopped` via the memoized frame itself, not
  * off the weak map: a memoized Dataset strongly references its session,
  * so a GC-based liveness test could never observe one as dead.) */
private[graft] object SessionKeys {

  private val keys = new java.util.WeakHashMap[SparkSession, String]

  def of(spark: SparkSession): String = keys.synchronized {
    Option(keys.get(spark)).getOrElse {
      val k = java.util.UUID.randomUUID().toString
      keys.put(spark, k); k
    }
  }

  /** Remove entries of `memo` whose value belongs to a stopped session
    * (`session` reads it off the value: a frame's or a prepared
    * structure's). */
  def purgeStopped[K, V](memo: scala.collection.concurrent.TrieMap[K, V])(
      session: V => SparkSession): Unit =
    memo.foreach { case (k, v) =>
      if (session(v).sparkContext.isStopped) memo.remove(k)
    }
}

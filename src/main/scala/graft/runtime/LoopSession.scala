// Lives in the spark.sql namespace: classic.SparkSession.cloneSession and
// Dataset.ofRows are private[sql] — the same packaging rationale as
// graftplan.PlanStats.
package org.apache.spark.sql.graftplan

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.SQLConf

/** The session an iterative loop plans its supersteps in: a clone of the
  * caller's session with AQE off and `spark.sql.shuffle.partitions` at
  * the loop's partition count `p`.
  *
  * Why: under AQE every superstep's materialization is three jobs (one
  * per query stage), and the rotated state's `LogicalRDD` leaf records
  * `UnknownPartitioning`, so the next superstep re-shuffles the senders
  * although the state was produced hash(id)-partitioned. With AQE off
  * and the final exchange landing at `p`, one job runs per superstep and
  * `localCheckpoint` records `hashpartitioning(id, p)` — the adjacency's
  * own partitioning — so the sender side of the state ⋈ adjacency join
  * does not move.
  *
  * The caller's conf is never written (a conf flip is not safe across
  * threads). The clone shares the caller's `SharedState`, hence its
  * CacheManager: cached adjacency and vertices are hit from the loop.
  *
  * One clone per (caller session, p), kept while the caller's
  * SparkContext runs: a session has its own artifact classloader, and
  * Spark's codegen cache is keyed on (classloader, code), so a clone made
  * per loop would recompile every generated class of every run. A weak
  * map would not let go sooner: a clone holds its parent's SessionState,
  * which reaches the parent. */
object LoopSession {

  private val clones = scala.collection.mutable.HashMap.empty[(SparkSession, Int), classic.SparkSession]

  /** The loop session of (`caller`, `p`), its SQL conf re-copied from the
    * caller's (a conf the caller set since the last loop is seen) and the
    * two overrides applied again. */
  def apply(caller: SparkSession, p: Int): SparkSession = {
    require(p > 0, s"loop partition count must be positive, got $p")
    val loop = clones.synchronized {
      clones.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      clones.getOrElseUpdate((caller, p), caller.asInstanceOf[classic.SparkSession].cloneSession())
    }
    val want = caller.asInstanceOf[classic.SparkSession].sessionState.conf.getAllConfs ++ Map(
      SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
      SQLConf.SHUFFLE_PARTITIONS.key -> p.toString)
    val conf = loop.sessionState.conf
    conf.getAllConfs.keys.filterNot(want.contains).foreach(conf.unsetConf)
    want.foreach { case (k, v) => if (conf.getConfString(k, null) != v) conf.setConfString(k, v) }
    loop
  }

  /** `df`'s analyzed plan as a frame of `session` (`df` itself when it is
    * already one): it plans and runs under that session's conf. */
  def rehome(session: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}

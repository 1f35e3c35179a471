package graft.runtime

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of the engine's storage: every cache and local checkpoint
  * an operator makes goes through a [[Storage.scope]], which releases it
  * on every exit — GraphX's "materialize once, iterate many times,
  * release when done" discipline in one place, not paired by hand.
  *
  * '''Ownership contract''' (every engine operator follows it):
  *  - An algorithm's result is a PERSISTED frame the CALLER owns —
  *    `unpersist()` it when done. An operator that returns a
  *    localCheckpoint-backed frame says so; release it with [[release]].
  *  - Everything else an operator caches (its copy of the input, its
  *    intermediates, every iteration state but the last) is released
  *    before it returns, or when it throws.
  *  - The final iteration state's localCheckpoint blocks (one bounded,
  *    |V|-sized set per run) stay alive behind the result, so a rebuilt
  *    result cache never recomputes the iteration; the ContextCleaner
  *    frees them once the result is dropped.
  *
  * '''Two kinds of storage, two release paths.''' A persisted frame lives
  * in the CacheManager and is released with `Dataset.unpersist`. A
  * localCheckpoint's blocks live OUTSIDE the CacheManager, on the RDD its
  * `LogicalRDD` leaf holds: `Dataset.unpersist` never reaches them (the
  * measured run-over-run leak), so they are released through that RDD.
  * `Dataset.unpersist` on a checkpoint frame is worse than useless: it
  * uncaches by PLAN EQUIVALENCE and takes down any caller cache built over
  * a sameResult plan (measured: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on
  * algorithm results that are trivial projections of the final state).
  */
object Storage {

  /** A structure that holds cached frames and releases them all with
    * `unpersist()` (PreparedGraph, LabelPropagation.Prepared). */
  trait Releasable { def unpersist(): Unit }

  /** Run `body` with a [[Scope]] that tracks everything it caches. On
    * normal exit everything is released except what the body handed out
    * ([[Scope.result]], [[Scope.keep]], a closed rotator's final state).
    * On an exception everything is released, handed out or not, and the
    * exception is rethrown. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    val out =
      try body(s)
      catch {
        case t: Throwable =>
          try s.exit(failed = true) catch { case r: Throwable => t.addSuppressed(r) }
          throw t
      }
    s.exit(failed = false)
    out
  }

  /** Release a frame an operator handed out, whichever kind it is: a frame
    * the CacheManager holds is unpersisted; otherwise a localCheckpoint's
    * blocks are released through its RDD, never through `Dataset.unpersist`
    * (see the plan-equivalence hazard above). Call it once nothing
    * unmaterialized depends on the frame. */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(false)
    else checkpointRdd(df).foreach(_.unpersist(false))

  /** Session-lifetime memos, keyed by (session, label, dir). The key holds
    * its session strongly and compares it by reference (`SparkSession`
    * overrides neither `equals` nor `hashCode`), so a new session can
    * never be handed a stopped session's entry. */
  private val memos = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), AnyRef]

  /** The value `build` makes for `(spark, label, dir)`, built once per
    * session and kept until [[clearMemo]]: a frame of either kind or a
    * [[Releasable]]. The build is timed as the trace stage
    * `memo_build:<label>`, so its cost is attributed in the bench JSON
    * instead of hiding inside whichever query ran first. Entries of a
    * stopped session are dropped without release: their blocks died with
    * the context. */
  def memo[T <: AnyRef](spark: SparkSession, label: String, dir: String)(build: => T): T = {
    memos.keys.foreach(k => if (k._1.sparkContext.isStopped) memos.remove(k))
    memos.getOrElseUpdate((spark, label, dir),
      Trace.stage(s"memo_build:$label")(build)).asInstanceOf[T]
  }

  /** Release every [[memo]] entry of `spark`; other sessions' stay. */
  def clearMemo(spark: SparkSession): Unit =
    memos.keys.filter(_._1 eq spark).foreach(k => memos.remove(k).foreach {
      case df: DataFrame @unchecked => release(df)
      case r: Releasable => r.unpersist()
    })

  /** The RDD holding a localCheckpoint frame's blocks: the `LogicalRDD`
    * its plan was truncated to. */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** What one [[Storage.scope]] has cached. Every frame is tracked under
    * its release handle — the frame itself for a cache, the checkpoint RDD
    * for a local checkpoint (so a re-leafed view of it, see
    * `graftplan.PlanStats`, is the same entry). */
  final class Scope private[Storage] {

    private final class Entry(val key: AnyRef, val free: () => Unit) {
      var escaped = false
    }
    private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]

    private def track[A <: AnyRef](a: A, key: AnyRef)(free: => Unit): A = {
      entries += new Entry(key, () => free)
      a
    }

    private def find(df: DataFrame): Int = {
      lazy val rdd = checkpointRdd(df).orNull
      entries.indexWhere(e => (e.key eq df) || (e.key eq rdd))
    }

    /** Persist `df` (MEMORY_AND_DISK, the engine's one level); released at
      * scope exit. Lazy, like `persist`. */
    def cache(df: DataFrame): DataFrame =
      track(df.persist(StorageLevel.MEMORY_AND_DISK), df)(df.unpersist(false))

    /** The read-through rule for an operator's input: the projection
      * `cols` of `df`, cached by this scope only when `df` is not already
      * cached — an already-cached input (a memoized edge frame) is read
      * through its own cache, since a second copy costs an extra
      * materialization pass and duplicate storage. Lazy; [[owns]] tells
      * whether this scope made the copy. */
    def input(df: DataFrame, cols: Column*): DataFrame = {
      val p = df.select(cols: _*)
      if (df.storageLevel == StorageLevel.NONE) cache(p) else p
    }

    /** An eager localCheckpoint of `df` (plan and lineage truncated to a
      * `LogicalRDD` leaf); its blocks are released at scope exit. */
    def local(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      val rdd = checkpointRdd(cp).get
      track(cp, rdd)(rdd.unpersist(false))
    }

    /** Persist and count `df`; the frame escapes the scope and the caller
      * owns it (the ownership contract's result). */
    def result(df: DataFrame): DataFrame = {
      val r = cache(df)
      r.count()
      keep(r)
    }

    /** Hand a tracked frame out: normal exit leaves it alone and the
      * caller owns it. An exception still releases it. */
    def keep(df: DataFrame): DataFrame = {
      val i = find(df)
      if (i >= 0) entries(i).escaped = true
      df
    }

    /** Release a tracked frame now (an early release point); a frame this
      * scope does not track — a caller's cached input — is left alone. */
    def release(df: DataFrame): Unit = {
      val i = find(df)
      if (i >= 0) entries.remove(i).free()
    }

    /** Whether this scope tracks `df` (it made the copy). */
    def owns(df: DataFrame): Boolean = find(df) >= 0

    /** Take over a frame another operator handed out (an algorithm result,
      * either kind): released at scope exit like one made here. */
    def own(df: DataFrame): DataFrame = track(df, df)(Storage.release(df))

    /** Take over a prepared structure: `unpersist()` at scope exit. */
    def own[R <: Releasable](r: R): R = track(r, r)(r.unpersist())

    /** A [[StateRotator]] whose states this scope owns: every rotated state
      * is a [[local]] of this scope, released when the next one replaces
      * it, and the final one at scope exit unless `close()` handed it
      * out. With `partitions > 0` its loop runs in the loop session at
      * that partition count (see [[StateRotator.loop]]). */
    def rotator(cfg: Option[CheckpointConfig], algo: String,
        partitions: Int = 0): StateRotator =
      new StateRotator(this, cfg, algo, partitions)

    private[Storage] def exit(failed: Boolean): Unit = {
      val go = entries.filter(e => failed || !e.escaped)
      entries.clear()
      go.reverseIterator.foreach(_.free())
    }
  }
}

package graft.runtime

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Superstep checkpointing + lineage/metrics log — the engine's replacement
  * for the reference's `util.PeriodicGraphCheckpointer` (called from
  * `Pregel$` each round in spark-graphx 4.1.2; SURVEY.md §2.4), promoted
  * from an optimization to a feature: every superstep appends per-partition
  * metrics, state snapshots land every `every` supersteps, and
  * `latest()` lets a killed job resume mid-iteration.
  *
  * Locally the state store is parquet-dir-per-superstep; on a lakehouse the
  * same layout maps to an Iceberg table with a `superstep` snapshot column
  * (no Iceberg jars ship in this sandbox — SURVEY.md §2.1 — so the seam is
  * the directory scheme, not a format import).
  */
final case class CheckpointConfig(
    dir: String,
    runId: String,
    every: Int = 5)

object Checkpoints {

  import graft.sources.TableIO

  def stateDir(cfg: CheckpointConfig, algo: String, superstep: Int): String =
    s"${cfg.dir}/${cfg.runId}/$algo/superstep=$superstep"

  def logPath(cfg: CheckpointConfig, algo: String): String =
    s"${cfg.dir}/${cfg.runId}/$algo/_superstep_log"

  /** Persist a state snapshot for `superstep` and return the re-read frame
    * (lineage truncated to a table scan). */
  def save(state: DataFrame, cfg: CheckpointConfig, algo: String, superstep: Int): DataFrame = {
    val spark = state.sparkSession
    val io = TableIO.forSession(spark)
    io.write(state, stateDir(cfg, algo, superstep))
    io.read(spark, stateDir(cfg, algo, superstep))
  }

  /** Latest COMMITTED snapshot (max superstep child the TableIO impl
    * lists as complete): parquet dirs with a _SUCCESS marker on any
    * Hadoop-FS scheme, or atomic catalog tables on a lakehouse. */
  def latest(spark: SparkSession, cfg: CheckpointConfig, algo: String): Option[(Int, DataFrame)] = {
    val io = TableIO.forSession(spark)
    val stepRe = "superstep[=_]?(\\d+)".r
    val steps = io.children(spark, s"${cfg.dir}/${cfg.runId}/$algo")
      .collect { case stepRe(n) => n.toInt }
    if (steps.isEmpty) None
    else {
      val s = steps.max
      Some((s, io.read(spark, stateDir(cfg, algo, s))))
    }
  }

  def fingerprintRef(cfg: CheckpointConfig, algo: String): String =
    s"${cfg.dir}/${cfg.runId}/$algo/_config"

  /** Order-invariant multiset signature of an edge frame, for binding
    * INPUT identity into the resume fingerprint: snapshots are keyed only
    * by dir/runId/algo, so without this a resume (or a fresh run, then a
    * resume) against the same directory but DIFFERENT edge data would
    * silently adopt state computed from the old edges. Config drift was
    * already guarded ([[recordFingerprint]]); input drift is the same
    * silent-wrong-results class.
    *
    * One cheap aggregate job — count + XOR + bounded SUM of per-edge
    * hashes — paid only when checkpointing is enabled, over a frame every
    * call site already has cached. Count+XOR alone cancels on swapped
    * duplicate PAIRS ({a,a,b,b} vs {c,c,d,d}); the prime-bounded sum
    * (kept < 2³⁰ per row, summed as decimal so ANSI overflow can't fire
    * at any |E|) breaks that class. Not a cryptographic integrity check —
    * a drift guard. */
  def inputSignature(edges: DataFrame): String = {
    val h = xxhash64(col("src"), col("dst"))
    val zero = lit(0L).cast("decimal(38,0)")
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(pmod(h, lit(1073741789L)).cast("decimal(38,0)")), zero).as("s"))
      .first()
    s"edges=${r.getLong(0)},xor=${r.getLong(1)},sum=${r.getDecimal(2)}"
  }

  /** The full drift guard every checkpointing algorithm runs before
    * touching snapshots: on resume, verify the stored fingerprint matches;
    * always, record-or-verify it (a fresh run against a dir committed
    * under a different fingerprint fails loudly — see
    * [[recordFingerprint]]'s mixed-state rationale). */
  def guard(spark: SparkSession, cfg: CheckpointConfig, algo: String,
      fp: String, resume: Boolean): Unit = {
    if (resume) verifyFingerprint(spark, cfg, algo, fp)
    recordFingerprint(spark, cfg, algo, fp)
  }

  /** Verify-or-record the run's numeric-config fingerprint. Together with
    * [[verifyFingerprint]] it closes the silent-wrong-results resume
    * class: snapshots are keyed only by dir/runId/algo, so without the
    * fingerprint a resume under CHANGED numerics (resetProb, tol, …)
    * would continue old-parameter state under new parameters and match
    * neither configuration.
    *
    * A FRESH run that finds a committed fingerprint with a DIFFERENT
    * config fails loudly instead of recording: it would overwrite only
    * the snapshots its own cadence reaches, leaving the old config's
    * higher-superstep snapshots in place for a later resume to adopt —
    * mixed-parameterization state no fingerprint could then detect.
    * A matching fingerprint is fine (same config ⇒ deterministic
    * supersteps ⇒ any stale snapshot is bit-identical to what this run
    * would write there). */
  def recordFingerprint(spark: SparkSession, cfg: CheckpointConfig,
      algo: String, fp: String): Unit = {
    val io = TableIO.forSession(spark)
    val ref = fingerprintRef(cfg, algo)
    // gate on committed(), not exists(): a run killed mid-write leaves a
    // torn _config that exists() would treat as done, permanently (and
    // silently) disarming the drift guard — rewrite it instead (write is
    // an overwrite), same stage-skip rule every other stage follows
    if (!io.committed(spark, ref)) {
      import spark.implicits._
      io.write(Seq(fp).toDF("fingerprint"), ref)
    } else {
      val stored = io.read(spark, ref).select("fingerprint").first().getString(0)
      require(stored == fp,
        s"refusing to run $algo against ${cfg.dir}/${cfg.runId}: the dir " +
          s"already holds checkpoints written under config [$stored], the " +
          s"current config is [$fp] — a fresh run would overwrite only the " +
          "snapshots it reaches and leave the rest as mixed state; delete " +
          "the checkpoint dir, use a new runId, or restore the original " +
          "config")
    }
  }

  /** Fail loudly when resuming under a config that differs from the one
    * the checkpoints were written with. A missing fingerprint (pre-upgrade
    * checkpoint dir) verifies vacuously. */
  def verifyFingerprint(spark: SparkSession, cfg: CheckpointConfig,
      algo: String, fp: String): Unit = {
    val io = TableIO.forSession(spark)
    val ref = fingerprintRef(cfg, algo)
    if (io.committed(spark, ref)) {
      val stored = io.read(spark, ref).select("fingerprint").first().getString(0)
      require(stored == fp,
        s"refusing to resume $algo from ${cfg.dir}/${cfg.runId}: checkpoints " +
          s"were written under config [$stored], the current config is [$fp] — " +
          "continuing would produce results matching neither; delete the " +
          "checkpoint dir or restore the original config")
    }
  }

  /** Append one superstep's lineage/convergence metrics, per shuffle
    * partition of the state (schema FIXTURES.md §1.1 `superstep_log`).
    * The log is an append-only journal of EXECUTED supersteps: a resume
    * that re-runs supersteps past its snapshot re-logs them (they ran
    * again) — consumers aggregating wall time must group by superstep or
    * take the last attempt, not sum blindly.
    *
    * BUFFERED writes (r6): the per-partition counts are collected (≤
    * numPartitions tiny rows) into a driver-side buffer and flushed as
    * ONE append per durable-snapshot cadence plus a final [[flushLog]]
    * each algorithm loop issues — a per-superstep parquet-append JOB was
    * ~60% of a 72-superstep tol run's wall time. Durability is aligned
    * with the resume contract: rows past the last flush belong to
    * supersteps a resume re-executes (and re-logs) anyway, because
    * snapshots — not the log — are the resume points. */
  def logSuperstep(state: DataFrame, cfg: CheckpointConfig, algo: String,
      superstep: Int, l1Delta: Double, activeCount: Long, wallMs: Long): Unit = {
    val counts = state.select(spark_partition_id().as("p"))
      .groupBy("p").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    logSuperstepRows(state.sparkSession, counts, cfg, algo, superstep,
      l1Delta, activeCount, wallMs)
  }

  /** [[logSuperstep]] with the per-partition counts already in hand —
    * the observe-fused path (r6): iterative loops ride
    * [[partitionCountsMetric]] on the rotation's root-level observe, so
    * logging costs zero extra jobs (the job-based [[logSuperstep]] stays
    * as the fallback when an observation doesn't surface). Rows are
    * byte-identical to the job form's. */
  def logSuperstepRows(spark: SparkSession, counts: Seq[(Int, Long)],
      cfg: CheckpointConfig, algo: String, superstep: Int, l1Delta: Double,
      activeCount: Long, wallMs: Long): Unit = {
    val rows = counts.map { case (p, n) =>
      org.apache.spark.sql.Row(cfg.runId, superstep, p, n, l1Delta, activeCount, wallMs)
    }
    val buffered = logBuffers.updateWith((cfg.dir, cfg.runId, algo))(
      old => Some(old.getOrElse(Vector.empty) ++ rows)).get
    // flush on the snapshot cadence, plus a size backstop so a sparse
    // cadence × many partitions × many supersteps cannot grow the driver
    // buffer unboundedly (100k rows ≈ a few MB)
    if ((cfg.every > 0 && superstep % cfg.every == 0) || buffered.size > 100000)
      flushLog(spark, cfg, algo)
  }

  /** The map(partition_id → rows) aggregate column loops append to their
    * rotation observe when checkpointing is on (alias it "pcounts"). */
  def partitionCountsMetric: org.apache.spark.sql.Column =
    org.apache.spark.sql.graftvec.VectorExpressions.partitionRowCounts()

  /** Extract the observed "pcounts" map from an awaited observe row.
    * None (→ job fallback) when the row is absent or the field missing. */
  def countsFromObserved(row: Option[org.apache.spark.sql.Row],
      field: String = "pcounts"): Option[Seq[(Int, Long)]] =
    row.flatMap { r =>
      val i = try r.fieldIndex(field) catch { case _: IllegalArgumentException => -1 }
      if (i < 0 || r.isNullAt(i)) None
      else Some(r.getAs[scala.collection.Map[Int, Long]](i).toSeq.sortBy(_._1))
    }

  /** Unflushed superstep-log rows per (dir, runId, algo). An entry exists
    * only while it holds rows: [[flushLog]] removes it, so a finished run
    * leaves no key behind (every pipeline run writes under a new dir). */
  private val logBuffers = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), Vector[org.apache.spark.sql.Row]]

  private[graft] def bufferedLogKeys: Set[(String, String, String)] =
    logBuffers.keySet.toSet

  private val logSchema = new org.apache.spark.sql.types.StructType()
    .add("run_id", "string").add("superstep", "int").add("partition_id", "int")
    .add("rows", "long").add("l1_delta", "double").add("active_count", "long")
    .add("wall_ms", "long")

  /** Flush buffered superstep-log rows as one append. Every algorithm
    * loop calls this after its last superstep (and [[logSuperstep]]
    * self-flushes on the snapshot cadence). Idempotent when nothing is
    * buffered. */
  def flushLog(spark: SparkSession, cfg: CheckpointConfig, algo: String): Unit =
    logBuffers.remove((cfg.dir, cfg.runId, algo)).filter(_.nonEmpty).foreach { rows =>
      import scala.jdk.CollectionConverters._
      TableIO.forSession(spark).append(
        spark.createDataFrame(rows.asJava, logSchema), logPath(cfg, algo))
    }

  def readLog(spark: SparkSession, cfg: CheckpointConfig, algo: String): DataFrame =
    TableIO.forSession(spark).read(spark, logPath(cfg, algo))
}

/** Per-superstep state rotation for iterative operators. Three concerns,
  * all measured failure modes, handled together (SURVEY.md §4.1):
  *  1. logical-plan growth — a superstep whose state feeds the next plan
  *     twice (convergence PageRank) DOUBLES the plan per superstep →
  *     plan-string OOM; `localCheckpoint` truncates to a LogicalRDD leaf;
  *  2. RDD-lineage growth — persist alone keeps the physical lineage, and
  *     task (de)serialization stack-overflows after ~50 supersteps;
  *     `localCheckpoint` truncates that too (plain plan surgery via
  *     `createDataFrame(df.rdd, schema)` does NOT);
  *  3. storage leak — `Dataset.unpersist` does not release a
  *     localCheckpoint's internal RDD blocks (they're outside the
  *     CacheManager) → run-over-run degradation; we capture the internal
  *     RDD from the checkpointed plan and unpersist it explicitly when
  *     rotating past it.
  * Durable parquet snapshots (CheckpointConfig cadence) are side-writes
  * of the same materialized state AND give resume points.
  */
final class StateRotator(cfg: Option[CheckpointConfig], algo: String) {

  // Release of the PREVIOUS superstep's storage. Never via
  // Dataset.unpersist for localCheckpoint states: that uncaches by PLAN
  // EQUIVALENCE in the CacheManager and takes down any caller cache built
  // over a sameResult plan (measured: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
  // on algorithm results that are trivial projections of the final
  // state) — the checkpoint's blocks are released via its internal RDD
  // handle instead, which no CacheManager entry ever points at.
  private var release: () => Unit = () => ()

  private def internalRddRelease(df: DataFrame): () => Unit = {
    val h = df.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    () => h.foreach(_.unpersist(false))
  }

  /** Materialize `next`, release the previous superstep's state.
    *
    * EVERY rotation is the same operation — an eager localCheckpoint
    * (plan + lineage truncated to a LogicalRDD leaf) — and the durable
    * parquet snapshot on the `every` cadence is a pure SIDE-WRITE of the
    * already-materialized blocks, never a different in-run representation.
    * Uniformity is a correctness property, not a style choice: mixing
    * persist / parquet-reread / localCheckpoint rotations gives different
    * leaf nodes (stats, partitioning metadata) to otherwise identical
    * superstep plans, which can flip exchange/aggregation layout and
    * perturb floating-point accumulation order — measured as a 1-ulp
    * drift between a checkpointed and a plain run of the SAME iteration,
    * breaking the resume-is-bit-identical contract. */
  def rotate(next: DataFrame, superstep: Int): DataFrame = {
    // eager localCheckpoint truncates plan + lineage; the stats clamp
    // stops the truncated plan's COMPUTED sizeInBytes (a product over
    // every state reference in the superstep) from compounding
    // exponentially across rotations — see graftplan.PlanStats
    val cp = org.apache.spark.sql.graftplan.PlanStats
      .clampCheckpointStats(next.localCheckpoint(true))
    cfg.foreach { c =>
      if (c.every > 0 && superstep % c.every == 0)
        graft.sources.TableIO.forSession(cp.sparkSession)
          .write(cp, Checkpoints.stateDir(c, algo, superstep))
    }
    release()
    release = internalRddRelease(cp)
    cp
  }

  /** Take ownership of an externally-produced state frame (e.g. a resumed
    * checkpoint snapshot): materialize it EXACTLY like a rotation
    * (localCheckpoint — see rotate's uniformity note) and register its
    * release, WITHOUT re-saving it over the directory it may have just
    * been read from. Layout caveat: the adopted frame's partitioning
    * follows the snapshot's file splits, not the in-run coalesce the
    * original rotation had, so downstream float-accumulation order is
    * only as stable as the scan layout — ResumeSpec pins bit-identity at
    * the tested scales; a deployment wanting the same guarantee at
    * cluster scale must keep split sizing (maxPartitionBytes) stable
    * across the original and resumed runs. */
  def adopt(df: DataFrame): DataFrame = {
    val cp = org.apache.spark.sql.graftplan.PlanStats
      .clampCheckpointStats(df.localCheckpoint(true))
    release()
    release = internalRddRelease(cp)
    cp
  }

  /** Hand ownership of the FINAL state to the caller: its blocks stay
    * alive for any result frame derived from it (one bounded |V|-sized
    * block set per algorithm run; durable-checkpoint runs release fully
    * on the next cadence). */
  def close(): Unit = { release = () => () }

  /** Drop the FINAL state's blocks too — for auxiliary rotators whose
    * last state nothing derived-but-unmaterialized depends on (e.g. the
    * four side rotators of an SCC run once the result frame is
    * materialized). Without this, each auxiliary rotator strands one
    * |V|-sized localCheckpoint block set per run that no caller can ever
    * release (`Dataset.unpersist` cannot reach it — see class doc #3). */
  def releaseFinal(): Unit = { release(); release = () => () }
}

/** One-off plan+lineage truncation for loops whose state isn't a single
  * rotating frame (e.g. ShortestPaths' dists ∪ frontier). Returns the
  * truncated frame and a release thunk for ITS storage — call it only
  * once nothing derived-but-unmaterialized depends on the frame. */
object IterationHygiene {

  /** Unpersist a localCheckpoint's internal RDD blocks. `Dataset.unpersist`
    * does not release them (they live outside the CacheManager) — the
    * measured run-over-run leak; call this once nothing unmaterialized
    * depends on the frame. */
  def releaseLocal(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  def truncate(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = org.apache.spark.sql.graftplan.PlanStats
      .clampCheckpointStats(df.localCheckpoint(true))
    val h = cp.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    df.unpersist(false)
    (cp, () => h.foreach(_.unpersist(false)))
  }

  /** Await a ROOT-LEVEL observation that the truncation's own
    * materialization fires (the CC rotateObserved pattern — reliable only
    * when the observed node is the root of the executed plan; mid-plan
    * observations can resolve to an empty row, see graph.Pregel). Returns
    * `Some(row)` only for a successfully-resolved NON-EMPTY row; `None`
    * on timeout, failure, or an empty row — the three observation failure
    * modes every caller must fall back on identically (this helper is the
    * single copy of that poll loop; CC/SCC/Pregel are one-line callers).
    * The wait is generous (10 s): the metric is GUARANTEED to arrive once
    * the job finished — only async-listener-bus latency varies — and a
    * premature fallback re-introduces the very per-superstep count job
    * the observe fusion exists to eliminate (every poll is 25 ms, so a
    * prompt metric still returns in one tick). Degradation guard: an
    * environment whose materializations never surface metrics at all
    * would otherwise pay the full 10 s EVERY superstep (~33 min over a
    * 200-superstep run), so after 3 consecutive timeouts the wait drops
    * to 1 s — and every 10th degraded await PROBES with the full window
    * again, since a metric that typically lands in 1–10 s would otherwise
    * keep timing out inside the short window forever and the documented
    * "until an observation resolves again" recovery could never fire.
    * The latch is deliberately process-global (listener-bus latency is an
    * environment property, not a per-run one) and is a performance
    * heuristic only — every timeout falls back to the caller's count. */
  def awaitObservedRow(
      obs: org.apache.spark.sql.Observation): Option[org.apache.spark.sql.Row] = {
    val degraded = consecutiveTimeouts.get() >= 3
    val probe = degraded && awaitCount.incrementAndGet() % 10 == 0
    val maxTries = if (degraded && !probe) 40 else 400
    var tries = 0
    while (tries < maxTries) {
      obs.future.value match {
        case Some(scala.util.Success(row)) =>
          consecutiveTimeouts.set(0)
          return if (row.length > 0) Some(row) else None
        case Some(scala.util.Failure(_)) => return None // resolved, not a timeout
        case _ =>
          // listener-bus latency is usually single-digit ms once the job
          // finished: poll tightly first (a 25 ms first tick taxed EVERY
          // rotation of a many-superstep run ~2 s/100 rotations), then
          // back off to the 25 ms cadence
          Thread.sleep(if (tries < 10) 2 else 25); tries += 1
      }
    }
    consecutiveTimeouts.incrementAndGet()
    None
  }

  // AtomicInteger, not a @volatile var (ADVICE r5): concurrent algorithm
  // runs raced the read-modify-write and could over/under-count the
  // degradation latch
  private val consecutiveTimeouts = new java.util.concurrent.atomic.AtomicInteger
  private val awaitCount = new java.util.concurrent.atomic.AtomicLong

  /** [[awaitObservedRow]] specialized to a single-long observation. */
  def awaitObservedLong(obs: org.apache.spark.sql.Observation,
      fallback: => Long): Long =
    awaitObservedRow(obs).map(_.getLong(0)).getOrElse(fallback)
}

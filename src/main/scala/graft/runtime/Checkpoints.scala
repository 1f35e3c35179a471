package graft.runtime

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

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
    * silently adopt state computed from the old edges. [[guard]] checks it
    * together with the numeric config: input drift is the same
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

  /** The drift guard every checkpointing algorithm runs before touching
    * snapshots: record the run's fingerprint (numeric config + input
    * signature), or verify it against the one already committed. It
    * closes the silent-wrong-results resume class: snapshots are keyed
    * only by dir/runId/algo, so without it a resume under CHANGED
    * numerics (resetProb, tol, …) or edges would continue old state under
    * new parameters and match neither configuration.
    *
    * A mismatch fails loudly on a FRESH run too: it would overwrite only
    * the snapshots its own cadence reaches, leaving the old config's
    * higher-superstep snapshots in place for a later resume to adopt —
    * mixed-parameterization state no fingerprint could then detect.
    * A matching fingerprint is fine (same config ⇒ deterministic
    * supersteps ⇒ any stale snapshot is bit-identical to what this run
    * would write there). */
  def guard(spark: SparkSession, cfg: CheckpointConfig, algo: String,
      fp: String, resume: Boolean): Unit = {
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
        if (resume)
          s"refusing to resume $algo from ${cfg.dir}/${cfg.runId}: checkpoints " +
            s"were written under config [$stored], the current config is [$fp] — " +
            "continuing would produce results matching neither; delete the " +
            "checkpoint dir or restore the original config"
        else
          s"refusing to run $algo against ${cfg.dir}/${cfg.runId}: the dir " +
            s"already holds checkpoints written under config [$stored], the " +
            s"current config is [$fp] — a fresh run would overwrite only the " +
            "snapshots it reaches and leave the rest as mixed state; delete " +
            "the checkpoint dir, use a new runId, or restore the original " +
            "config")
    }
  }

  /** The map(partition_id → rows) aggregate column loops append to their
    * rotation observe when checkpointing is on (alias it "pcounts"). */
  def partitionCountsMetric: Column =
    org.apache.spark.sql.graftvec.VectorExpressions.partitionRowCounts()

  /** One superstep-log row per shuffle partition of the state per executed
    * superstep (FIXTURES.md §1.1 `superstep_log`); written by
    * [[StateRotator]]. */
  private[runtime] val logSchema = new org.apache.spark.sql.types.StructType()
    .add("run_id", "string").add("superstep", "int").add("partition_id", "int")
    .add("rows", "long").add("l1_delta", "double").add("active_count", "long")
    .add("wall_ms", "long")

  def readLog(spark: SparkSession, cfg: CheckpointConfig, algo: String): DataFrame =
    TableIO.forSession(spark).read(spark, logPath(cfg, algo))
}

/** The one superstep mechanism every iterative loop runs through — the
  * engine's replacement for the reference's `Pregel` loop plumbing plus
  * `PeriodicGraphCheckpointer`. A loop states what is specific to it (the
  * superstep plan, the metrics it halts on, its step-0 state) and the
  * rotator owns the rest: the resume prelude and exit handling
  * ([[loop]]), observe → rotate → await → trace → log ([[step]]), the
  * fallback when an observation does not surface ([[rotateObserved]]),
  * and the state's rotation ([[rotate]]). Made by a
  * [[Storage.Scope.rotator]]: the scope owns every state's blocks.
  *
  * Rotation handles three concerns, all measured failure modes, together
  * (SURVEY.md §4.1):
  *  1. logical-plan growth — a superstep whose state feeds the next plan
  *     twice (convergence PageRank) DOUBLES the plan per superstep →
  *     plan-string OOM; `localCheckpoint` truncates to a LogicalRDD leaf;
  *  2. RDD-lineage growth — persist alone keeps the physical lineage, and
  *     task (de)serialization stack-overflows after ~50 supersteps;
  *     `localCheckpoint` truncates that too (plain plan surgery via
  *     `createDataFrame(df.rdd, schema)` does NOT);
  *  3. storage leak — each superstep's blocks are released when the next
  *     state replaces them, through the checkpoint's own RDD handle (see
  *     [[Storage]]'s two release paths).
  * Durable parquet snapshots (CheckpointConfig cadence) are side-writes
  * of the same materialized state AND give resume points.
  */
final class StateRotator private[runtime] (scope: Storage.Scope,
    cfg: Option[CheckpointConfig], algo: String) {

  // the current state; its blocks are a local of `scope`
  private var owned: Option[DataFrame] = None

  // superstep-log rows not yet appended; see writeLog
  private var pending = Vector.empty[Row]

  private def own(df: DataFrame): DataFrame = {
    // eager localCheckpoint truncates plan + lineage; the stats clamp
    // stops the truncated plan's COMPUTED sizeInBytes (a product over
    // every state reference in the superstep) from compounding
    // exponentially across rotations — see graftplan.PlanStats
    val cp = org.apache.spark.sql.graftplan.PlanStats
      .clampCheckpointStats(scope.local(df))
    owned.foreach(scope.release)
    owned = Some(cp)
    cp
  }

  /** Run one iterative loop. The resume prelude comes first: when
    * checkpointing, verify-or-record `fingerprint` (Checkpoints.guard —
    * the numeric config and input identity a resume must share with the
    * run that wrote the snapshots), then, when resuming, adopt the latest
    * committed snapshot. `body` receives `Some((superstep, state))` for a
    * resumed run and `None` for a fresh one; what a fresh run starts from
    * stays with the caller. On normal exit the pending superstep-log rows
    * are written. An exception propagates and the unwritten rows die with
    * the rotator (the scope releases the state's blocks) — they belong to
    * supersteps after the last snapshot, which a resume re-executes and
    * re-logs. */
  def loop[T](spark: SparkSession, fingerprint: => String, resume: Boolean)(
      body: Option[(Int, DataFrame)] => T): T = {
    val out = body(cfg.flatMap { c =>
      Checkpoints.guard(spark, c, algo, fingerprint, resume)
      if (resume) Checkpoints.latest(spark, c, algo).map { case (s, df) => (s, adopt(df)) }
      else None
    })
    cfg.foreach(writeLog(spark, _))
    out
  }

  /** One superstep: time it from before `build` constructs the plan,
    * rotate it observing `metrics` (plus the per-partition row counts
    * when checkpointing), record the `<algo>_step_NN` trace stage and
    * buffer its superstep-log rows, with `active` read from the metrics
    * row. Returns the rotated state and that row. */
  def step(n: Int, metrics: Seq[Column], active: Row => Long)(
      build: => DataFrame): (DataFrame, Row) = {
    val t0 = System.nanoTime()
    val (state, row) = rotateObserved(build, n,
      metrics ++ cfg.map(_ => Checkpoints.partitionCountsMetric.as("pcounts")))
    Trace.record(f"${algo}_step_$n%02d", (System.nanoTime() - t0) / 1e9)
    cfg.foreach { c =>
      val counts = row.getMap[Int, Long](row.fieldIndex("pcounts")).toSeq.sortBy(_._1)
      val wallMs = (System.nanoTime() - t0) / 1000000
      pending ++= counts.map { case (p, rows) =>
        Row(c.runId, n, p, rows, Double.NaN, active(row), wallMs)
      }
      // a size backstop so a sparse cadence × many partitions × many
      // supersteps cannot grow the pending rows unboundedly (100k ≈ a few MB)
      if (snapshots(c, n) || pending.size > 100000) writeLog(state.sparkSession, c)
    }
    (state, row)
  }

  /** Append the pending superstep-log rows as ONE write: on the snapshot
    * cadence, at the size backstop and when [[loop]] exits normally — a
    * per-superstep parquet-append job was ~60% of a 72-superstep tol
    * run's wall time. The log is an append-only journal of EXECUTED
    * supersteps: a resume that re-runs supersteps past its snapshot
    * re-logs them (they ran again), so consumers aggregating wall time
    * must group by superstep or take the last attempt, not sum blindly.
    * The per-partition counts ride the rotation's root-level observe
    * ([[Checkpoints.partitionCountsMetric]]), so logging costs no job of
    * its own. */
  private def writeLog(spark: SparkSession, c: CheckpointConfig): Unit =
    if (pending.nonEmpty) {
      import scala.jdk.CollectionConverters._
      graft.sources.TableIO.forSession(spark).append(
        spark.createDataFrame(pending.asJava, Checkpoints.logSchema),
        Checkpoints.logPath(c, algo))
      pending = Vector.empty
    }

  /** Whether `superstep` is on the durable-snapshot cadence. */
  private def snapshots(c: CheckpointConfig, superstep: Int): Boolean =
    c.every > 0 && superstep % c.every == 0

  /** Rotate `next` and evaluate `metrics` (aggregate columns) over it,
    * collected by a ROOT-LEVEL observe during the rotation's own
    * materialization — no extra job. When the observation does not
    * surface, the same columns are evaluated as one aggregate over the
    * already-rotated state (an in-memory scan, never a re-execution of
    * the superstep). No metrics: a plain rotation and an empty row. */
  def rotateObserved(next: DataFrame, n: Int, metrics: Seq[Column]): (DataFrame, Row) =
    if (metrics.isEmpty) (rotate(next, n), Row.empty)
    else {
      val obs = Observation(s"${algo}_obs_$n")
      val state = rotate(next.observe(obs, metrics.head, metrics.tail: _*), n)
      val row = StateRotator.awaitObservedRow(obs).getOrElse {
        Trace.log(s"$algo step=$n: observation did not surface, aggregating the state")
        StateRotator.measure(state, metrics)
      }
      (state, row)
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
    val cp = own(next)
    cfg.foreach { c =>
      if (snapshots(c, superstep))
        graft.sources.TableIO.forSession(cp.sparkSession)
          .write(cp, Checkpoints.stateDir(c, algo, superstep))
    }
    cp
  }

  /** Take ownership of an externally-produced state frame (e.g. a resumed
    * checkpoint snapshot): materialize it EXACTLY like a rotation
    * (localCheckpoint — see rotate's uniformity note) and release the
    * previous state, WITHOUT re-saving it over the directory it may have
    * just been read from. Layout caveat: the adopted frame's partitioning
    * follows the snapshot's file splits, not the in-run coalesce the
    * original rotation had, so downstream float-accumulation order is
    * only as stable as the scan layout — ResumeSpec pins bit-identity at
    * the tested scales; a deployment wanting the same guarantee at
    * cluster scale must keep split sizing (maxPartitionBytes) stable
    * across the original and resumed runs. */
  def adopt(df: DataFrame): DataFrame = own(df)

  /** Hand the FINAL state to the caller: its blocks escape the scope and
    * stay alive for any result frame derived from it (one bounded
    * |V|-sized block set per algorithm run; see [[Storage]]'s ownership
    * contract). Without `close()` the scope releases the final state at
    * exit — right for an auxiliary rotator whose last state nothing
    * derived-but-unmaterialized depends on. */
  def close(): Unit = owned.foreach(scope.keep)
}

object StateRotator {

  /** `metrics` (aggregate columns) evaluated as one aggregate over `df` —
    * the fallback for an observation that did not surface, and how a
    * resumed loop recovers a metric of its adopted snapshot. Yields the
    * same row an observe of the same columns collects. */
  def measure(df: DataFrame, metrics: Seq[Column]): Row =
    df.agg(metrics.head, metrics.tail: _*).first()

  /** Await a ROOT-LEVEL observation that the rotation's own
    * materialization fires — reliable only when the observed node is the
    * root of the executed plan (mid-plan observations can resolve to an
    * empty row, see graph.Pregel). Returns `Some(row)` only for a
    * successfully-resolved NON-EMPTY row; `None` on timeout, failure, or
    * an empty row — the three failure modes [[StateRotator.rotateObserved]]
    * falls back on. The wait is generous (10 s): the metric is GUARANTEED
    * to arrive once the job finished — only async-listener-bus latency
    * varies — and a premature fallback re-introduces the very
    * per-superstep aggregate job the observe fusion exists to eliminate.
    * There is no degradation latch for environments where observations
    * never surface: none failed to surface on Spark 4.1.2 across the test
    * suite and the benchmark workloads (ROADMAP direction 2). */
  private[graft] def awaitObservedRow(obs: Observation): Option[Row] =
    scala.util.Try(scala.concurrent.Await.ready(obs.future,
        scala.concurrent.duration.Duration(10, "s"))).toOption
      .flatMap(_.value).collect { case scala.util.Success(r) if r.length > 0 => r }
}

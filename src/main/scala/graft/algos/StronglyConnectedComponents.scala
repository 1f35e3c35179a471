package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.EdgeOps
import graft.runtime.{AdaptivePartitions, StateRotator, Storage}

/** Strongly connected components of a directed graph — the last named
  * algorithm of the reference surface (spark-graphx 4.1.2
  * `lib.StronglyConnectedComponents`; SURVEY.md §2.4): every vertex is
  * labeled with the LOWEST vertex id of its SCC. The reference exposes a
  * `numIter` cap and may return early; we run the same phase structure to
  * the exact fixed point (outer rounds capped by `maxOuterRounds` as a
  * safety net, `require`-checked), so results equal the reference's at
  * convergence.
  *
  * Same trim + forward-coloring + backward-confirmation decomposition as
  * the reference (the classic FW-BW coloring scheme — Orzan '04,
  * McLendon et al. '05), re-expressed as Dataset joins:
  *
  *  1. TRIM to fixed point: a vertex with no in-edge or no out-edge in the
  *     remaining graph is its own SCC — drop it. Web graphs are largely
  *     condensation-DAG, so trim alone finalizes most of the mass.
  *  2. FORWARD coloring to fixed point: color(v) = min vertex id that
  *     forward-reaches v. Delta-propagated: only vertices whose color
  *     changed last step send messages (min-aggregation is monotone, so
  *     the frontier restriction is lossless). Every color class then has
  *     exactly one root r (color(r) = r), and all of r's SCC sits inside
  *     r's class (any smaller-id path into the SCC would re-color r).
  *  3. BACKWARD confirmation within each class, all classes concurrently:
  *     v ∈ SCC(r) iff color(v) = r and v reaches r through same-color
  *     vertices (intermediates of any v→r path provably carry color r).
  *     Frontier BFS from the roots along reversed same-color edges.
  *  4. Remove confirmed SCCs, repeat. Each round finalizes every root
  *     SCC of the remaining condensation, so rounds are bounded by the
  *     longest chain of SCCs, and the graph shrinks monotonically —
  *     AdaptivePartitions re-sizes every rotated frame to what REMAINS,
  *     so late rounds of a web-scale run cost small-graph money.
  *
  * Every iterated frame goes through StateRotator (localCheckpoint
  * rotation: plan + lineage truncation, explicit block release); inner
  * fixed points are detected via `Dataset.observe` metrics collected
  * during the rotation's own materialization — no extra passes.
  */
object StronglyConnectedComponents {

  final case class Config(
      numPartitions: Int = 0,
      /** Safety cap on outer trim/color/confirm rounds (each round
        * finalizes ≥ 1 SCC chain layer; the cap only trips on adversarial
        * SCC chains longer than this). */
      maxOuterRounds: Int = 200,
      /** Performance contract, NOT a correctness one: the caller asserts
        * the input is already a simple digraph (no self-loops, no
        * duplicate edges), so the initial dedup pass — a full |E| shuffle
        * — is skipped. A wrong assertion cannot corrupt labels (self-loops
        * and parallel edges are absorbed by trim/min-aggregation and leave
        * every SCC unchanged); it only forfeits the shrink the dedup would
        * have bought later rounds. */
      inputIsSimple: Boolean = false)

  /** (id, component) for every vertex appearing in `edges`;
    * component = min vertex id of the vertex's SCC.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract. */
  def run(edges: DataFrame, cfg: Config = Config()): DataFrame = Storage.scope { s =>
    val spark = edges.sparkSession
    val raw = s.input(edges, col("src"), col("dst"))
    val rawRows = raw.count()
    val pAll = AdaptivePartitions.forRows(spark, rawRows, cfg.numPartitions)
    val allVerts = s.cache(EdgeOps.vertices(raw).coalesce(pAll))
    allVerts.count()

    // only rotF's final state backs the result; the other four rotators'
    // final states are released at scope exit
    val rotE = s.rotator(None, "scc_edges")
    val rotC = s.rotator(None, "scc_colors")
    val rotF = s.rotator(None, "scc_final")
    val rotConf = s.rotator(None, "scc_confirmed")
    val rotFr = s.rotator(None, "scc_frontier")
    var step = 0
    def nextStep(): Int = { step += 1; step }

    // self-loops never affect SCC membership; parallel edges collapse
    val cleaned =
      if (cfg.inputIsSimple) raw
      else raw.filter(col("src") =!= col("dst")).distinct()
    var (e, eRows) = rotateCount(rotE, cleaned.coalesce(pAll), nextStep())
    s.release(raw)

    // finalized (id, component) — grows by union, rotated so the plan
    // never grows with it; vertices that simply fall out of the edge set
    // are singleton SCCs and are labeled by the final coalesce instead
    var finalized = rotF.adopt(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("component", "long")))

    var round = 0
    while (eRows > 0 && round < cfg.maxOuterRounds) {
      round += 1
      val t0 = System.nanoTime()

      // ---- 1. trim to fixed point: keep only vertices with in AND out.
      // The keep set (≤ |V| ≤ 2·eRows rows) is computed in ONE union-agg
      // pass and joined size-adaptively: broadcast while it provably fits
      // (then the two semi-joins are map-side — zero shuffles of e),
      // shuffled-hash at web scale. The r5 shape distinct'd srcs and dsts
      // separately and shuffled e through both semi-joins every iteration.
      var trimmed = true
      while (trimmed && eRows > 0) {
        val p = AdaptivePartitions.forRows(spark, eRows, cfg.numPartitions)
        val keep = e.select(col("src").as("id"), lit(1).as("o"), lit(0).as("i"))
          .union(e.select(col("dst").as("id"), lit(0).as("o"), lit(1).as("i")))
          .groupBy("id").agg(max("o").as("ho"), max("i").as("hi"))
          .filter(col("ho") === 1 && col("hi") === 1)
        def side(df: DataFrame) = AdaptivePartitions.sideFor(df, 2 * eRows)
        val kept = e
          .join(side(keep.select(col("id").as("ks"))),
            col("src") === col("ks"), "left_semi")
          .join(side(keep.select(col("id").as("kd"))),
            col("dst") === col("kd"), "left_semi")
        val (e2, n2) = rotateCount(rotE, kept.coalesce(p), nextStep())
        trimmed = n2 < eRows
        e = e2; eRows = n2
        graft.runtime.Trace.log(s"scc trim edges=$eRows")
      }
      if (eRows == 0) {
        graft.runtime.Trace.log(f"scc round=$round trimmed-to-empty " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      } else {
        val p = AdaptivePartitions.forRows(spark, eRows, cfg.numPartitions)

        // Accelerated min-label propagation to fixed point. Each round is
        // one EDGE-RELAX step (v learns its in-neighbors' labels along
        // `edges`) plus one POINTER-DOUBLING SHORTCUT (v learns its
        // current label's label — sound because reachability is
        // transitive). Relax alone needs O(diameter) rounds — ~600 on the
        // per-nation ring cycles of the driver workload, unbounded on web
        // redirect chains; relax+shortcut converges in O(log d) rounds.
        //
        // Labels are (hash(id), id) STRUCTS ordered by the hashed key —
        // the randomized total order is load-bearing: with raw ids,
        // doubling degrades to one-vertex-per-round whenever ids happen
        // to increase along the propagation direction (measured on the
        // ring workload's backward sweep: min(self, successor-label)
        // stays self, so no pointer chains ever form to jump). A seeded
        // hash order breaks that correlation in every graph w.h.p. — the
        // hash-to-min idea (Rastogi et al., ICDE'13) applied to directed
        // min-reachability. Fixed point unchanged by the order: labels
        // only decrease, every label reaches its vertex, and a combined
        // fixed point is relax-fixed; pivots are simply hash-chosen
        // instead of min-id (reference min-id labels restored by the
        // per-SCC relabel below).
        def keyOf(idc: org.apache.spark.sql.Column) =
          struct(xxhash64(idc, lit(7L)).as("k"), idc.as("i"))
        // vertexBound: upper bound on the propagation's state rows — join
        // sides broadcast when the REMAINING subgraph is provably tiny
        // (post-trim remainder rounds: exchange-stage scheduling dominates
        // a 2k-row round), shuffled-hash otherwise (the scale path)
        def minReach(edges: DataFrame, initVerts: DataFrame,
            rot: StateRotator, vertexBound: Long): DataFrame = {
          def side(df: DataFrame) = AdaptivePartitions.loopSideFor(df, vertexBound)
          def relax(cs: DataFrame): DataFrame = {
            val senders = cs.filter(col("changed"))
              .select(col("id").as("sid"), col("color").as("scolor"))
            val msgs = edges.join(side(senders), col("src") === col("sid"))
              .groupBy(col("dst")).agg(min(col("scolor")).as("m"))
            cs.join(side(msgs), cs("id") === msgs("dst"), "left")
              .select(cs("id"),
                least(cs("color"), coalesce(col("m"), cs("color"))).as("color"),
                (col("m").isNotNull && col("m") < cs("color")).as("changed"))
          }
          // pointer-doubling shortcut: v jumps to its label's label
          def shortcut(cs: DataFrame): DataFrame = {
            val m = cs.select(col("id").as("mid"), col("color").as("mcolor"))
            cs.join(side(m),
                cs("color").getField("i") === col("mid"), "left")
              .select(cs("id"),
                least(cs("color"), coalesce(col("mcolor"), cs("color"))).as("color"),
                (cs("changed") ||
                  (col("mcolor").isNotNull && col("mcolor") < cs("color"))).as("changed"))
          }
          var colors = rot.adopt(initVerts
            .select(col("id"), keyOf(col("id")).as("color"), lit(true).as("changed"))
            .coalesce(p))
          var changed = 1L
          while (changed > 0) {
            // relax + shortcut fused into ONE rotation per doubling round
            // (same dataflow, identical integer-struct values — half the
            // materializations of the r3 two-rotation shape). The shortcut
            // self-join references the relax subtree twice, so leaf stats
            // multiply once per rotation — bounded permanently by the
            // PlanStats clamp every rotation applies (the unclamped
            // BigInteger stall that originally forced the split is gone).
            val (c2, nChanged) = rotateCount(rot,
              shortcut(relax(colors)).coalesce(p), nextStep(), col("changed"))
            colors = c2; changed = nChanged
          }
          colors
        }

        // ---- 2. forward coloring: class(v) = hash-min vertex among v's
        // reachers (the pivot z); z reaches its whole class, and z is the
        // hash-min member OF the class (any smaller-key member would have
        // re-colored z through z→member reachability... it IS reached by
        // z, and its own color must then be ≤ z's key, forcing equality)
        val colors = minReach(e, EdgeOps.vertices(e), rotC, 2 * eRows)

        // ---- 3. backward confirmation within color classes, as the SAME
        // accelerated propagation on the REVERSED same-color edge set:
        // bcolor(v) = hash-min class member v reaches through the class.
        // v ∈ SCC(z)  ⟺  v reaches z inside the class  ⟺  bcolor(v) =
        // (key(z), z) = color(v). Replaces the r2 frontier BFS from the
        // roots — O(class diameter) rounds — with O(log d).
        val cSrc = colors.select(col("id").as("csid"), col("color").as("csc"))
        val cDst = colors.select(col("id").as("cdid"), col("color").as("cdc"))
        val ecolPlan = e
          .join(cSrc.hint("SHUFFLE_HASH"), col("src") === col("csid"))
          .join(cDst.hint("SHUFFLE_HASH"), col("dst") === col("cdid"))
          .filter(col("csc") === col("cdc"))
          .select(col("src"), col("dst"))
        val ecol = s.cache(ecolPlan.coalesce(p))
        val ecolRows = ecol.count()
        val rev = ecol.select(col("dst").as("src"), col("src").as("dst"))
        // separate rotator: rotC still owns `colors`, which the confirmed
        // join below reads — rotating bcolors through rotC would release
        // the live forward-color blocks
        val bcolors = minReach(rev, EdgeOps.vertices(ecol), rotFr, 2 * ecolRows)
        val members = colors.join(
            bcolors.select(col("id"), col("color").as("bcolor")).hint("SHUFFLE_HASH"),
            Seq("id"), "left")
          .filter(col("bcolor").isNotNull && col("bcolor") === col("color"))
          .select(col("id"), col("color").getField("i").as("pivot"))
          .union(
            // pivots of classes with NO internal edges (trivial classes
            // absent from ecol's vertex set) confirm themselves
            colors.join(EdgeOps.vertices(ecol), Seq("id"), "left_anti")
              .filter(col("id") === col("color").getField("i"))
              .select(col("id"), col("id").as("pivot")))
        // reference label semantics: component = MIN VERTEX ID of the SCC
        // (pivots are hash-chosen) — one aggregate + broadcast-size join
        // over this round's confirmed members
        val sccMin = members.groupBy("pivot").agg(min(col("id")).as("component"))
        val confirmed = rotConf.adopt(
          members.join(sccMin.hint("SHUFFLE_HASH"), Seq("pivot"))
            .select(col("id"), col("component"))
            .coalesce(p))
        s.release(ecol)

        // ---- 4. bank the confirmed SCCs, remove them from the graph
        finalized = rotF.adopt(finalized.union(confirmed).coalesce(pAll))
        val cf = confirmed.select(col("id"))
        val remaining = e
          .join(cf.select(col("id").as("rs")).hint("SHUFFLE_HASH"),
            col("src") === col("rs"), "left_anti")
          .join(cf.select(col("id").as("rd")).hint("SHUFFLE_HASH"),
            col("dst") === col("rd"), "left_anti")
        val (e3, n3) = rotateCount(rotE, remaining.coalesce(p), nextStep())
        e = e3; eRows = n3
        graft.runtime.Trace.record(f"scc_round_$round%02d",
          (System.nanoTime() - t0) / 1e9)
        graft.runtime.Trace.log(f"scc round=$round edges_left=$eRows steps=$step")
      }
    }
    // Worst case, outer rounds = the condensation chain length (an
    // id-increasing chain of SCCs finalizes one per round — ADVICE r3),
    // so deep-chain graphs can exhaust the cap legitimately. The loud
    // failure is deliberate (the reference silently returns PARTIAL labels
    // when its numIter cap trips); the message records that every SCC
    // finalized so far was correct — only the remaining subgraph is
    // unresolved — so callers know raising the cap resumes safely.
    require(eRows == 0,
      s"SCC did not converge within ${cfg.maxOuterRounds} outer rounds " +
        s"($eRows edges remain). Labels finalized so far are correct but " +
        "the remaining subgraph is unresolved (worst case one SCC per round " +
        "on condensation chains) — re-run with a larger maxOuterRounds")

    // singleton SCCs (trimmed / never-confirmed vertices) label themselves
    val out = s.result(allVerts
      .join(finalized, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component")))
    rotF.close()
    out
  }

  /** Rotate and return (frame, count of rows where `pred`), the count
    * observed during the rotation's own materialization — zero extra
    * passes (StateRotator.rotateObserved). */
  private def rotateCount(rot: StateRotator, next: DataFrame, step: Int,
      pred: org.apache.spark.sql.Column = lit(true)): (DataFrame, Long) = {
    val (df, row) = rot.rotateObserved(next, step,
      Seq(coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).as("c")))
    (df, row.getLong(0))
  }
}

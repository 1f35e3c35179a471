package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.PreparedGraph
import graft.runtime.{CheckpointConfig, Checkpoints, Storage}

/** Synchronous label propagation (reference: spark-graphx 4.1.2
  * `lib.LabelPropagation`; Raghavan et al. 2007).
  *
  * Reference semantics, reproduced: labels init to own id; every superstep
  * EVERY vertex with incident edges replaces its label by the most frequent
  * label among its neighbors over all incident directed edges (each
  * parallel edge contributes along both directions — `sendMsg` emits to
  * src and dst); runs exactly `maxSteps` supersteps, no convergence test.
  *
  * One deliberate, documented delta (SURVEY.md §2.4, FIXTURES.md §3.7):
  * the reference breaks frequency ties by Map iteration order —
  * nondeterministic across JVMs. We specify SMALLEST label among the
  * maximal-count labels, making output deterministic at any scale;
  * exact-match differential tests use tie-free graphs.
  *
  * Execution shape per superstep (same pattern as PageRank): the |V|-row
  * label state joins ONE cached symmetrized adjacency (each directed edge
  * listed under both endpoints — hash join, no |E|-row join), explodes
  * into the 2|E| message stream, and a (vertex, label) count + `min_by`
  * argmax — map-side partial aggregation bounds the shuffle; no UDAF,
  * fully codegen'd.
  */
object LabelPropagation {

  final case class Config(
      maxSteps: Int = 5,
      numPartitions: Int = 0,
      checkpoint: Option[CheckpointConfig] = None,
      resume: Boolean = false)

  /** The symmetrized graph LPA iterates over — a [[PreparedGraph]] built
    * over `e ∪ reverse(e)`, so every directed edge is listed under both
    * endpoints: exactly the reference's sendMsg-to-both-endpoints message
    * multiset, in ONE cached adjacency (degree-capped like every
    * PreparedGraph). Its own type, so a run can only be handed a
    * symmetrized graph. Built once, usable for many runs; `unpersist()`
    * when done. */
  final class Prepared private[LabelPropagation] (
      private[LabelPropagation] val g: PreparedGraph) extends Storage.Releasable {
    def session: org.apache.spark.sql.SparkSession = g.spark
    def unpersist(): Unit = g.unpersist()
  }

  /** Build the symmetrized prepared graph once. Each input row emits
    * itself and its reverse, so the input plan is read once (a union of
    * `e` and `reverse(e)` would read it twice, or need a cached copy of
    * `e` beside the cached 2|E|-row union `PreparedGraph` builds from). */
  def prepare(edges: DataFrame, numPartitions: Int = 0): Prepared = {
    val both = explode(array(struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst"))))
    new Prepared(PreparedGraph(edges.select(both.as("e")).select("e.*"), numPartitions))
  }

  /** (id, label) after `cfg.maxSteps` synchronous supersteps.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract. */
  def run(edges: DataFrame, cfg: Config = Config()): DataFrame =
    Storage.scope(s => runPrepared(s.own(prepare(edges, cfg.numPartitions)), cfg))

  /** [[run]] over an already-prepared structure (caller owns `prep`). */
  def runPrepared(prep: Prepared, cfg: Config = Config()): DataFrame = Storage.scope { s =>
    val g = prep.g
    val adj = g.adjacency
    val P = g.numPartitions

    val rotator = s.rotator(cfg.checkpoint, "lpa")
    // input-identity drift guard: a resume against the same dir/runId with
    // different edges must fail loudly, not adopt stale labels. LPA ignores
    // edge direction, so its input identity is the symmetrized graph it
    // iterates (one cheap aggregate over the cached blocks)
    val labels = rotator.loop(g.spark, Checkpoints.inputSignature(g.edges),
        cfg.resume) { resumed =>
      // resume mid-iteration: the checkpointed (id, label) frame IS the full
      // superstep state — continuing from it is bit-identical
      var (startStep, labels) =
        resumed.getOrElse((0, g.vertices.select(col("id"), col("id").as("label"))))
      for (step <- (startStep + 1) to cfg.maxSteps) {
        labels = rotator.step(step, Nil, _ => 0L) {
          // messages along both directions of every directed edge (one join
          // against the symmetrized adjacency); the label state (≤ |V| rows)
          // shuffled-hash joins the cached adjacency (no per-superstep
          // broadcast — a blocking driver job per step, measured slower; same
          // rationale as PageRank.msgSums)
          val argmax = adj.join(labels.hint("SHUFFLE_HASH"), adj("src") === labels("id"))
            .select(explode(col("dsts")).as("vid"), col("label"))
            .groupBy(col("vid"), col("label")).agg(count(lit(1)).as("cnt"))
            // min_by over (-cnt, label): highest count, ties → smallest label.
            // Negating CNT (≥ 1, can't wrap) instead of LABEL: labels are
            // arbitrary longs (xxhash64 ids), and -Long.MinValue wraps to
            // itself under non-ANSI arithmetic, which would make the smallest
            // possible label LOSE ties instead of winning as specified
            .groupBy(col("vid"))
            .agg(min_by(col("label"), struct((-col("cnt")).as("nc"), col("label"))).as("new_label"))
          // vertices with no incident messages keep their label (none here —
          // every vertex of an edge table has ≥1 incident edge — but keep the
          // coalesce for subgraph-restricted universes)
          labels.join(argmax.hint("SHUFFLE_HASH"), labels("id") === argmax("vid"), "left")
            .select(labels("id"), coalesce(col("new_label"), col("label")).as("label"))
            .coalesce(P)
        }._1
      }
      labels
    }
    val out = s.result(labels.select(col("id"), col("label")))
    rotator.close() // materialized before the scope releases iteration state
    out
  }
}

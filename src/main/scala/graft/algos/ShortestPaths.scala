package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.runtime.Storage

/** Landmark BFS hop counts (reference: spark-graphx 4.1.2
  * `lib.ShortestPaths` — vertex attr `Map[landmark -> dist]`, edges
  * traversed AGAINST their direction: a vertex's distance is to landmarks
  * reachable FORWARD along edges; messages flow dst → src).
  *
  * Long format here instead of the reference's map attr: one row per
  * (vertex, landmark) with the hop distance — relational form that joins
  * and aggregates without MapType gymnastics; `toMapFormat` converts.
  */
object ShortestPaths {

  /** Reference-shaped output: (id, map<landmark, distance>), rows only for
    * vertices with ≥1 reachable landmark (as the reference's run + filter). */
  def toMapFormat(dists: DataFrame): DataFrame =
    dists.groupBy("id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("landmark"), col("distance"))))).as("distances"))

  /** (id, landmark, distance) for every vertex that reaches a landmark,
    * computed by the reference's OWN formulation on the generic
    * combinator (spark-graphx 4.1.2 `lib.ShortestPaths` verbatim: vertex
    * attr `map<landmark,int>`, messages flow dst → src carrying the dst's
    * map incremented, merge = key-union with min), then exploded to the
    * long format.
    *
    * Scale shape per superstep: only CHANGED vertices participate
    * (`sendersPred`, the reference's implicit active set), messages read
    * only dst attrs → the combinator routes through the cached REVERSE
    * adjacency (|V|-row join + explode, no |E|-row join). One deliberate
    * delta: the reference also suppresses messages that cannot improve the
    * src (reading src attrs on every triplet — `TripletFields.All`); we
    * let the min-merge at the recipient absorb those instead, keeping the
    * triplet join one-sided. Fixed point and results are identical.
    *
    * Runs to the BFS fixed point by default, like the reference (its
    * Pregel loop has no iteration cap; the combinator halts when no vertex
    * changes, within the graph diameter). A FINITE `maxIter` is a
    * deliberate k-hop restriction: the output is then exactly "distances
    * within `maxIter` hops" — vertices farther from a landmark get NO row,
    * indistinguishable from unreachable.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract.
    */
  def run(edges: DataFrame, landmarks: Seq[Long],
      maxIter: Int = Int.MaxValue): DataFrame = Storage.scope { s =>
    runPrepared(s.own(graft.graph.PreparedGraph(edges)), landmarks, maxIter)
  }

  /** [[run]] over an already-prepared graph — amortizes the
    * adjacency/reverse-adjacency build across runs (the PreparedGraph
    * contract: built once, iterated many times). The caller owns `g`. */
  def runPrepared(g: graft.graph.PreparedGraph, landmarks: Seq[Long],
      maxIter: Int = Int.MaxValue): DataFrame = Storage.scope { s =>
    import graft.graph.{Pregel, TripletFields}
    val emptyMap = map_from_arrays(
      array().cast("array<bigint>"), array().cast("array<int>"))
    val init = g.vertices.select(col("id"),
      when(col("id").isInCollection(landmarks), map(col("id"), lit(0)))
        .otherwise(emptyMap).as("dists"),
      col("id").isInCollection(landmarks).as("changed"))
    // message: the dst's landmark map, every hop count +1
    val toSrc = transform_values(col("dst_dists"), (_, v) => v + 1)
    // merge: key-union with min over all received maps
    val merge = aggregate(collect_list(col("msg")), emptyMap,
      (acc, m) => map_zip_with(acc, m, (_, a, b) => least(a, b))).as("msg_dists")
    // NOTE: the OLD map must be referenced dataframe-qualified
    // (state("dists")): a bare col("dists") inside the exists/zip
    // lambdas is captured by Spark's lateral-column-alias resolution
    // and silently rebinds to the NEW sibling alias `dists` — measured:
    // `changed` compared messages against the already-merged map and
    // the loop halted after one superstep.
    def vprog(state: DataFrame, msgs: DataFrame): DataFrame =
      state.join(msgs.hint("SHUFFLE_HASH"), Seq("id"), "left")
        .select(col("id"),
          when(col("msg_dists").isNull, state("dists"))
            .otherwise(map_zip_with(state("dists"), col("msg_dists"),
              (_, a, b) => least(a, b))).as("dists"),
          // improved iff some received entry is new or strictly smaller
          when(col("msg_dists").isNull, lit(false))
            .otherwise(exists(map_entries(col("msg_dists")), e =>
              coalesce(e.getField("value") <
                try_element_at(state("dists"), e.getField("key")), lit(true))))
            .as("changed"))
    val state = Pregel.iterate(g, init,
      toDst = None, toSrc = Some(toSrc), merge = Seq(merge), vprog,
      Pregel.Config(maxIter = maxIter, fields = TripletFields.Dst,
        sendersPred = Some(col("changed")), algo = "sssp"))
    s.result(state.select(col("id"), explode(col("dists"))
      .as(Seq("landmark", "distance"))))
  }
}

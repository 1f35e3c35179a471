package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree-aware CSR-style adjacency blocks as a DataFrame (reference
  * analog `graphx.impl.EdgePartition`'s source-clustered arrays,
  * SURVEY.md §1.1).
  *
  * Rows are `(bucket, src, degree, dsts sorted)` — ONE row per source
  * vertex up to the block-arity cap (`spark.graft.adjacency.maxBlockArity`);
  * a source whose degree exceeds the cap spans MULTIPLE chunk rows, each
  * carrying the true total `degree` (no unique-src invariant — see
  * [[fromEdges]] / [[PreparedGraph.cappedBlocks]]). `bucket` is a
  * degree-band (log2 of out-degree) so hubs can be placed, salted, or
  * processed separately from the long tail.
  */
object Adjacency {

  /** Self-protection for the PUBLIC entry points, whose plans reference
    * the caller's edge frame 2–4× AND run an eager cap-decision aggregate
    * at construction time: an UNCACHED input is materialized ONCE via
    * eager localCheckpoint so an expensive upstream (generator, join,
    * extraction) never re-executes per reference. localCheckpoint, not
    * persist — its blocks live outside the CacheManager and the
    * ContextCleaner GC-releases them once the caller drops every frame
    * derived from them, whereas a CacheManager entry recorded here would
    * leak until session end (no caller holds a handle to unpersist). A
    * cached input passes through untouched — engine call sites
    * (PreparedGraph, LPA) pre-persist and pay nothing. */
  private def materializedOnce(e: DataFrame): DataFrame =
    if (e.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      e.localCheckpoint(true)
    else e

  /** Build adjacency blocks from an edge table. One shuffle (the groupBy);
    * destination arrays sorted for deterministic output + mergeable scans.
    * Blocks are degree-capped ([[PreparedGraph.cappedBlocks]]): a vertex
    * whose out-degree exceeds `spark.graft.adjacency.maxBlockArity` spans
    * multiple rows, each carrying the TRUE total `degree` (so `bucket` is
    * the true degree band on every chunk). Below the cap — every test/sf
    * corpus — output is identical to the single-row-per-source layout.
    *
    * EAGER at plan-construction time (the cap decision is a Spark job);
    * an uncached input is materialized once ([[materializedOnce]]) rather
    * than re-executed per plan reference (ADVICE r4). */
  def fromEdges(e: DataFrame, cap: Int = 0): DataFrame = {
    val c = if (cap > 0) cap else PreparedGraph.blockCap(e.sparkSession)
    PreparedGraph.cappedBlocks(materializedOnce(e), "src", "dst", "degree", "dsts", c,
      sort = true)
      .select(
        // degree band: 0 for deg 1, log2 band above — from the TRUE degree
        floor(log2(col("degree").cast("double"))).cast("int").as("bucket"),
        col("src"),
        col("degree"),
        col("dsts"))
  }

  /** Explode blocks back to an edge table (inverse of fromEdges up to
    * parallel-edge multiplicity kept by collect_list). */
  def toEdges(adj: DataFrame): DataFrame =
    adj.select(col("src"), explode(col("dsts")).as("dst"))

  /** Incident (vertex, neighbor) pairs under a direction: Out = a vertex's
    * out-neighbors, In = in-neighbors, Either = both (each parallel edge
    * contributes once per direction it touches the vertex — reference
    * `collectNeighborIds` multiset semantics). */
  private def incident(e: DataFrame, dir: EdgeDirection): DataFrame = dir match {
    case EdgeDirection.Out => e.select(col("src").as("id"), col("dst").as("nbr"))
    case EdgeDirection.In => e.select(col("dst").as("id"), col("src").as("nbr"))
    case EdgeDirection.Either =>
      e.select(col("src").as("id"), col("dst").as("nbr"))
        .union(e.select(col("dst").as("id"), col("src").as("nbr")))
  }

  /** Two-phase degree-capped per-vertex collection: phase 1 aggregates
    * bounded hash-chunks ([[PreparedGraph.cappedBlocks]] — a mega-hub's
    * neighborhood lands on MANY reducers, each row ≤ ~2·cap), phase 2
    * concatenates a vertex's ≤ ceil(deg/cap) chunk ARRAYS (array-valued
    * records, reusing phase 1's hash(id) exchange) and sorts. The OUTPUT
    * row is still one array per vertex — that is the reference API's
    * contract and the caller's to hold — but no aggregation task ever
    * accumulates a hub's neighborhood record-by-record. Sub-cap graphs
    * take cappedBlocks' fast path: a single groupBy, the old plan.
    * EAGER (cappedBlocks' max-degree aggregate runs at plan-construction
    * time) — persist an expensive uncached input first. */
  private def collectCapped(pairs: DataFrame, valueCol: String,
      outName: String): DataFrame =
    PreparedGraph.cappedBlocks(pairs, "id", valueCol, "__deg", "__nlist",
        PreparedGraph.blockCap(pairs.sparkSession))
      .groupBy("id")
      .agg(array_sort(flatten(collect_list(col("__nlist")))).as(outName))

  /** Reference `GraphOps.collectNeighborIds(direction)` (spark-graphx
    * 4.1.2; SURVEY.md §2.3): per-vertex neighbor-id array under the given
    * direction. EVERY vertex of the edge table appears (empty array when
    * it has no neighbors that way — the reference's default-empty
    * leftZipJoin); arrays are SORTED — deterministic where the reference's
    * ordering is partition-dependent (documented stronger). Aggregation is
    * degree-capped ([[collectCapped]]) so a mega-hub's build never funnels
    * through one reducer. An uncached edge input is materialized once
    * ([[materializedOnce]]) — the plan reads it for the vertex universe,
    * the incident pairs, and the cap decision. */
  def collectNeighborIds(e0: DataFrame, dir: EdgeDirection): DataFrame = {
    val e = materializedOnce(e0)
    EdgeOps.vertices(e)
      .join(collectCapped(incident(e, dir), "nbr", "neighbors"),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("neighbors"), array().cast("array<bigint>")).as("neighbors"))
  }

  /** Reference `GraphOps.collectNeighbors(direction)`: neighbor (id, attr)
    * structs per vertex — the id array join'd against a vertex-attr frame
    * (`verts`: id + attr columns). Same universe/empty-default contract as
    * [[collectNeighborIds]]: every vertex of the edge table appears, with
    * an EMPTY array when it has no neighbors that way (the reference's
    * default-empty leftZipJoin — ADVICE r3: previously NULL). Contract on
    * `verts`: a neighbor absent from the attr frame is dropped from the
    * collected arrays (the inner attr join) — pass the full vertex
    * universe, as the reference's own graph-attr call sites do. */
  def collectNeighbors(e0: DataFrame, verts: DataFrame,
      dir: EdgeDirection): DataFrame = {
    val e = materializedOnce(e0)
    val attrs = verts.columns.filter(_ != "id").toSeq
    // internal join key under a reserved name + frame-qualified references:
    // an attr frame legally carrying a column named "nbr" must not make
    // the join ambiguous
    val nbrAttrs = verts.select(
      col("id").as("__nbr") +: attrs.map(c => col(c)): _*)
    val inc = incident(e, dir)
    val pairs = inc.join(nbrAttrs, inc("nbr") === nbrAttrs("__nbr"))
      .select(inc("id"),
        struct(inc("nbr").as("id") +: attrs.map(c => nbrAttrs(c)): _*).as("ns"))
    val grouped = collectCapped(pairs, "ns", "neighbors")
    val emptyArr = array().cast(grouped.schema("neighbors").dataType)
    EdgeOps.vertices(e)
      .join(grouped, Seq("id"), "left")
      .select(col("id"), coalesce(col("neighbors"), emptyArr).as("neighbors"))
  }

  /** Reference `GraphOps.collectEdges(direction)`: incident (src, dst)
    * edge structs per vertex (an Either edge appears under both
    * endpoints; parallel edges preserved). */
  def collectEdges(e0: DataFrame, dir: EdgeDirection): DataFrame = {
    val e = materializedOnce(e0)
    val tagged = dir match {
      case EdgeDirection.Out => e.select(col("src").as("id"), col("src"), col("dst"))
      case EdgeDirection.In => e.select(col("dst").as("id"), col("src"), col("dst"))
      case EdgeDirection.Either =>
        e.select(col("src").as("id"), col("src"), col("dst"))
          .union(e.select(col("dst").as("id"), col("src"), col("dst")))
    }
    collectCapped(
      tagged.select(col("id"), struct(col("src"), col("dst")).as("ed")),
      "ed", "edges")
  }
}

/** Reference `EdgeDirection` (spark-graphx 4.1.2): which incident edges a
  * per-vertex collection reads. */
sealed trait EdgeDirection
object EdgeDirection {
  case object In extends EdgeDirection
  case object Out extends EdgeDirection
  case object Either extends EdgeDirection
}

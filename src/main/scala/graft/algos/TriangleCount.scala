package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-vertex triangle counting via degree-ordered edge orientation
  * (Suri & Vassilvitskii, WWW'11 — the north rule's mandated plan).
  * Output matches the reference exactly (spark-graphx 4.1.2
  * `lib.TriangleCount` on the canonicalized simple graph; FIXTURES.md
  * §3.5): each vertex's count of triangles through it; global total =
  * Σ/3.
  *
  * Plan: canonicalize to the undirected simple graph; orient every edge
  * from the (degree, id)-smaller endpoint to the larger, so a hub of
  * degree d gets its out-edges only from low-degree neighbors — per-source
  * wedge fan-out is bounded by O(sqrt(|E|)) and the wedge self-join stays
  * skew-safe on power-law graphs (the point of the WWW'11 ordering).
  * Wedge pairs are ordered by the same (degree, id) rank, so the
  * triangle-closing probe is a pure equi-join on (b, c) — hash-joinable,
  * no OR-condition nested loops. Each triangle is found exactly once at
  * its (degree, id)-minimal corner and re-attributed to all three corners
  * with one explode + count.
  */
object TriangleCount {

  /** (id, triangles) for every vertex of `edges`. The returned frame is
    * materialized (persisted + counted) and all intermediate caches are
    * released before returning — repeated calls leak nothing.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract. */
  def run(edges: DataFrame): DataFrame = graft.runtime.Storage.scope { s =>
    val spark = edges.sparkSession
    // one pass over the (possibly expensive) input plan: canonicalization
    // AND the vertex universe both derive from this cache (same hazard CC
    // documents — without it the final vertices join re-executes the full
    // upstream plan a second time)
    val raw = s.input(edges, col("src"), col("dst"))
    if (s.owns(raw)) raw.count()
    val canon = s.cache(graft.graph.EdgeOps.canonicalize(raw))
    val canonRows = canon.count()
    val p = graft.runtime.AdaptivePartitions.forRows(spark, canonRows)

    val deg = graft.graph.EdgeOps.degrees(canon)
    val dSrc = deg.select(col("id").as("src"), col("degree").as("sdeg"))
    val dDst = deg.select(col("id").as("dst"), col("degree").as("ddeg"))
    val withDeg = canon
      .join(graft.runtime.AdaptivePartitions.sideFor(dSrc, canonRows * 2), "src")
      .join(graft.runtime.AdaptivePartitions.sideFor(dDst, canonRows * 2), "dst")

    // orient lo → hi by (degree, id); carry hi's (degree, id) rank so the
    // wedge pair can be ordered consistently with the orientation
    val srcFirst = (col("sdeg") < col("ddeg")) ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    val oriented = s.cache(withDeg.select(
      when(srcFirst, col("src")).otherwise(col("dst")).as("lo"),
      when(srcFirst, col("dst")).otherwise(col("src")).as("hi"),
      when(srcFirst, col("ddeg")).otherwise(col("sdeg")).as("hideg"))
      .coalesce(p))
    oriented.count()

    // wedges at pivot a: out-neighbor pairs (b, c) with rank(b) < rank(c)
    val e1 = oriented.select(col("lo").as("a"), col("hi").as("b"), col("hideg").as("bdeg"))
    val e2 = oriented.select(col("lo").as("a2"), col("hi").as("c"), col("hideg").as("cdeg"))
    val wedges = e1.join(e2,
      col("a") === col("a2") &&
        ((col("bdeg") < col("cdeg")) ||
          (col("bdeg") === col("cdeg") && col("b") < col("c"))))
      .select(col("a"), col("b"), col("c"))

    // closing edge: oriented rank(b) < rank(c) ⇒ it is exactly (b, c)
    val closing = oriented.select(col("lo").as("b"), col("hi").as("c"))
    val triangles = wedges.join(closing, Seq("b", "c"), "left_semi")

    val perVertex = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

    // materialized, then the scope releases the intermediates
    s.result(graft.graph.EdgeOps.vertices(raw)
      .join(perVertex, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles")))
  }

  /** Global triangle count (= Σ per-vertex / 3) — aggregates `run`'s
    * materialized output (one shared pipeline, not a second full run). */
  def total(edges: DataFrame): Long = graft.runtime.Storage.scope { s =>
    val r = s.own(run(edges)).agg(sum("triangles")).first()
    if (r.isNullAt(0)) 0L else r.getLong(0) / 3
  }
}

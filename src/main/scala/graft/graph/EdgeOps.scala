package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structural operators over the edge table — the Dataset re-expression of
  * the reference's `Graph`/`GraphOps` surface (spark-graphx 4.1.2
  * `GraphOps.{removeSelfEdges,convertToCanonicalEdges,degrees,
  * collectNeighborIds}`; SURVEY.md §2.2-2.3).
  *
  * All ops are single declarative plans: filters/projections stay narrow,
  * aggregations get map-side partial aggregation from Catalyst, and joins
  * are plain equi-joins the optimizer can broadcast or shuffle as stats
  * dictate.
  */
object EdgeOps {

  /** Columns contract: every edge DataFrame here has `src: Long, dst: Long`
    * (extra columns pass through where meaningful). */
  def edges(df: DataFrame): DataFrame = df.select(col("src"), col("dst"))

  /** pages/outlinks (src_url, dst_url) → encoded (src, dst) via xxhash64.
    * Pure expressions — no dictionary join needed to encode. */
  def encode(outlinks: DataFrame): DataFrame =
    outlinks.select(
      xxhash64(col("src_url")).as("src"),
      xxhash64(col("dst_url")).as("dst"))

  /** Durable edge-table round-trip through the TableIO seam (parquet
    * locally, Iceberg on a configured lakehouse). */
  def writeEdges(e: DataFrame, ref: String): Unit =
    graft.sources.TableIO.forSession(e.sparkSession).write(edges(e), ref)

  def readEdges(spark: SparkSession, ref: String): DataFrame =
    graft.sources.TableIO.forSession(spark).read(spark, ref).select(col("src"), col("dst"))

  /** Reference `GraphOps.removeSelfEdges`. */
  def removeSelfLoops(e: DataFrame): DataFrame = e.filter(col("src") =!= col("dst"))

  /** Reference `GraphOps.convertToCanonicalEdges` + dedup: undirected
    * simple-graph form — (min, max) per edge, self-loops dropped,
    * parallel edges collapsed. */
  def canonicalize(e: DataFrame): DataFrame =
    removeSelfLoops(e)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /** Vertex set of an edge table. */
  def vertices(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()

  /** Out-degrees — vertices with no out-edges are ABSENT (reference
    * `GraphOps.outDegrees` semantics, FIXTURES.md §3); left-join against
    * `vertices` + coalesce(0) when the total function is wanted. */
  def outDegrees(e: DataFrame): DataFrame =
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

  def inDegrees(e: DataFrame): DataFrame =
    e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("degree"))

  /** Total degree (in+out), one aggregate over the exploded endpoints. */
  def degrees(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  /** GraphLoader-compatible text edge-list reader (reference
    * `GraphLoader.edgeListFile`, FIXTURES.md §1.2/§3.6): whitespace-
    * separated `src dst`, `#` comments skipped, duplicates and self-loops
    * preserved, extra tokens beyond the first two ignored (as the
    * reference); optional canonical orientation flips each edge to
    * src <= dst (per-edge flip, NOT dedup — matches reference).
    *
    * Malformed lines FAIL LOUDLY with the offending line in the message —
    * the reference throws on them too ("Invalid line" /
    * NumberFormatException); a plain `cast` here would instead emit
    * silent null-id phantom edges with ANSI off, or an opaque cast error
    * with ANSI on. One documented lenience: leading whitespace is trimmed
    * before parsing (the reference crashes on indented but otherwise
    * valid lines). */
  def edgeListFile(spark: SparkSession, path: String,
      canonicalOrientation: Boolean = false): DataFrame = {
    val parsed = spark.read.text(path)
      .filter(not(col("value").startsWith("#")) && length(trim(col("value"))) > 0)
      .select(col("value"), split(trim(col("value")), "\\s+").as("f"))
      .select(col("value"),
        expr("try_cast(try_element_at(f, 1) AS BIGINT)").as("src"),
        expr("try_cast(try_element_at(f, 2) AS BIGINT)").as("dst"))
    val raw = parsed
      .select(
        assert_true(col("src").isNotNull && col("dst").isNotNull,
          concat(lit("invalid line in edge list file: "), col("value"))).as("__ok"),
        col("src"), col("dst"))
      .filter(col("__ok").isNull) // vacuously true; keeps the assert live
      .select(col("src"), col("dst"))
    if (canonicalOrientation)
      raw.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
    else raw
  }
}

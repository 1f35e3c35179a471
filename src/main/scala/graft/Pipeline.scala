package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, PageRank}
import graft.graph.{EdgeOps, PreparedGraph}
import graft.ids.UrlDict
import graft.pages.{Extract, PageGen}
import graft.runtime.{CheckpointConfig, Storage}
import graft.sources.TableIO

/** The north-star flow as ONE spark-submit entry point: page table →
  * byte-identical text/outlink extraction → xxhash64 url→id encoding
  * (collision-audited) → degree-capped prepared adjacency → checkpointed
  * PageRank + connected components → results written back through the
  * TableIO seam (parquet locally; Iceberg catalog tables when
  * `spark.graft.io=iceberg` is configured — every durable read/write in
  * this main goes through the seam).
  *
  * Restart semantics: every superstep logs per-partition lineage/metrics
  * and snapshots state on the checkpoint cadence, so re-running with
  * `--resume` continues a killed job from the latest committed snapshot
  * (bit-identical to never having stopped — ResumeSpec pins this); a
  * completed stage (pages, edges, ranks, components) is not recomputed.
  *
  * Usage:
  *   bin/spark-submit-bench.sh graft.Pipeline <workDir> [numPages] [--resume]
  */
object Pipeline {

  final case class Result(pages: Long, edges: Long, vertices: Long,
      components: Long, rankSum: Double, resumedFromSuperstep: Int)

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.nonEmpty, "usage: graft.Pipeline <workDir> [numPages] [--resume]")
    val workDir = pos(0)
    val numPages = if (pos.length > 1) pos(1).toLong else 20000L
    val resume = args.contains("--resume")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.runtime.Sessions.local(cpus, 2 * cpus, "graft-pipeline")
    val r = run(spark, workDir, numPages, resume)
    println(s"""{"metric":"pipeline","pages":${r.pages},"edges":${r.edges},""" +
      s""""vertices":${r.vertices},"components":${r.components},""" +
      f""""rank_sum":${r.rankSum}%.6f,"resumed_from":${r.resumedFromSuperstep}}""")
    spark.stop()
  }

  /** Execute (or resume) the pipeline under `workDir`. Idempotent per
    * DERIVED stage (edges/ranks/components): a stage whose output table
    * exists AND COMMITTED (`TableIO.committed` — a torn, killed-mid-write
    * parquet dir is NOT reused as a completed stage) is skipped when
    * `resume` is set, recomputed (overwritten) otherwise. The pages stage
    * is INPUT data, not a derived output: it is generated only when the
    * table is absent, an existing committed table is always reused
    * (never overwritten — a real deployment points it at the crawl's
    * table), a generation THIS pipeline flagged in-progress and then died
    * inside is regenerated on restart, and any other
    * existing-but-uncommitted table fails loudly. Graph
    * preparation only runs if an iterative stage still needs it, so
    * resuming a fully-completed run recomputes nothing — it pays only
    * per-stage output scans (pages count, ONE fused ranks sum+count
    * aggregate, components distinct-count, edges count). */
  def run(spark: SparkSession, workDir: String, numPages: Long,
      resume: Boolean = false, prIters: Int = 20): Result = Storage.scope { s =>
    val io = TableIO.forSession(spark)
    val pagesRef = s"$workDir/pages"
    val edgesRef = s"$workDir/edges"
    val ranksRef = s"$workDir/ranks"
    val compsRef = s"$workDir/components"
    def done(ref: String): Boolean = resume && io.committed(spark, ref)

    // stage 1: page table — input data, never silently overwritten (see
    // the run() contract). The pipeline flags its OWN generation with a
    // workDir-local in-progress marker, so a run killed mid-generation
    // regenerates on restart, while an exists-but-uncommitted table the
    // pipeline did NOT flag (an external crawl table, torn or written
    // without markers) fails here rather than being destroyed by
    // regeneration or half-read downstream — the operator deletes the
    // torn dir or supplies a committed table.
    val parquetIo = io eq graft.sources.ParquetTableIO
    val genFlag = new org.apache.hadoop.fs.Path(s"$workDir/.pages_generating")
    lazy val flagFs = genFlag.getFileSystem(spark.sessionState.newHadoopConf())
    def generatePages(): Unit = {
      if (parquetIo) flagFs.create(genFlag, true).close()
      PageGen.write(PageGen.pages(spark, PageGen.Config(numPages = numPages)), pagesRef)
      if (parquetIo) flagFs.delete(genFlag, false)
    }
    if (!io.exists(spark, pagesRef)) generatePages()
    else if (!io.committed(spark, pagesRef)) {
      if (parquetIo && flagFs.exists(genFlag)) generatePages() // our own torn write
      else throw new IllegalStateException(s"pages table at $pagesRef exists " +
        "but is not committed and was not generated by this pipeline — " +
        "refusing to reuse or overwrite it; delete the torn directory or " +
        "supply a committed table")
    } else if (parquetIo && flagFs.exists(genFlag))
      flagFs.delete(genFlag, false) // stale flag: a kill landed between commit and unflag
    val pages = io.read(spark, pagesRef)
    val nPages = pages.count()
    if (nPages != numPages)
      // operator-facing and always on (a wrong-sized reused corpus must
      // not depend on the GRAFT_TRACE opt-in to be visible)
      System.err.println(s"[graft] pipeline reusing existing pages table at " +
        s"$pagesRef: $nPages rows (requested $numPages)")

    // stage 2: extraction + encoding (pure expressions; the url→id dict
    // is audited once per corpus build — collisions fail loudly). The
    // audited universe is EVERY url encode() hashes: page urls AND
    // outlink dst_urls — dangling link targets dominate a real crawl and
    // a collision among them merges two vertices just as silently as one
    // among page urls.
    if (!done(edgesRef)) {
      require(Extract.textInvariantViolations(pages) == 0,
        "stored text is not byte-identical to re-extraction")
      val outlinks = Extract.outlinks(pages)
      UrlDict.auditCollisions(UrlDict.dict(
        pages.select(col("url"))
          .union(outlinks.select(col("dst_url").as("url")))))
      EdgeOps.writeEdges(EdgeOps.encode(outlinks), edgesRef)
    }
    val edges = EdgeOps.readEdges(spark, edgesRef)

    // stage 3: iterative operators, checkpointed + resumable. Graph prep
    // (edge cache + degree aggregate + adjacency build) is the expensive
    // shared step — build lazily so a run whose iterative outputs all
    // committed never pays it again; released when the run exits
    val ck = CheckpointConfig(s"$workDir/checkpoints", "pipeline", every = 5)
    val resumedFrom =
      if (resume)
        graft.runtime.Checkpoints.latest(spark, ck, "pagerank").map(_._1).getOrElse(0)
      else 0
    var gBuilt: Option[PreparedGraph] = None
    def g: PreparedGraph = gBuilt.getOrElse {
      val built = s.own(PreparedGraph(edges)); gBuilt = Some(built); built
    }
    // one fused scan serves both the rank sum and (when no graph is ever
    // built on the fully-resumed path) the vertex count
    var ranksCount = -1L
    val rankSum =
      if (done(ranksRef)) {
        // coalesce: sum over an empty (zero-outlink corpus) table is null
        val r = io.read(spark, ranksRef)
          .agg(coalesce(sum("rank"), lit(0.0)), count(lit(1))).first()
        ranksCount = r.getLong(1)
        r.getDouble(0)
      } else {
        val ranks = s.own(PageRank.runPrepared(g,
          PageRank.Config(numIter = prIters, checkpoint = Some(ck), resume = resume)))
        io.write(ranks, ranksRef)
        val total = ranks.agg(coalesce(sum("rank"), lit(0.0))).first().getDouble(0)
        s.release(ranks)
        total
      }
    val components =
      if (done(compsRef))
        io.read(spark, compsRef).agg(countDistinct("component")).first().getLong(0)
      else {
        val cc = s.own(ConnectedComponents.run(g.edges,
          ConnectedComponents.Config(checkpoint = Some(ck), resume = resume)))
        io.write(cc, compsRef)
        val n = cc.select("component").distinct().count()
        s.release(cc)
        n
      }
    val nEdges = gBuilt.map(_.numEdges).getOrElse(edges.count())
    // ranksCount ≥ 0 whenever no graph was built: the only path that skips
    // graph prep is both iterative stages committed, which read ranks above
    val nVertices = gBuilt.map(_.numVertices).getOrElse(ranksCount)
    Result(nPages, nEdges, nVertices, components, rankSum, resumedFrom)
  }
}

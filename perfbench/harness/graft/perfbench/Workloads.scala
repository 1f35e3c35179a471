package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.graphx.{Graph => XGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.algos.{ConnectedComponents, PageRank}
import graft.graph.{EdgeOps, GraphGen, PreparedGraph}
import graft.ids.UrlDict
import graft.pages.{Extract, PageGen}
import graft.runtime.{CheckpointConfig, Checkpoints}
import graft.sources.TableIO

/** What one operation produced, collected after its timing stops. */
final case class Output(ids: Array[Long], ranks: Array[Double], supersteps: Int,
    stepMs: Seq[Long], edges: Long, vertices: Long, components: Long = -1L,
    rankSum: Double = Double.NaN)

/** Reference answers for the output check. */
final case class Reference(ids: Array[Long], ranks: Array[Double],
    components: Long, seconds: Double)

/** An exact single-machine reference over an edge list, so an untraced run
  * need not pay for GraphX. PageRank follows GraphX `staticPageRank`: every
  * rank starts at 1.0, each superstep sets r(v) = 0.15 + 0.85 Σ r(u) /
  * outdeg(u) over the edges u → v (multi-edges and self-loops count, the
  * mass of vertices without out-edges is dropped), and the result is scaled
  * to sum to the vertex count. Components come from union-find. */
object LocalReference {
  def edgesOf(df: DataFrame): (Array[Long], Array[Long]) = {
    val parts = df.select(col("src"), col("dst")).rdd.mapPartitions { it =>
      val s = Array.newBuilder[Long]
      val d = Array.newBuilder[Long]
      it.foreach { r => s += r.getLong(0); d += r.getLong(1) }
      Iterator((s.result(), d.result()))
    }.collect()
    (parts.flatMap(_._1), parts.flatMap(_._2))
  }

  def apply(df: DataFrame, iters: Int): Reference = {
    val t0 = System.nanoTime()
    val (src, dst) = edgesOf(df)
    val all = src ++ dst
    java.util.Arrays.sort(all)
    val ids = if (all.isEmpty) all else {
      val b = Array.newBuilder[Long]
      b += all(0)
      for (i <- 1 until all.length if all(i) != all(i - 1)) b += all(i)
      b.result()
    }
    val n = ids.length
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    val outDeg = new Array[Int](n)
    s.foreach(u => outDeg(u) += 1)
    var r = Array.fill(n)(1.0)
    for (_ <- 1 to iters) {
      val msg = new Array[Double](n)
      var i = 0
      while (i < s.length) { msg(d(i)) += r(s(i)) / outDeg(s(i)); i += 1 }
      r = msg.map(m => 0.15 + 0.85 * m)
    }
    val scale = if (n == 0) 1.0 else n / r.sum
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var y = x
      while (parent(y) != y) { parent(y) = parent(parent(y)); y = parent(y) }
      y
    }
    s.indices.foreach { i => parent(find(s(i))) = find(d(i)) }
    val components = (0 until n).count(v => find(v) == v).toLong
    Reference(ids, r.map(_ * scale), components, (System.nanoTime() - t0) / 1e9)
  }
}

/** One benchmark workload: inputs made in [[setup]], one timed operation,
  * and the reference its outputs are checked against. A `Spans` argument
  * turns on the traced form, which makes the same public calls inside
  * named spans. */
trait Workload {
  /** Untimed operations between the cold one and the timed ones. */
  def warmupOps: Int
  /** Timed operations per untraced run, at least. */
  def timedOps: Int
  /** Build the inputs; a second call replaces the first call's inputs. */
  def setup(sp: Option[Spans]): Unit
  /** Run the operation and collect its output; the cost covers the
    * operation, not the collection. */
  def op(sp: Option[Spans]): (Cost, Output)
  /** The reference answers: from GraphX when `graphx` is set, else from
    * [[LocalReference]] where the workload has one. */
  def reference(graphx: Boolean): Reference
  /** Check one output against the reference; None when it passes. */
  def check(o: Output, ref: Reference): Option[String]
  /** Free the inputs and delete the files this workload wrote. */
  def close(): Unit

  protected def span[T](sp: Option[Spans], name: String)(f: => T): T =
    sp.fold(f)(_(name)(f))

  protected def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, cpus: Int, work: Path): Workload =
    name match {
      case "pr_static_4m" => new PrStatic(spark, seed, 2 * cpus)
      case "crawl_pipeline_1k" => new CrawlPipeline(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  val Tol = 1e-6

  def ranksOf(df: DataFrame): (Array[Long], Array[Double]) = {
    val rows = df.select(col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  def graphxOf(edges: DataFrame): XGraph[Int, Int] =
    XGraph.fromEdgeTuples(edges.select(col("src"), col("dst")).rdd
      .map(r => (r.getLong(0), r.getLong(1))), defaultValue = 1)

  def sorted(vs: Array[(Long, Double)]): (Array[Long], Array[Double]) = {
    val s = vs.sortBy(_._1)
    (s.map(_._1), s.map(_._2))
  }

  /** allclose with absolute tolerance [[Tol]] over the same vertex set. */
  def compareRanks(o: Output, ref: Reference): Option[String] =
    if (!java.util.Arrays.equals(o.ids, ref.ids))
      Some(s"vertex sets differ: ${o.ids.length} vs reference ${ref.ids.length}")
    else {
      val worst = o.ranks.indices.maxByOption(i => math.abs(o.ranks(i) - ref.ranks(i)))
      worst.filter(i => !(math.abs(o.ranks(i) - ref.ranks(i)) <= Tol)).map { i =>
        s"vertex ${o.ids(i)}: rank ${o.ranks(i)} vs reference ${ref.ranks(i)}"
      }
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** Per-superstep wall ms from a superstep log (the largest row of each
    * superstep, so a retried superstep counts its slowest attempt). */
  def stepMs(log: DataFrame): Seq[Long] =
    log.groupBy("superstep").agg(max("wall_ms")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2).toSeq
}

import Workload._

/** The headline shape: 5 static supersteps over a prepared logNormal graph
  * (30k vertices, about 3.8M edges). Bound by the data path. */
final class PrStatic(spark: SparkSession, seed: Long, parts: Int) extends Workload {
  private val Iters = 5
  private var edges: DataFrame = _
  private var g: PreparedGraph = _

  // the JIT keeps speeding the operation up for ten or more warm ones (by
  // 15-25% in all), in steps that come a few operations earlier or later
  // from one JVM to the next. Every run times the same five, so its median
  // sits at the same place on that curve and no single step decides it.
  val warmupOps = 1
  val timedOps = 5

  def setup(sp: Option[Spans]): Unit = {
    if (g != null) g.unpersist()
    edges = GraphGen.logNormalEdges(spark, 30000, seed = seed, numPartitions = parts)
    sp.foreach(_("graph.generate")(edges.count()))
    g = span(sp, "graph.prepare")(PreparedGraph(edges, numPartitions = parts))
    g.numVertices
  }

  def op(sp: Option[Spans]): (Cost, Output) = {
    val (t, ranks) = Probe.measure(span(sp, "algos.pagerank") {
      PageRank.runPrepared(g, PageRank.Config(numIter = Iters, numPartitions = parts))
    })
    val (ids, rs) = ranksOf(ranks)
    ranks.unpersist(false)
    (t, Output(ids, rs, Iters, Nil, g.numEdges, g.numVertices))
  }

  def reference(graphx: Boolean): Reference = {
    g.unpersist()
    g = null
    if (!graphx) LocalReference(edges, Iters)
    else {
      val (t, vs) = timed(graphxOf(edges).staticPageRank(Iters).vertices.collect())
      val (ids, rs) = sorted(vs)
      Reference(ids, rs, -1L, t)
    }
  }

  def check(o: Output, ref: Reference): Option[String] = compareRanks(o, ref)

  def close(): Unit = if (g != null) g.unpersist()
}

/** The whole north-star flow over a 1k-page crawl written in set-up:
  * extract, encode, prepare, 5 checkpointed PageRank supersteps with a
  * snapshot, connected components, parquet writes. Each operation gets a
  * fresh work dir holding a copy of the page table. */
final class CrawlPipeline(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val NumPages = 1000L
  private val Iters = 5
  // an operation is about 100 small jobs, and the JIT keeps speeding it
  // up for five or more operations, longer than a run can wait. After the
  // cold operation and one warm-up, the next two take within about 5% of
  // each other; every run times those two, so its median sits at the same
  // place on that curve.
  val warmupOps = 1
  val timedOps = 2
  private val pagesSrc = work.resolve("pages-src")
  private var runs = 0
  private var lastDir: Path = _

  def setup(sp: Option[Spans]): Unit = {
    deleteTree(pagesSrc)
    span(sp, "pages.generate") {
      PageGen.write(PageGen.pages(spark, PageGen.Config(numPages = NumPages, seed = seed)),
        pagesSrc.toString)
    }
  }

  def op(sp: Option[Spans]): (Cost, Output) = {
    runs += 1
    val dir = work.resolve(s"pipeline-$runs")
    copyTree(pagesSrc, dir.resolve("pages"))
    val (t, r) = Probe.measure(sp match {
      case None => Pipeline.run(spark, dir.toString, NumPages, prIters = Iters)
      case Some(s) => replay(s, dir.toString)
    })
    val io = TableIO.forSession(spark)
    val (ids, rs) = ranksOf(io.read(spark, s"$dir/ranks"))
    val ck = CheckpointConfig(s"$dir/checkpoints", "pipeline", every = 5)
    val steps = stepMs(Checkpoints.readLog(spark, ck, "pagerank"))
    if (lastDir != null) deleteTree(lastDir)
    lastDir = dir
    (t, Output(ids, rs, steps.size, steps, r.edges, r.vertices, r.components, r.rankSum))
  }

  /** `Pipeline.run`'s non-resume path, call for call, inside spans. */
  private def replay(s: Spans, workDir: String): Pipeline.Result = {
    val io = TableIO.forSession(spark)
    val (pages, nPages, outlinks) = s("pages.extract") {
      val pages = io.read(spark, s"$workDir/pages")
      val n = pages.count()
      require(Extract.textInvariantViolations(pages) == 0,
        "stored text is not byte-identical to re-extraction")
      (pages, n, Extract.outlinks(pages))
    }
    val encoded = s("ids.encode") {
      UrlDict.auditCollisions(UrlDict.dict(
        pages.select(col("url")).union(outlinks.select(col("dst_url").as("url")))))
      EdgeOps.encode(outlinks)
    }
    s("sources.write")(EdgeOps.writeEdges(encoded, s"$workDir/edges"))
    val edges = EdgeOps.readEdges(spark, s"$workDir/edges")
    val ck = CheckpointConfig(s"$workDir/checkpoints", "pipeline", every = 5)
    val g = s("graph.prepare")(PreparedGraph(edges))
    val ranks = s("algos.pagerank") {
      PageRank.runPrepared(g, PageRank.Config(numIter = Iters, checkpoint = Some(ck)))
    }
    s("sources.write")(io.write(ranks, s"$workDir/ranks"))
    val rankSum = s("algos.pagerank") {
      val v = ranks.agg(coalesce(sum("rank"), lit(0.0))).first().getDouble(0)
      ranks.unpersist(false)
      v
    }
    val cc = s("algos.cc")(ConnectedComponents.run(g.edges,
      ConnectedComponents.Config(checkpoint = Some(ck))))
    s("sources.write")(io.write(cc, s"$workDir/components"))
    val components = s("algos.cc") {
      val n = cc.select("component").distinct().count()
      cc.unpersist(false)
      n
    }
    val r = Pipeline.Result(nPages, g.numEdges, g.numVertices, components, rankSum, 0)
    g.unpersist()
    r
  }

  def reference(graphx: Boolean): Reference = {
    val edges = EdgeOps.readEdges(spark, s"$lastDir/edges")
    if (!graphx) LocalReference(edges, Iters)
    else {
      val x = graphxOf(edges).cache()
      val (t, vs) = timed(x.staticPageRank(Iters).vertices.collect())
      val comps = x.connectedComponents().vertices.map(_._2).distinct().count()
      x.unpersist(false)
      val (ids, rs) = sorted(vs)
      Reference(ids, rs, comps, t)
    }
  }

  def check(o: Output, ref: Reference): Option[String] =
    if (!(math.abs(o.rankSum - o.vertices) <= 1e-9 * o.vertices))
      Some(s"rank_sum ${o.rankSum} != vertices ${o.vertices}")
    else if (o.components != ref.components)
      Some(s"components ${o.components} vs reference ${ref.components}")
    else if (o.supersteps != Iters)
      Some(s"${o.supersteps} logged supersteps, expected $Iters")
    else compareRanks(o, ref)

  def close(): Unit = {
    deleteTree(pagesSrc)
    if (lastDir != null) deleteTree(lastDir)
  }
}

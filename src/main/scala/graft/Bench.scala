package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.algos.PageRank
import graft.graph.GraphGen

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, then the headline metric — PageRank throughput
  * (edges/sec/superstep) on the BASELINE.md workload (logNormal graph,
  * 100k vertices ≈ 12.7M edges, 5 supersteps; reference GraphX 4.1.2
  * measured 6.93M edges/s/superstep best-of-2 at local[8] on this box) —
  * plus iterations-to-1e-6-convergence (deterministic cross-check).
  * Prints ONE JSON line.
  *
  * Env knobs: SPARK_GRAFT_CPUS (threads), SPARK_GRAFT_BENCH_VERTS
  * (benchmark graph size, default 100000), SPARK_GRAFT_SF_DIR.
  */
object Bench {
  def main(args: Array[String]): Unit = {

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val benchVerts = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERTS", "100000").toLong
    val spark = graft.runtime.Sessions.local(cpus, 2 * cpus, "graft-bench")

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // per-query timings over the driver's testdata; a crashing query is
    // recorded as an error string, never disguised as a fast run.
    // Contention defense (VERDICT r2 what's-wrong #5, refined r4 per
    // VERDICT r3 next #7 + ADVICE): EVERY query whose first run exceeds
    // `medianAbove` AND the `rerunTopN` slowest first-runs overall get
    // two more runs; the reported number is the MEDIAN over the runs
    // that did NOT error (an errored rerun's wall time never enters the
    // median — ADVICE r3). First-run (cold) times ship separately in the
    // JSON alongside all raws, so cold-vs-warm is auditable per query.
    val medianAbove = sys.env.getOrElse("SPARK_GRAFT_MEDIAN_ABOVE_SEC", "5.0").toDouble
    val rerunTopN = sys.env.getOrElse("SPARK_GRAFT_RERUN_TOP_N", "8").toInt
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rawRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val stageRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Double)]]
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // storage snapshot: (persistent RDD count, cached bytes in memory+disk)
    // — the accumulation audit (VERDICT r4 what's-wrong #4)
    def storageSnap(): (Int, Long) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
    }
    // releaseNew=true (reruns only): unpersist every RDD the run pinned —
    // the query's persisted result and its final-superstep localCheckpoint
    // blocks — so a 29-query × 3-rerun suite doesn't accumulate dozens of
    // block sets (VERDICT r4 what's-wrong #4). Never on first runs: those
    // legitimately create the memoized graph/pair frames later queries
    // reuse.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        releaseNew: Boolean = false,
        errorSink: scala.collection.mutable.Map[String, String] = errors): Option[Double] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      graft.runtime.Trace.startCollecting()
      var failed = false
      val (_, dt) = time {
        // toRdd.count(), not Dataset.count(): the Aggregate[count(1)] form
        // lets Catalyst column-prune EVERY projected expression out of a
        // pure-projection query (doc stats, text quality, emb norms would
        // be timed as a bare parquet footer scan); toRdd materializes all
        // output columns, so the timing covers the query's actual work
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable =>
          failed = true
          errorSink(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        }
      }
      val st = graft.runtime.Trace.drain()
      if (st.nonEmpty) stageRuns(name) = stageRuns.getOrElse(name, Nil) ++ st
      if (releaseNew)
        spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !before(id) }
          .values.foreach(_.unpersist(false))
      if (failed) None else Some(dt)
    }
    val storageStart = storageSnap()
    // a rerun-only flake must not mark a successfully-timed query as
    // errored (drivers treat any "errors" key as a failed query, and the
    // total would then disagree with the exclude-errored rule) — rerun
    // failures are reported separately
    val rerunErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val firsts = ordered.map { case (name, fn) => name -> once(name, fn) }
    val okFirsts = firsts.collect { case (n, Some(t)) => (n, t) }
    val rerun = (okFirsts.sortBy(-_._2).take(rerunTopN) ++
      okFirsts.filter(_._2 > medianAbove)).map(_._1).toSet
    def median(s: Seq[Double]): Double = {
      val v = s.sorted
      // true median: an even survivor count (one rerun errored) must not
      // pick the larger middle value — that reported the WORST surviving
      // run for precisely the flaky cases the rerun machinery targets
      if (v.size % 2 == 1) v(v.size / 2)
      else (v(v.size / 2 - 1) + v(v.size / 2)) / 2.0
    }
    val results = ordered.map { case (name, fn) =>
      val first = firsts.toMap.apply(name)
      val extra =
        if (first.isDefined && rerun(name))
          Seq(once(name, fn, releaseNew = true, errorSink = rerunErrors),
            once(name, fn, releaseNew = true, errorSink = rerunErrors)).flatten
        else Nil
      val ok = first.toSeq ++ extra
      rawRuns(name) = ok
      // all runs errored → nothing to report but the error entry; a
      // sentinel keeps the JSON well-formed without faking a timing
      name -> (if (ok.isEmpty) -1.0 else median(ok))
    }
    val firstJson = okFirsts.map { case (n, t) => "\"" + n + f"\":$t%.3f" }
      .mkString("{", ",", "}")
    val storageEnd = storageSnap()

    // phase boundary: stop stage collection (the headline phase's
    // supersteps would otherwise queue unread forever) and drop every
    // cached frame the query phase left behind (memoized driver graphs +
    // doc pair frames included) so the headline measures the engine, not
    // the residue of 30 queries in the same JVM
    graft.runtime.Trace.stopCollecting()
    graft.runtime.Storage.clearMemo(spark)
    spark.catalog.clearCache()
    // first-run residue (final-superstep localCheckpoint blocks outside
    // the CacheManager): release explicitly — clearCache can't see them
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val storageClean = storageSnap()

    // headline: PageRank on the baseline workload (graph prep timed
    // separately, as SynthBenchmark separates creation from run)
    val (g, prepSec) = time {
      graft.graph.PreparedGraph(
        GraphGen.logNormalEdges(spark, benchVerts, numPartitions = 2 * cpus),
        numPartitions = 2 * cpus)
    }
    val numEdges = g.numEdges
    val iters = 5
    val runs = (1 to 3).map { _ =>
      val (_, dt) = time {
        PageRank.runPrepared(g, PageRank.Config(numIter = iters,
          numPartitions = 2 * cpus)).unpersist(false)
      }
      dt
    }
    val prSec = runs.min
    val edgesPerSecPerSuperstep = numEdges.toDouble * iters / prSec
    // release the headline graph before the next phase (its adjacency and
    // the runs' final-state blocks otherwise ride through the tol + rmat
    // phases as exactly the cache residue the phase-boundary cleanup
    // above exists to prevent)
    g.unpersist()

    // iterations to 1e-6 (deterministic; smaller sparse graph keeps it cheap)
    val smallEdges = GraphGen.logNormalEdges(spark, 10000, mu = 1.5, sigma = 1.0,
      numPartitions = cpus).cache()
    smallEdges.count()
    val ckdir = java.nio.file.Files.createTempDirectory("benchck").toString
    val ck = graft.runtime.CheckpointConfig(ckdir, "bench", every = 1000)
    val (_, tolSec) = time {
      val tolRanks = PageRank.run(smallEdges, PageRank.Config(tol = Some(1e-6),
        checkpoint = Some(ck)))
      tolRanks.count()
      tolRanks.unpersist(false)
    }
    val itersTo1e6 = graft.runtime.Checkpoints
      .readLog(spark, ck, "pagerank_tol").agg(max("superstep")).first().getInt(0)
    smallEdges.unpersist(false)
    // final-state localCheckpoint blocks of the headline + tol runs live
    // outside the CacheManager — sweep before the rmat phase, and drop
    // the temp checkpoint dir
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    locally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckdir))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

    // adversarial-skew workload (VERDICT r3 next #5): R-MAT concentrates
    // hub mass near vertex 0 — a power-law tail logNormal doesn't reach —
    // exercising degree-capped block chunking, AQE skew handling and the
    // salted-aggregation paths under realistic web-graph skew
    val rmatVerts = sys.env.getOrElse("SPARK_GRAFT_RMAT_VERTS", "131072").toLong
    val rmatEdgeCount = sys.env.getOrElse("SPARK_GRAFT_RMAT_EDGES", "2500000").toLong
    val (rg, rmatPrepSec) = time {
      graft.graph.PreparedGraph(
        GraphGen.rmatEdges(spark, rmatVerts, rmatEdgeCount, numPartitions = 2 * cpus),
        numPartitions = 2 * cpus)
    }
    val skewRow = rg.adjacency.select(col("src"), col("degree")).distinct()
      .agg(max("degree"), expr("approx_percentile(degree, 0.99)")).first()
    val (maxOutDeg, p99OutDeg) = (skewRow.getLong(0), skewRow.getLong(1))
    val rmatRuns = (1 to 2).map { _ =>
      time {
        PageRank.runPrepared(rg, PageRank.Config(numIter = iters,
          numPartitions = 2 * cpus)).unpersist(false)
      }._2
    }
    val rmatPrSec = rmatRuns.min
    val (ccRmat, rmatCcSec) = time {
      val cc = graft.algos.ConnectedComponents.run(rg.edges)
      val n = cc.count(); cc.unpersist(false); n
    }
    rg.unpersist()

    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val qraw = rawRuns.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(r => f"$r%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-stage wall times in run order (reruns concatenated — repeated
    // labels delimit runs): attributes an outlier run to its stage
    val stagesJson = stageRuns.map { case (q, st) =>
      "\"" + q + "\":[" +
        st.map { case (l, s) => "[" + jstr(l) + f",$s%.3f]" }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // memoized-input honesty (VERDICT r4 what's-wrong #1): each shared
    // input (derived graphs, verified ngram pair frame) is built ONCE,
    // inside the first-run timing of whichever query triggered it — every
    // later consumer's timing is a warm read. This object names the
    // builder and its cost so a JSON consumer never mistakes a consumer's
    // near-zero time for the pipeline's cost.
    val memoJson = stageRuns.toSeq.flatMap { case (q, st) =>
      st.collect { case (l, s) if l.startsWith("memo_build:") =>
        "\"" + l.stripPrefix("memo_build:") + "\":{\"built_by\":" + jstr(q) +
          f",\"sec\":$s%.3f}"
      }
    }.mkString("{", ",", "}")
    val storageJson =
      s"""{"suite_start":{"rdds":${storageStart._1},"bytes":${storageStart._2}},""" +
      s""""suite_end":{"rdds":${storageEnd._1},"bytes":${storageEnd._2}},""" +
      s""""after_cleanup":{"rdds":${storageClean._1},"bytes":${storageClean._2}}}"""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    val rerunErrJson =
      rerunErrors.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    // the -1.0 all-runs-errored sentinel must not subtract from the total
    val total = results.map(_._2).filter(_ >= 0).sum + prSec
    // process-wide since JVM start: Janino compiles (codegen cache misses)
    // and their exact summed time (CodegenMetrics' histogram only samples)
    val codegenCompiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val codegenSec =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_first":$firstJson,"query_runs":$qraw,"stages":$stagesJson,"memo_builds":$memoJson,"storage":$storageJson,"errors":$errJson,"rerun_errors":$rerunErrJson,"sf":"$sfDir","cpus":$cpus,"pagerank_bench":{"vertices":$benchVerts,"edges":$numEdges,"supersteps":$iters,"prep_sec":$prepSec%.3f,"sec":$prSec%.3f,"runs":[${runs.map(r => f"$r%.3f").mkString(",")}],"edges_per_sec_per_superstep":$edgesPerSecPerSuperstep%.0f},"rmat_bench":{"vertices":$rmatVerts,"edges":${rg.numEdges},"max_out_degree":$maxOutDeg,"p99_out_degree":$p99OutDeg,"prep_sec":$rmatPrepSec%.3f,"pagerank_sec":$rmatPrSec%.3f,"pagerank_runs":[${rmatRuns.map(r => f"$r%.3f").mkString(",")}],"edges_per_sec_per_superstep":${rg.numEdges.toDouble * iters / rmatPrSec}%.0f,"cc_sec":$rmatCcSec%.3f,"cc_vertices":$ccRmat},"iters_to_1e6_10k":$itersTo1e6,"iters_to_1e6_sec":$tolSec%.3f,"codegen_compiles":$codegenCompiles,"codegen_compile_sec":$codegenSec%.3f}"""
    // bare JSON as a stdout line AND a file copy — the driver parses
    // whichever survives the launcher's log wrapping
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json + "\n")
    println(json)
    spark.stop()
  }
}

package graft

import graft.algos.PageRank
import graft.graph.{GraphGen, PreparedGraph}

/** Scaling-efficiency evidence for the north rule's "N and 4N executors,
  * ≥0.8 throughput scaling efficiency". No real cluster exists here, so the
  * same job runs at two local parallelism levels on the same input, ONE
  * LEVEL PER JVM: a second level run in the same JVM measurably read
  * slower than it did fresh (BENCH.md § Scaling).
  *
  * The job is Bench's headline: `GraphGen.logNormalEdges` over
  * SPARK_GRAFT_BENCH_VERTS vertices (default 100000, about 12.7M edges),
  * prepared once, then 3 timed `PageRank.runPrepared` runs of 5
  * supersteps; the best run gives edges/s/superstep.
  *
  * Usage: SPARK_GRAFT_CPUS=1 sbt "runMain graft.ScalingBench", then again
  * with SPARK_GRAFT_CPUS=4. Prints one JSON line per run; the efficiency
  * is (eps at 4N / eps at N) / 4, taken from two such lines.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val nVerts = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERTS", "100000").toLong
    val iters = 5
    val spark = graft.runtime.Sessions.local(cpus, 2 * cpus, s"graft-scaling-$cpus")
    def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val t0 = System.nanoTime()
    val g = PreparedGraph(
      GraphGen.logNormalEdges(spark, nVerts, numPartitions = 2 * cpus),
      numPartitions = 2 * cpus)
    val prepSec = since(t0)
    val m = g.numEdges
    val runs = (1 to 3).map { _ =>
      val t1 = System.nanoTime()
      PageRank.runPrepared(g, PageRank.Config(numIter = iters,
        numPartitions = 2 * cpus)).unpersist(false)
      since(t1)
    }
    val eps = m.toDouble * iters / runs.min
    g.unpersist()
    spark.stop()
    println(
      f"""{"metric":"scaling_level","cpus":$cpus,"vertices":$nVerts,"edges":$m,"supersteps":$iters,"prep_sec":$prepSec%.2f,"runs":[${runs.map(r => f"$r%.2f").mkString(",")}],"edges_per_sec_per_superstep":$eps%.0f}""")
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.algos.PageRank
import graft.graph.{GraphGen, PreparedGraph}

/** A warm operation reuses the code its first run generated: Spark's
  * codegen cache (sized in `Sessions.local`) must hold an operation's
  * whole working set, and no per-run value (a path, a run id, a seed) may
  * reach generated source, or every run would compile new classes and
  * fill the cache.
  *
  * The compile counter is process-wide. These specs rely on suites running
  * one after another in the forked test JVM (`Test / testForkedParallel`
  * is off), so nothing else compiles during a measured run. */
class CodegenReuseSpec extends SparkTestBase {

  /** Janino compiles (codegen cache misses) of a first and a second run. */
  private def coldAndWarmCompiles(run: () => Unit): (Long, Long) = {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    run()
    val c1 = compiles
    run()
    (c1 - c0, compiles - c1)
  }

  test("a warm Pipeline.run compiles no generated code") {
    val (cold, warm) = coldAndWarmCompiles { () =>
      val dir = tempDir("cgpipe").toString
      Pipeline.run(spark, dir, numPages = 300, prIters = 3)
    }
    assert(warm == 0, s"warm run compiled $warm classes (cold run: $cold)")
  }

  test("a warm PageRank.runPrepared compiles no generated code") {
    val g = PreparedGraph(GraphGen.logNormalEdges(spark, 2000, numPartitions = 4),
      numPartitions = 4)
    try {
      val (cold, warm) = coldAndWarmCompiles { () =>
        PageRank.runPrepared(g, PageRank.Config(numIter = 5, numPartitions = 4))
          .unpersist(false)
      }
      assert(warm == 0, s"warm run compiled $warm classes (cold run: $cold)")
    } finally g.unpersist()
  }
}

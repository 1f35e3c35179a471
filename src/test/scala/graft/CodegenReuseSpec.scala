package graft

import org.apache.spark.metrics.source.CodegenMetrics

import org.apache.spark.sql.functions._

import graft.algos.{LabelPropagation, PageRank}
import graft.graph.{GraphGen, PreparedGraph, Pregel, TripletFields}

/** A warm operation reuses the code its first run generated: Spark's
  * codegen cache (sized in `Sessions.local`) must hold an operation's
  * whole working set, and no per-run value (a path, a run id, a seed) may
  * reach generated source, or every run would compile new classes and
  * fill the cache.
  *
  * The compile counter is process-wide. These specs rely on suites running
  * one after another in the forked test JVM (`Test / testForkedParallel`
  * is off), so nothing else compiles during a measured run.
  *
  * The loops plan in a clone of the caller's session (`graftplan.
  * LoopSession`), and a session has its own artifact classloader, which
  * keys the codegen cache: every loop is pinned here, since a loop
  * session made afresh per run would recompile all of its code. */
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

  test("a warm LabelPropagation.runPrepared compiles no generated code") {
    val prep = LabelPropagation.prepare(
      GraphGen.logNormalEdges(spark, 1000, numPartitions = 4), numPartitions = 4)
    try {
      val (cold, warm) = coldAndWarmCompiles { () =>
        LabelPropagation.runPrepared(prep, LabelPropagation.Config(maxSteps = 3))
          .unpersist(false)
      }
      assert(warm == 0, s"warm run compiled $warm classes (cold run: $cold)")
    } finally prep.unpersist()
  }

  test("a warm Pregel.iterate compiles no generated code") {
    val g = PreparedGraph(GraphGen.logNormalEdges(spark, 1000, numPartitions = 4),
      numPartitions = 4)
    try {
      val (cold, warm) = coldAndWarmCompiles { () =>
        // min-label propagation to its fixed point
        Pregel.iterate(g,
          g.vertices.select(col("id"), col("id").as("label"), lit(true).as("changed")),
          toDst = Some(col("src_label")), toSrc = None, merge = Seq(min("msg").as("m")),
          vprog = (state, msgs) => state.join(msgs.hint("SHUFFLE_HASH"), Seq("id"), "left")
            .select(col("id"), least(col("label"), coalesce(col("m"), col("label"))).as("label"),
              coalesce(col("m") < col("label"), lit(false)).as("changed")),
          cfg = Pregel.Config(fields = TripletFields.Src, sendersPred = Some(col("changed"))))
          .count()
      }
      assert(warm == 0, s"warm run compiled $warm classes (cold run: $cold)")
    } finally g.unpersist()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftcheck.ListenerBus

import graft.algos.{LabelPropagation, PageRank}
import graft.graph.{GraphGen, PreparedGraph, Pregel, TripletFields}
import graft.runtime.StateRotator

/** The loop session (`graftplan.LoopSession`): PageRank, LPA and
  * `Pregel.iterate` plan their supersteps in a clone of the caller's
  * session with AQE off and shuffle partitions at the graph's p. Pinned
  * here: one job per superstep with AQE on in the caller, a rotated state
  * whose leaf claims `hashpartitioning(id, p)` and whose rows really lie
  * there (a wrong claim gives wrong joins, not an error), and a caller
  * session the loop never writes. */
class LoopSessionSpec extends SparkTestBase {

  private val P = 4

  private lazy val g = PreparedGraph(GraphGen.logNormalEdges(spark, 2000,
    numPartitions = P), numPartitions = P)

  private lazy val lpa = LabelPropagation.prepare(
    GraphGen.logNormalEdges(spark, 1000, numPartitions = P), numPartitions = P)

  override def afterAll(): Unit =
    try { g.unpersist(); lpa.unpersist() } finally super.afterAll()

  /** `f` with `hook` seeing every rotated state, as (algo, state). */
  private def rotations[T](hook: (String, DataFrame) => Unit)(f: => T): T = {
    StateRotator.onRotate = hook
    try f finally StateRotator.onRotate = (_, _) => ()
  }

  /** Static min-label propagation over `g` through `Pregel.iterate`. */
  private def pregelMinLabel(maxIter: Int): DataFrame =
    Pregel.iterate(g, g.vertices.select(col("id"), col("id").as("label")),
      toDst = Some(col("src_label")), toSrc = None, merge = Seq(min("msg").as("m")),
      vprog = (state, msgs) => state.join(msgs.hint("SHUFFLE_HASH"), Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("m"), col("label"))).as("label")),
      cfg = Pregel.Config(maxIter = maxIter, fields = TripletFields.Src))

  test("every rotated PageRank (static, tol) and LPA state claims hash(id, p) " +
      "and every row lies in the partition the claim names") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val hook: (String, DataFrame) => Unit = { (algo, state) =>
      val claim = state.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.outputPartitioning
        case other => fail(s"$algo state is not a checkpoint leaf: $other")
      }
      claim match {
        case HashPartitioning(Seq(a: org.apache.spark.sql.catalyst.expressions.Attribute), P)
            if a.name == "id" =>
        case c => fail(s"$algo state claims $c, not hashpartitioning(id, $P)")
      }
      val misplaced = state.filter(spark_partition_id() =!= pmod(hash(col("id")), lit(P))).count()
      assert(misplaced == 0, s"$algo: $misplaced rows outside their claimed partition")
      seen += algo
    }
    rotations(hook) {
      PageRank.runPrepared(g, PageRank.Config(numIter = 3)).unpersist(false)
      PageRank.runPrepared(g, PageRank.Config(tol = Some(0.01))).unpersist(false)
      LabelPropagation.runPrepared(lpa, LabelPropagation.Config(maxSteps = 3)).unpersist(false)
    }
    assert(seen.count(_ == "pagerank") == 3)
    assert(seen.count(_ == "pagerank_tol") > 1)
    assert(seen.count(_ == "lpa") == 3)
  }

  test("static PageRank runs one job per superstep with AQE on in the caller") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    def jobs(numIter: Int): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      ListenerBus.drain(spark)
      spark.sparkContext.addSparkListener(l)
      try {
        PageRank.runPrepared(g, PageRank.Config(numIter = numIter)).unpersist(false)
        ListenerBus.drain(spark)
      } finally spark.sparkContext.removeSparkListener(l)
      counter.get()
    }
    jobs(2) // warm-up, not counted: a first run may also build the loop session
    val (j5, j10) = (jobs(5), jobs(10))
    assert(j10 - j5 == 5, s"10 supersteps ran $j10 jobs, 5 ran $j5")
  }

  test("the loop never writes the caller's conf, hands results back in the " +
      "caller's session, sees the caller's later confs and reuses one clone per p") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.get(k))
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "pagerank" -> (() => PageRank.runPrepared(g, PageRank.Config(numIter = 2))),
      "lpa" -> (() => LabelPropagation.runPrepared(lpa, LabelPropagation.Config(maxSteps = 2))),
      "pregel" -> (() => pregelMinLabel(maxIter = 2)))
    val old = spark.conf.getOption(key)
    try runs.foreach { case (algo, run) =>
      // (session, broadcast threshold, AQE, shuffle partitions) per rotation
      def inLoop(): Seq[(SparkSession, String, String, String)] = {
        val seen = scala.collection.mutable.ArrayBuffer
          .empty[(SparkSession, String, String, String)]
        val out = rotations { (_, state) =>
          val c = state.sparkSession.conf
          seen += ((state.sparkSession, c.get(key),
            c.get("spark.sql.adaptive.enabled"), c.get("spark.sql.shuffle.partitions")))
        }(run())
        assert(out.sparkSession eq spark, s"$algo handed back a frame of another session")
        out.unpersist(false)
        assert(seen.nonEmpty, s"$algo rotated nothing")
        seen.toSeq
      }
      spark.conf.set(key, "1234567")
      val first = inLoop()
      spark.conf.set(key, "7654321") // set after the first run
      val second = inLoop()
      assert(before.forall { case (k, v) => spark.conf.get(k) == v },
        s"$algo changed the caller's conf")
      val loops = (first ++ second).map(_._1).distinct
      assert(loops.size == 1, s"$algo used ${loops.size} loop sessions at one p")
      assert(!(loops.head eq spark), s"$algo rotated in the caller's session")
      assert(first.forall(_._2 == "1234567") && second.forall(_._2 == "7654321"),
        s"$algo did not see the caller's conf: $first / $second")
      assert((first ++ second).forall(r => r._3 == "false" && r._4 == P.toString),
        s"$algo loop conf: ${first ++ second}")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

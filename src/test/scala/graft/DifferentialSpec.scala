package graft

import org.apache.spark.graphx.{Graph => XGraph, PartitionStrategy}
import org.apache.spark.sql.functions._
import graft.algos._

/** Strongest oracle: run the actual reference library (spark-graphx 4.1.2,
  * on the unmanaged classpath) in the same JVM on seeded random graphs and
  * compare per-vertex outputs (SURVEY.md §5.1). */
class DifferentialSpec extends SparkTestBase {

  def graphxOf(pairs: Seq[(Long, Long)]): XGraph[Int, Int] =
    XGraph.fromEdgeTuples(spark.sparkContext.parallelize(pairs, 4), defaultValue = 1)

  def compareRanks(pairs: Seq[(Long, Long)], ours: Map[Long, Double],
      theirs: Map[Long, Double], tag: String): Unit = {
    assert(ours.keySet == theirs.keySet, s"$tag vertex sets differ")
    theirs.foreach { case (id, r) =>
      assert(math.abs(ours(id) - r) < 1e-6, s"$tag vertex $id: ${ours(id)} vs $r")
    }
  }

  test("differential static PageRank on 5 random graphs") {
    for (seed <- 1 to 5) {
      val pairs = randomEdges(seed, n = 60, m = 200)
      val theirs = graphxOf(pairs).staticPageRank(15)
        .vertices.collect().toMap
      // saltBuckets > 1: the salted two-level message aggregate
      for (salt <- Seq(1, 3)) {
        val ours = PageRank.run(edgesDF(pairs),
          PageRank.Config(numIter = 15, saltBuckets = salt))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        compareRanks(pairs, ours, theirs, s"pr seed=$seed salt=$salt")
      }
    }
  }

  test("differential convergence PageRank on 3 random graphs") {
    for (seed <- 10 to 12) {
      val pairs = randomEdges(seed, n = 50, m = 150)
      val theirs = graphxOf(pairs).pageRank(1e-6).vertices.collect().toMap
      for (salt <- Seq(1, 3)) {
        val ours = PageRank.run(edgesDF(pairs),
          PageRank.Config(tol = Some(1e-6), saltBuckets = salt))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        compareRanks(pairs, ours, theirs, s"prTol seed=$seed salt=$salt")
      }
    }
  }

  test("differential personalized TOL-mode PageRank vs jar " +
      "personalizedPageRank(src, tol) on 3 random graphs") {
    for (seed <- 80 to 82) {
      val pairs = randomEdges(seed, n = 50, m = 160)
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val src = verts(seed % verts.size)
      val ours = PageRank.run(edgesDF(pairs),
        PageRank.Config(tol = Some(1e-7), personalized = Some(src)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val theirs = graphxOf(pairs).personalizedPageRank(src, 1e-7)
        .vertices.collect().toMap
      compareRanks(pairs, ours, theirs, s"pprTol seed=$seed src=$src")
    }
  }

  test("differential parallel personalized PageRank: each column equals " +
      "the reference SCALAR personalized PageRank for that source") {
    // The reference's own parallel variant diverges from its scalar
    // personalized PageRank (stale replicated vertex view after the first
    // incremental outerJoinVertices — see PageRank.runParallelPersonalized
    // scaladoc), so the semantic oracle is the scalar API per source.
    for (seed <- 50 to 52) {
      val pairs = randomEdges(seed, n = 50, m = 160)
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val sources = verts.take(3)
      val ours = PageRank.runParallelPersonalized(edgesDF(pairs), sources, numIter = 12)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val g = graphxOf(pairs)
      sources.zipWithIndex.foreach { case (src, pos) =>
        val theirs = g.staticPersonalizedPageRank(src, 12).vertices.collect().toMap
        assert(ours.keySet == theirs.keySet, s"ppr seed=$seed vertex sets differ")
        theirs.foreach { case (id, r) =>
          assert(math.abs(ours(id)(pos) - r) < 1e-8,
            s"ppr seed=$seed src=$src vertex $id: ${ours(id)(pos)} vs $r")
        }
      }
    }
  }

  test("differential on adversarial shapes: ShortestPaths and static " +
      "PageRank vs the jar (self-loops, parallel edges, absent landmark, " +
      "star, R-MAT hub)") {
    def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rmat = pairsOf(graft.graph.GraphGen.rmatEdges(spark, 64, 400, seed = 7L))
    val hub = rmat.groupBy(_._2).maxBy(_._2.size)._1
    // (tag, edges, landmarks)
    val cases = Seq(
      ("self-loops", Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L), (4L, 4L)),
        Seq(3L, 4L)),
      ("parallel edges", Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 1L)),
        Seq(1L, 3L)),
      ("absent landmark", Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq(4L, 99L)),
      ("star", pairsOf(graft.graph.GraphGen.starEdges(spark, 40)), Seq(0L, 5L)),
      ("rmat hub", rmat, Seq(hub, rmat.head._1)))
    for ((tag, pairs, landmarks) <- cases) {
      val g = graphxOf(pairs)
      val sp = ShortestPaths.run(edgesDF(pairs), landmarks)
      val oursSp = sp.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      sp.unpersist(false)
      val theirsSp = org.apache.spark.graphx.lib.ShortestPaths.run(g, landmarks)
        .vertices.collect().toMap
        .flatMap { case (id, m) => m.map { case (lm, d) => (id, lm) -> d } }
      assert(oursSp == theirsSp, s"sssp $tag")
      val pr = PageRank.run(edgesDF(pairs), PageRank.Config(numIter = 10))
      val oursPr = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      pr.unpersist(false)
      compareRanks(pairs, oursPr, g.staticPageRank(10).vertices.collect().toMap,
        s"pr $tag")
      // the same shapes through CC, triangles and LPA
      val oursCc = longsOf(ConnectedComponents.run(edgesDF(pairs)))
      assert(oursCc == g.connectedComponents().vertices.collect().toMap, s"cc $tag vs graphx")
      assert(oursCc == unionFindCC(pairs), s"cc $tag vs union-find")
      val oursTri = longsOf(TriangleCount.run(edgesDF(pairs)))
      val theirsTri = g.partitionBy(PartitionStrategy.RandomVertexCut)
        .triangleCount().vertices.collect()
        .map { case (id, c) => id -> c.toLong }.toMap
      assert(oursTri == theirsTri, s"tri $tag")
      val oursLpa = longsOf(LabelPropagation.run(edgesDF(pairs),
        LabelPropagation.Config(maxSteps = 4)))
      assert(oursLpa == syncLpa(pairs, 4), s"lpa $tag")
    }
  }

  /** Collect an (id, long) result into a map and release it. */
  def longsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.unpersist(false)
    m
  }

  /** In-memory synchronous LPA: messages along both directions of each
    * directed edge, argmax count with smallest-label tie-break. */
  def syncLpa(pairs: Seq[(Long, Long)], steps: Int): Map[Long, Long] = {
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    var labels = verts.map(v => v -> v).toMap
    for (_ <- 1 to steps) {
      val msgs = pairs.flatMap { case (s, d) => Seq(d -> labels(s), s -> labels(d)) }
      val upd = msgs.groupBy(_._1).map { case (v, ms) =>
        val counts = ms.groupBy(_._2).map { case (l, xs) => l -> xs.size }
        val maxC = counts.values.max
        v -> counts.filter(_._2 == maxC).keys.min
      }
      labels = labels ++ upd
    }
    labels
  }

  test("differential connected components on 5 random graphs (+ union-find)") {
    for (seed <- 20 to 24) {
      // sparse → many components
      val pairs = randomEdges(seed, n = 150, m = 120)
      val ours = ConnectedComponents.run(edgesDF(pairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val theirs = graphxOf(pairs).connectedComponents().vertices.collect().toMap
      assert(ours == theirs, s"cc seed=$seed vs graphx")
      val uf = unionFindCC(pairs)
      assert(ours == uf, s"cc seed=$seed vs union-find")
    }
  }

  test("differential triangle count on 5 random graphs") {
    for (seed <- 30 to 34) {
      val pairs = randomEdges(seed, n = 40, m = 250) // dense → triangles
      val ours = TriangleCount.run(edgesDF(pairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val theirs = graphxOf(pairs)
        .partitionBy(PartitionStrategy.RandomVertexCut)
        .triangleCount().vertices.collect()
        .map { case (id, c) => id -> c.toLong }.toMap
      assert(ours == theirs, s"tri seed=$seed")
    }
  }

  test("differential SCC on 5 random graphs (+ Tarjan)") {
    for (seed <- 60 to 64) {
      // dense enough for multi-vertex SCCs, sparse enough for DAG fringe
      val pairs = randomEdges(seed, n = 40, m = 90)
      val ours = StronglyConnectedComponents.run(edgesDF(pairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val theirs = graphxOf(pairs).stronglyConnectedComponents(numIter = 50)
        .vertices.collect().toMap
      assert(ours == theirs, s"scc seed=$seed vs graphx")
      assert(ours == tarjanScc(pairs), s"scc seed=$seed vs tarjan")
    }
  }

  test("SCC extremes: giant SCC (dense) and long chain-of-cycles (sparse, " +
      "many outer rounds) vs Tarjan") {
    // dense: one giant SCC plus stragglers
    val dense = randomEdges(70, n = 25, m = 200)
    val oursD = StronglyConnectedComponents.run(edgesDF(dense))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oursD == tarjanScc(dense), "dense scc vs tarjan")
    // chain of 6 three-cycles linked tail-to-head: each outer round can
    // only finalize the chain's current head SCC → exercises multi-round
    val chain = (0 until 6).flatMap { c =>
      val b = c * 10L
      Seq((b, b + 1), (b + 1, b + 2), (b + 2, b), (b + 2, b + 10))
    }.dropRight(1)
    val oursC = StronglyConnectedComponents.run(edgesDF(chain))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oursC == tarjanScc(chain), "chain scc vs tarjan")
    assert(oursC(51L) == 50L && oursC(0L) == 0L)
  }

  test("SCC fixtures: cycle chains, bridges, self-loops") {
    // two 3-cycles joined by a one-way bridge + a tail + a self-loop
    val pairs = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1),        // SCC {1,2,3}
      (3, 10), (10, 11), (11, 12), (12, 10), // bridge into SCC {10,11,12}
      (12, 20),                      // tail singleton 20
      (30, 30),                      // self-loop singleton 30
      (40, 41))                      // DAG pair
    val ours = StronglyConnectedComponents.run(edgesDF(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ours == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 30L -> 30L,
      40L -> 40L, 41L -> 41L))
  }

  /** Pin the jar's one-time init draw: its `defaultF(rank)` is evaluated
    * ONCE (fromEdges' by-value default) off the global scala.util.Random.
    * The jar's FIRST run in a JVM consumes extra global-Random draws from
    * lazy Spark machinery, so warm it up before seeding. */
  def pinnedJarRun(ratings: Seq[(Long, Long, Double)], rank: Int, iters: Int)
      : (Array[Double], Array[Double],
         Map[org.apache.spark.graphx.VertexId, (Array[Double], Array[Double], Double, Double)],
         Double) = {
    import org.apache.spark.graphx.{Edge, lib => xlib}
    val xconf = new xlib.SVDPlusPlus.Conf(rank, iters, 0.0, 5.0,
      0.007, 0.007, 0.005, 0.015)
    val warm = spark.sparkContext.parallelize(Seq(Edge(1L, 2L, 3.0)), 1)
    xlib.SVDPlusPlus.run(warm, new xlib.SVDPlusPlus.Conf(2, 1, 0.0, 5.0,
      0.007, 0.007, 0.005, 0.015))
    scala.util.Random.setSeed(4242L)
    val v1 = Array.fill(rank)(scala.util.Random.nextDouble())
    val v2 = Array.fill(rank)(scala.util.Random.nextDouble())
    scala.util.Random.setSeed(4242L)
    val edgeRdd = spark.sparkContext.parallelize(
      ratings.map { case (u, i, r) => Edge(u, i, r) }, 2)
    val (xg, xu) = xlib.SVDPlusPlus.run(edgeRdd, xconf)
    (v1, v2, xg.vertices.collect().toMap, xu)
  }

  def ourSvdMap(ratings: Seq[(Long, Long, Double)], rank: Int, iters: Int,
      v1: Array[Double], v2: Array[Double])
      : (Map[Long, (Seq[Double], Seq[Double], Double, Double)], Double) = {
    import spark.implicits._
    val (ours, u) = SVDPlusPlus.run(ratings.toDF("src", "dst", "rating"),
      SVDPlusPlus.Conf(rank = rank, maxIters = iters),
      initFactors = Some((v1, v2)))
    val m = ours.collect().map { r =>
      r.getLong(0) -> (r.getSeq[Double](1), r.getSeq[Double](2),
        r.getDouble(3), r.getDouble(4))
    }.toMap
    ours.unpersist(false)
    (m, u)
  }

  test("differential SVD++ vs jar, degree-1 matching graph: ALL slots " +
      "exact over 3 iterations (the jar's broken y-merge can't fire)") {
    val ratings = (1L to 10L).map(i => (i, 100L + i, ((i % 5) + 1).toDouble))
    val rank = 4; val iters = 3
    val (v1, v2, theirs, xu) = pinnedJarRun(ratings, rank, iters)
    val (ours, u) = ourSvdMap(ratings, rank, iters, v1, v2)
    assert(math.abs(u - xu) < 1e-12, s"mean $u vs $xu")
    assert(ours.keySet == theirs.keySet.map(_.toLong))
    theirs.foreach { case (id, (xp, xy, xb, xn)) =>
      val (p, y, b, n) = ours(id)
      xp.zip(p).foreach { case (a, bb) =>
        assert(math.abs(a - bb) < 1e-8, s"factor id=$id: $a vs $bb") }
      xy.zip(y).foreach { case (a, bb) =>
        assert(math.abs(a - bb) < 1e-8, s"factor2 id=$id: $a vs $bb") }
      assert(math.abs(xb - b) < 1e-8, s"bias id=$id: $xb vs $b")
      assert(math.abs(xn - n) < 1e-8, s"norm id=$id: $xn vs $n")
    }
  }

  test("differential SVD++ vs jar, general bipartite graph, 1 iteration: " +
      "p/bias slots exact (correct-merge slots); y differs only by the " +
      "jar's documented 2×-one-message merge bug") {
    val dataRnd = new scala.util.Random(9)
    val ratings = for {
      u <- 1L to 12L; i <- 101L to 110L if dataRnd.nextDouble() < 0.4
    } yield (u, i, (dataRnd.nextInt(5) + 1).toDouble)
    val rank = 4
    val (v1, v2, theirs, xu) = pinnedJarRun(ratings, rank, 1)
    val (ours, u) = ourSvdMap(ratings, rank, 1, v1, v2)
    assert(math.abs(u - xu) < 1e-12, s"mean $u vs $xu")
    theirs.foreach { case (id, (xp, _, xb, _)) =>
      val (p, _, b, _) = ours(id)
      xp.zip(p).foreach { case (a, bb) =>
        assert(math.abs(a - bb) < 1e-8, s"factor id=$id: $a vs $bb") }
      assert(math.abs(xb - b) < 1e-8, s"bias id=$id: $xb vs $b")
    }
    // degree-1 vertices never hit the merge → their y slots agree too
    val deg = ratings.flatMap(r => Seq(r._1, r._2)).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    theirs.collect { case (id, (_, xy, _, _)) if deg(id) == 1 =>
      xy.zip(ours(id)._2).foreach { case (a, bb) =>
        assert(math.abs(a - bb) < 1e-8, s"deg-1 factor2 id=$id: $a vs $bb") }
    }
  }

  test("LPA matches in-memory synchronous oracle with smallest-label ties") {
    for (seed <- 40 to 42) {
      val pairs = randomEdges(seed, n = 30, m = 80)
      val steps = 4
      val ours = LabelPropagation.run(edgesDF(pairs),
        LabelPropagation.Config(maxSteps = steps))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ours == syncLpa(pairs, steps), s"lpa seed=$seed")
    }
  }
}

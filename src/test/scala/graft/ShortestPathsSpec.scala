package graft

import org.apache.spark.graphx.{Graph => XGraph}
import org.apache.spark.graphx.lib.{ShortestPaths => XSP}
import graft.algos.ShortestPaths

class ShortestPathsSpec extends SparkTestBase {

  test("landmark BFS matches reference ShortestPaths on random graphs") {
    // seeds 50-52 with fixed landmarks; 11-13 with each graph's three
    // smallest vertex ids
    val inputs = (50 to 52).map(seed => (seed, randomEdges(seed, n = 60, m = 150),
      Seq(1L, 5L, 10L))) ++ (11 to 13).map { seed =>
      val pairs = randomEdges(seed, n = 60, m = 150)
      (seed, pairs, pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted.take(3))
    }
    for ((seed, pairs, landmarks) <- inputs) {
      val ours = ShortestPaths.run(edgesDF(pairs), landmarks)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val g = XGraph.fromEdgeTuples(spark.sparkContext.parallelize(pairs, 4), 1)
      val theirs = XSP.run(g, landmarks).vertices.collect().toMap
        .flatMap { case (id, m) => m.map { case (lm, d) => (id, lm) -> d } }
      assert(ours == theirs, s"sssp seed=$seed")
    }
  }

  test("chain distances and map format") {
    // 1 → 2 → 3 → 4; landmark 4: dist(1)=3 via forward edges
    val e = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val d = ShortestPaths.run(e, Seq(4L))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(d == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0))
    val m = ShortestPaths.toMapFormat(ShortestPaths.run(e, Seq(4L, 1L)))
      .collect().map(r => r.getLong(0) -> r.getAs[Map[Long, Int]]("distances")).toMap
    assert(m(1L) == Map(4L -> 3, 1L -> 0))
    assert(m(4L) == Map(4L -> 0)) // 4 cannot reach 1
  }
}

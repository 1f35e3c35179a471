package graft

import org.apache.spark.sql.functions._
import graft.algos._
import graft.graph.EdgeOps

/** Frozen ground truth from executing spark-graphx 4.1.2 (FIXTURES.md §3). */
class FixturesSpec extends SparkTestBase {

  val followers = "/opt/spark/data/graphx/followers.txt"
  lazy val fEdges = EdgeOps.edgeListFile(spark, followers).cache()

  def ranksMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("edge list loader matches GraphLoader parse semantics (probe)") {
    val p = tempDir("probe").resolve("edges.txt")
    java.nio.file.Files.write(p, "# comment\n1 2\n1 2\n2 2\n3\t1\n".getBytes)
    val e = EdgeOps.edgeListFile(spark, p.toString)
      .collect().map(r => s"${r.getLong(0)}->${r.getLong(1)}").sorted.mkString(",")
    assert(e == "1->2,1->2,2->2,3->1")
  }

  test("staticPageRank(20) matches reference fixture (FIXTURES §3.1)") {
    val expected = Map(1L -> 1.4416510263, 2L -> 1.4083489737, 3L -> 1.0000000000,
      4L -> 0.1500000000, 6L -> 0.7017543970, 7L -> 1.2982456030)
    val got = ranksMap(PageRank.run(fEdges, PageRank.Config(numIter = 20)))
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, r) =>
      assert(math.abs(got(id) - r) < 1e-6, s"vertex $id: ${got(id)} vs $r") }
    assert(math.abs(got.values.sum - 6.0) < 1e-9)
  }

  test("pageRank(tol=1e-7) matches reference fixture (FIXTURES §3.2)") {
    val expected = Map(1L -> 1.4594596281, 2L -> 1.3905406778, 3L -> 0.9999998772,
      4L -> 0.1500000723, 6L -> 0.7017543605, 7L -> 1.2982453840)
    val got = ranksMap(PageRank.run(fEdges, PageRank.Config(tol = Some(1e-7))))
    expected.foreach { case (id, r) =>
      assert(math.abs(got(id) - r) < 1e-6, s"vertex $id: ${got(id)} vs $r") }
  }

  test("dangling semantics probe matches reference (FIXTURES §3.3)") {
    val e = edgesDF(Seq((1L, 2L), (1L, 3L)))
    val got = ranksMap(PageRank.run(e, PageRank.Config(numIter = 10)))
    assert(math.abs(got(1L) - 0.7792207792) < 1e-6)
    assert(math.abs(got(2L) - 1.1103896104) < 1e-6)
    assert(math.abs(got(3L) - 1.1103896104) < 1e-6)
    val gotTol = ranksMap(PageRank.run(e, PageRank.Config(tol = Some(1e-7))))
    assert(math.abs(gotTol(1L) - 0.7792207792) < 1e-6)
    assert(math.abs(gotTol(2L) - 1.1103896104) < 1e-6)
  }

  test("danglingRedistribute=true conserves mass and reaches vertices " +
      "with no in-edges (review r5)") {
    val e = edgesDF(Seq((1L, 2L), (1L, 3L)))
    val got = ranksMap(PageRank.run(e,
      PageRank.Config(numIter = 10, danglingRedistribute = true, normalize = false)))
    // textbook variant: total mass is invariant (Σ = |V|) every superstep;
    // in particular the sink share must reach vertex 1, which receives no
    // messages (the lost-mass bug this test pins)
    assert(math.abs(got.values.sum - 3.0) < 1e-9, s"mass not conserved: $got")
    assert(math.abs(got(2L) - got(3L)) < 1e-12)
    // driver-side power iteration of the same recurrence
    var r = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0)
    for (_ <- 1 to 10) {
      val sink = (r(2L) + r(3L)) / 3
      r = Map(
        1L -> (0.15 + 0.85 * sink),
        2L -> (0.15 + 0.85 * (r(1L) / 2 + sink)),
        3L -> (0.15 + 0.85 * (r(1L) / 2 + sink)))
    }
    r.foreach { case (id, v) =>
      assert(math.abs(got(id) - v) < 1e-12, s"$id: ${got(id)} vs $v") }
  }

  test("connected components matches reference fixture (FIXTURES §3.4)") {
    val got = ConnectedComponents.run(fEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 6L -> 3L, 7L -> 3L))
  }

  test("triangle count matches reference fixture (FIXTURES §3.5)") {
    val got = TriangleCount.run(fEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 6L -> 1L, 7L -> 1L))
    assert(TriangleCount.total(fEdges) == 1L)
  }

  test("analytic: directed cycle has uniform rank 1.0") {
    val n = 10
    val e = edgesDF((0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)))
    val got = ranksMap(PageRank.run(e, PageRank.Config(numIter = 30)))
    got.values.foreach(r => assert(math.abs(r - 1.0) < 1e-9))
  }

  test("analytic: star graph center rank") {
    // n leaves → center 0; unnormalized center = 0.15 + 0.85·n·0.15
    val n = 20
    val e = edgesDF((1 to n).map(i => (i.toLong, 0L)))
    val got = ranksMap(PageRank.run(e, PageRank.Config(numIter = 50, normalize = false)))
    assert(math.abs(got(0L) - (0.15 + 0.85 * n * 0.15)) < 1e-9)
    (1 to n).foreach(i => assert(math.abs(got(i.toLong) - 0.15) < 1e-12))
  }

  test("analytic: K4 triangles — every vertex 3, total 4") {
    val vs = Seq(0L, 1L, 2L, 3L)
    val e = edgesDF(for (a <- vs; b <- vs if a < b) yield (a, b))
    val got = TriangleCount.run(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 3L))
    assert(TriangleCount.total(e) == 4L)
  }

  test("analytic: chain CC all labeled min") {
    val e = edgesDF((1L until 20L).map(i => (i, i + 1)))
    val got = ConnectedComponents.run(e).collect().map(r => r.getLong(1)).toSet
    assert(got == Set(1L))
  }
}

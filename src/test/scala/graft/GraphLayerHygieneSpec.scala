package graft

import org.apache.spark.sql.functions._

import graft.graph.{Adjacency, EdgeDirection, EdgeOps, GraphGen}

/** Regression pins for the round-5 graph-layer hygiene review: loud
  * edge-list parse failures, degree-capped per-vertex collections,
  * attr-name collisions, and generator edge cases. */
class GraphLayerHygieneSpec extends SparkTestBase {

  private val CapKey = "spark.graft.adjacency.maxBlockArity"
  private def withCap[T](cap: Int)(f: => T): T = {
    spark.conf.set(CapKey, cap.toString)
    try f finally spark.conf.unset(CapKey)
  }

  test("edgeListFile fails loudly on malformed lines (reference throws " +
    "too; silent null-id phantom edges are worse)") {
    val p = tempDir("bad").resolve("edges.txt")
    java.nio.file.Files.write(p, "1 2\n3 x\n".getBytes)
    val ex = intercept[Exception] {
      EdgeOps.edgeListFile(spark, p.toString).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("invalid line")),
      s"expected a line-identifying error, got: ${messages(ex)}")
    // one-token and indented-comment lines fail too; valid files still parse
    val p2 = tempDir("bad2").resolve("edges.txt")
    java.nio.file.Files.write(p2, "1 2\n3\n".getBytes)
    intercept[Exception] { EdgeOps.edgeListFile(spark, p2.toString).collect() }
    val p3 = tempDir("ok").resolve("edges.txt")
    java.nio.file.Files.write(p3, "# c\n1 2 extra\n 3 4\n".getBytes)
    val got = EdgeOps.edgeListFile(spark, p3.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 4L)))
  }

  test("collectNeighborIds chunks a planted hub at the cap and returns " +
    "the identical sorted multiset as the uncapped build") {
    val hub = (1 to 150).map(d => (0L, d.toLong))
    val back = randomEdges(7, n = 40, m = 100).map { case (a, b) => (a + 200L, b + 200L) }
    val e = edgesDF(hub ++ back)
    val uncapped = Adjacency.collectNeighborIds(e, EdgeDirection.Out)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val capped = withCap(16) {
      Adjacency.collectNeighborIds(e, EdgeDirection.Out)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    assert(capped == uncapped)
    assert(capped(0L) == (1 to 150).map(_.toLong))
    // In and Either directions survive capping too
    val cappedIn = withCap(16) {
      Adjacency.collectNeighborIds(e, EdgeDirection.In)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    assert(cappedIn(1L) == Seq(0L))
  }

  test("collectNeighbors tolerates a vertex-attr column named 'nbr' " +
    "(internal join alias must not collide)") {
    import spark.implicits._
    val e = edgesDF(Seq((1L, 2L), (2L, 3L)))
    val verts = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "nbr")
    val out = Adjacency.collectNeighbors(e, verts, EdgeDirection.Out)
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(out(1L).map(s => (s.getLong(0), s.getLong(1))) == Seq((2L, 20L)))
    assert(out(3L).isEmpty)
  }

  test("rmatEdges(numVertices = 1) returns self-loops instead of crashing " +
    "(empty bit-list reduce)") {
    val e = GraphGen.rmatEdges(spark, numVertices = 1, numEdges = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e.length == 5 && e.forall(_ == (0L, 0L)))
  }

  test("shared HashRandom keeps PageGen and GraphGen logNormal degrees " +
    "bit-identical to the documented law") {
    // same (seed, mu, sigma): GraphGen's degree d for vertex id equals
    // PageGen's outlink count for page id when caps align
    val cfg = graft.pages.PageGen.Config(numPages = 200, maxOutDeg = 10000)
    val pageDegrees = graft.pages.PageGen.pages(spark, cfg)
      .select(col("page_id"),
        size(graft.pages.Extract.linksOfHtml(col("html"))).cast("long").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val genDegrees = GraphGen.logNormalEdges(spark, 200, maxDeg = 10000)
      .groupBy("src").agg(count(lit(1)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // vertices with degree 0 are absent from the edge table
    (0L until 200L).foreach { id =>
      assert(genDegrees.getOrElse(id, 0L) == pageDegrees(id),
        s"degree drift at id=$id")
    }
  }
}

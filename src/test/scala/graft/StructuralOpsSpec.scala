package graft

import graft.graph.{Adjacency, EdgeOps}

class StructuralOpsSpec extends SparkTestBase {

  lazy val e = edgesDF(Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (4L, 4L), (5L, 1L)))

  test("canonicalize: undirected simple graph") {
    val c = EdgeOps.canonicalize(e).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(c == Set((1L, 2L), (2L, 3L), (1L, 3L), (1L, 5L)))
  }

  test("degrees semantics: out omits sources with none; total covers universe") {
    val out = EdgeOps.outDegrees(e).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    val tot = EdgeOps.degrees(e).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(tot.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(tot(4L) == 2L) // self loop counts twice in total degree
  }

  test("adjacency round-trips the edge multiset") {
    val adj = Adjacency.fromEdges(e)
    val back = Adjacency.toEdges(adj).collect().map(x => (x.getLong(0), x.getLong(1)))
    val orig = e.collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(back.sorted.toSeq == orig.sorted.toSeq)
    // degree bucket: deg 1 → bucket 0; deg 2 → bucket 1
    val b = adj.collect().map(r => r.getAs[Long]("src") -> r.getAs[Int]("bucket")).toMap
    assert(b(1L) == 1 && b(2L) == 0)
  }

  test("edge list loader canonical orientation flips per edge without dedup") {
    val p = tempDir("canon").resolve("edges.txt")
    java.nio.file.Files.write(p, "3 1\n1 3\n2 5\n".getBytes)
    val c = EdgeOps.edgeListFile(spark, p.toString, canonicalOrientation = true)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(c.sorted.toSeq == Seq((1L, 3L), (1L, 3L), (2L, 5L)))
  }

  test("denseDict assigns 0..n-1 by url order without a global single-task sort") {
    import spark.implicits._
    val urls = (0 until 500).map(i => f"https://host${i % 7}/p$i%03d").toDF("url")
      .union(Seq("https://host0/p000").toDF("url")) // duplicate collapses
    val dict = graft.ids.UrlDict.denseDict(urls, numPartitions = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val expected = (0 until 500).map(i => f"https://host${i % 7}/p$i%03d").distinct.sorted
    assert(dict.length == expected.length)
    assert(dict.sortBy(_._1).map(_._2).toSeq == expected)
    assert(dict.map(_._1).sorted.toSeq == expected.indices.map(_.toLong))
  }

  test("collectNeighborIds In/Out/Either matches the jar per direction " +
      "(sorted-multiset compare)") {
    import org.apache.spark.graphx.{Graph => XGraph, EdgeDirection => XDir}
    val pairs = randomEdges(91, n = 25, m = 80) // dups + self-loops included
    val xg = XGraph.fromEdgeTuples(spark.sparkContext.parallelize(pairs, 4), 1)
    val e = edgesDF(pairs)
    for ((xdir, dir) <- Seq(
        XDir.In -> graft.graph.EdgeDirection.In,
        XDir.Out -> graft.graph.EdgeDirection.Out,
        XDir.Either -> graft.graph.EdgeDirection.Either)) {
      val theirs = xg.collectNeighborIds(xdir).collect()
        .map { case (id, arr) => id -> arr.sorted.toSeq }.toMap
      val ours = graft.graph.Adjacency.collectNeighborIds(e, dir)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // jar: vertices with no neighbors that way may be absent OR empty —
      // normalize both sides to the full universe with empty default
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val theirsFull = verts.map(v => v -> theirs.getOrElse(v, Seq.empty[Long])).toMap
      assert(ours == theirsFull, s"dir=$dir")
    }
  }

  test("collectNeighbors carries attrs; collectEdges lists incident edges " +
      "under the right endpoints") {
    val pairs = Seq[(Long, Long)]((1, 2), (1, 3), (2, 3), (3, 1), (2, 3), (2, 4))
    val e = edgesDF(pairs)
    import spark.implicits._
    val verts = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "name")
    val nbrs = graft.graph.Adjacency
      .collectNeighbors(e, verts, graft.graph.EdgeDirection.Out)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getString(1)))).toMap
    assert(nbrs(1L) == Seq((2L, "b"), (3L, "c")))
    assert(nbrs(2L) == Seq((3L, "c"), (3L, "c"), (4L, "d"))) // parallel edge kept
    assert(nbrs(3L) == Seq((1L, "a")))
    // empty-default contract (reference leftZipJoin): a sink vertex gets
    // an EMPTY array, not NULL (ADVICE r3)
    assert(nbrs(4L) == Seq.empty)
    val edges = graft.graph.Adjacency
      .collectEdges(e, graft.graph.EdgeDirection.Either)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))).toMap
    assert(edges(1L).sorted == Seq((1L, 2L), (1L, 3L), (3L, 1L)))
    assert(edges(2L).sorted == Seq((1L, 2L), (2L, 3L), (2L, 3L), (2L, 4L)))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.graph.{Adjacency, EdgeOps, Partitioners, VertexOps}
import graft.multimodal.MediaOps

class StructuralOpsSpec extends SparkTestBase {

  lazy val e = edgesDF(Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (4L, 4L), (5L, 1L)))

  test("reverse swaps endpoints") {
    val r = EdgeOps.reverse(e).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.contains((2L, 1L)) && r.contains((1L, 3L)))
  }

  test("canonicalize: undirected simple graph") {
    val c = EdgeOps.canonicalize(e).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(c == Set((1L, 2L), (2L, 3L), (1L, 3L), (1L, 5L)))
  }

  test("groupEdges collapses parallel edges with multiplicity") {
    val g = EdgeOps.groupEdges(e).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(g((1L, 2L)) == 2L && g((2L, 3L)) == 1L)
  }

  test("subgraph keeps edges with both endpoints in the vertex set") {
    import spark.implicits._
    val kept = Seq(1L, 2L, 3L).toDF("id")
    val s = EdgeOps.subgraph(e, kept).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(s == Set((1L, 2L), (2L, 3L), (3L, 1L)))
  }

  test("mask is structural intersection") {
    val other = edgesDF(Seq((1L, 2L), (9L, 9L)))
    val m = EdgeOps.mask(e, other).collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(m.toSet == Set((1L, 2L))); assert(m.length == 2) // parallel kept
  }

  test("degrees semantics: out omits sources with none; total covers universe") {
    val out = EdgeOps.outDegrees(e).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    val tot = EdgeOps.degreesTotal(e, EdgeOps.vertices(e))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
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

  test("partition strategies assign within [0, n) and are deterministic") {
    val n = 7
    for (strat <- Seq(Partitioners.edgePartition1D _, Partitioners.edgePartition2D _,
        Partitioners.randomVertexCut _, Partitioners.canonicalRandomVertexCut _)) {
      val p = e.select(strat(n).as("p")).collect().map(_.getInt(0))
      assert(p.forall(x => x >= 0 && x < n))
    }
    // canonical strategy: both directions land together
    val both = edgesDF(Seq((1L, 2L), (2L, 1L)))
      .select(Partitioners.canonicalRandomVertexCut(n).as("p"))
      .collect().map(_.getInt(0))
    assert(both(0) == both(1))
  }

  test("edge list loader canonical orientation flips per edge without dedup") {
    val p = tempDir("canon").resolve("edges.txt")
    java.nio.file.Files.write(p, "3 1\n1 3\n2 5\n".getBytes)
    val c = EdgeOps.edgeListFile(spark, p.toString, canonicalOrientation = true)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(c.sorted.toSeq == Seq((1L, 3L), (1L, 3L), (2L, 5L)))
  }

  test("vertex ops: minus, diff, pickRandomVertex, filter") {
    import spark.implicits._
    val a = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
    val b = Seq((2L, 20.0), (3L, 31.0), (4L, 40.0)).toDF("id", "v")
    // minus: ids of a absent from b
    assert(VertexOps.minus(a, b).select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    // diff: entries of b (present in a) whose value changed
    val d = VertexOps.diff(a, b).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(3L -> 31.0))
    // pickRandomVertex: deterministic per seed, member of the set
    val verts = EdgeOps.vertices(e)
    val p1 = VertexOps.pickRandomVertex(verts, seed = 7)
    val p2 = VertexOps.pickRandomVertex(verts, seed = 7)
    assert(p1 == p2 && Set(1L, 2L, 3L, 4L, 5L).contains(p1))
    assert(VertexOps.pickRandomVertex(verts, seed = 8) != p1 ||
      VertexOps.pickRandomVertex(verts, seed = 9) != p1) // seeds vary the draw
    // filter: drop self-loop-only vertices via a degree view, masked back
    val filtered = VertexOps.filter(e,
      preprocess = EdgeOps.removeSelfLoops,
      epred = lit(true),
      vpred = view => EdgeOps.outDegrees(view).filter(col("degree") >= 1).select("id"))
    val fs = filtered.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(!fs.contains((4L, 4L)) && fs.contains((2L, 3L)))
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

  test("multimodal: batched stub decode is deterministic and total") {
    implicit val s = spark
    val media = MediaOps.syntheticMedia(spark, 50)
    val f1 = MediaOps.decodeFeatures(media, maxBatchBytes = 1024).collect()
    val f2 = MediaOps.decodeFeatures(media, maxBatchBytes = 1L << 20).collect()
    assert(f1.length == 50 && f2.length == 50)
    val m1 = f1.map(r => r.media_id -> r.features.toSeq).toMap
    val m2 = f2.map(r => r.media_id -> r.features.toSeq).toMap
    assert(m1 == m2) // batch size must not change results
    assert(m1.values.forall(_.size == MediaOps.FeatureDim))
  }

  test("multimodal: frame-sample plan shape") {
    implicit val s = spark
    val media = MediaOps.syntheticMedia(spark, 10).toDF()
    val frames = MediaOps.frameSamplePlan(media, fps = 1.0)
    val byId = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // duration i%60000 ms at 1 fps → ceil(duration/1000) frames
    assert(byId(5L) == 1L) // 5ms duration → ceil = 1 frame at ts 0
    assert(!byId.contains(0L)) // zero-duration media → ZERO frames, no phantom row
    assert(byId(7L) == 1L)
    val ts = frames.filter(col("media_id") === 7L).select("ts_ms")
      .collect().map(_.getLong(0)).toSeq
    assert(ts == Seq(0L)) // the one sampled frame is the clip's start
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

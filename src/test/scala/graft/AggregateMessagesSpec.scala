package graft

import org.apache.spark.graphx.{Graph => XGraph, TripletFields => XTF}
import org.apache.spark.sql.functions._

import graft.graph.{AggregateMessages, EdgeOps, PreparedGraph, Pregel, TripletFields}

/** The public generic combinator pinned three ways: same-JVM differentials
  * against the reference jar's `Graph.aggregateMessages` (including the
  * AggregateMessagesExample older-follower query), structural identities
  * (degrees), and a full Pregel algorithm (min-label CC) against both the
  * engine's CC and the union-find oracle. */
class AggregateMessagesSpec extends SparkTestBase {

  def graphxAges(pairs: Seq[(Long, Long)]): XGraph[Double, Int] =
    XGraph.fromEdgeTuples(spark.sparkContext.parallelize(pairs, 4), 1)
      .mapVertices((id, _) => id.toDouble * 1.5 + 1.0)

  /** Reference example reproduced (jar AggregateMessagesExample: count +
    * sum of followers older than the followee, toDst, both attrs read). */
  test("differential vs jar: older-follower count/sum (toDst, TripletFields.All)") {
    for (seed <- 1 to 3) {
      val pairs = randomEdges(seed, n = 50, m = 180)
      val theirs = graphxAges(pairs).aggregateMessages[(Int, Double)](
        t => if (t.srcAttr > t.dstAttr) t.sendToDst((1, t.srcAttr)),
        (a, b) => (a._1 + b._1, a._2 + b._2), XTF.All)
        .collect().map { case (id, (c, s)) => id -> ((c.toLong, s)) }.toMap

      val g = PreparedGraph(edgesDF(pairs))
      val verts = g.vertices.select(col("id"),
        (col("id") * 1.5 + 1.0).as("age"))
      val ours = AggregateMessages.run(g, verts,
        toDst = Some(when(col("src_age") > col("dst_age"),
          struct(lit(1).as("n"), col("src_age").as("s")))),
        toSrc = None,
        merge = Seq(sum(col("msg.n")).as("cnt"), sum(col("msg.s")).as("total")),
        fields = TripletFields.All)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      g.unpersist()
      assert(ours.keySet == theirs.keySet, s"seed=$seed recipient sets differ")
      theirs.foreach { case (id, (c, s)) =>
        assert(ours(id)._1 == c, s"seed=$seed id=$id count")
        assert(math.abs(ours(id)._2 - s) < 1e-9, s"seed=$seed id=$id sum")
      }
    }
  }

  test("differential vs jar: sum of dst ages to src (toSrc, TripletFields.Dst " +
      "— the reverse-adjacency path)") {
    for (seed <- 4 to 5) {
      val pairs = randomEdges(seed, n = 40, m = 150)
      val theirs = graphxAges(pairs).aggregateMessages[Double](
        t => t.sendToSrc(t.dstAttr), _ + _, XTF.Dst)
        .collect().toMap

      val g = PreparedGraph(edgesDF(pairs))
      val verts = g.vertices.select(col("id"), (col("id") * 1.5 + 1.0).as("age"))
      val ours = AggregateMessages.run(g, verts,
        toDst = None, toSrc = Some(col("dst_age")),
        merge = Seq(sum(col("msg")).as("s")), fields = TripletFields.Dst)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      g.unpersist()
      assert(ours.keySet == theirs.keySet, s"seed=$seed recipient sets differ")
      theirs.foreach { case (id, s) =>
        assert(math.abs(ours(id) - s) < 1e-9, s"seed=$seed id=$id") }
    }
  }

  test("structural identities: toSrc lit(1) = out-degrees, toDst lit(1) = " +
      "in-degrees; src_degree exposed on triplets") {
    val pairs = randomEdges(7, n = 30, m = 100)
    val g = PreparedGraph(edgesDF(pairs))
    val verts = g.vertices
    val outs = AggregateMessages.run(g, verts, toDst = None,
      toSrc = Some(lit(1L)), merge = Seq(sum("msg").as("degree")),
      fields = TripletFields.None)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expOut = EdgeOps.outDegrees(edgesDF(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(outs == expOut, "toSrc unit messages = out-degrees")

    val ins = AggregateMessages.run(g, verts, toDst = Some(lit(1L)),
      toSrc = None, merge = Seq(sum("msg").as("degree")),
      fields = TripletFields.None)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expIn = EdgeOps.inDegrees(edgesDF(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ins == expIn, "toDst unit messages = in-degrees")

    // src_degree on the triplet view = the source's out-degree
    val t = AggregateMessages.triplets(g, verts, TripletFields.None)
      .select(col("src"), col("src_degree")).distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    g.unpersist()
    assert(t == expOut, "triplet src_degree = out-degree")
  }

  test("Pregel: min-label propagation CC matches engine CC + union-find " +
      "(messages both directions, active-set send)") {
    for (seed <- 8 to 9) {
      val pairs = randomEdges(seed, n = 80, m = 70) // sparse → many comps
      val g = PreparedGraph(edgesDF(pairs))
      val init = g.vertices.select(col("id"), col("id").as("label"),
        lit(true).as("changed"))
      def vprog(state: org.apache.spark.sql.DataFrame,
          msgs: org.apache.spark.sql.DataFrame) =
        state.join(msgs.hint("SHUFFLE_HASH"), Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("m"), col("label"))).as("label"),
            coalesce(col("m") < col("label"), lit(false)).as("changed"))
      val state = Pregel.iterate(g, init,
        toDst = Some(col("src_label")), toSrc = Some(col("dst_label")),
        merge = Seq(min("msg").as("m")), vprog,
        Pregel.Config(sendersPred = Some(col("changed")), algo = "minlabel"))
      val ours = state.select("id", "label")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      g.unpersist()
      val cc = graft.algos.ConnectedComponents.run(edgesDF(pairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ours == cc, s"seed=$seed pregel min-label vs engine CC")
      assert(ours == unionFindCC(pairs), s"seed=$seed pregel min-label vs union-find")
    }
  }

  test("Pregel expresses static PageRank: combinator ranks match the " +
      "engine's flagship implementation (and the jar) to 1e-9") {
    for (seed <- 14 to 15) {
      val pairs = randomEdges(seed, n = 60, m = 200)
      val g = PreparedGraph(edgesDF(pairs))
      val resetProb = 0.15; val iters = 15
      val init = g.vertices.select(col("id"), lit(1.0).as("rank"))
      def vprog(state: org.apache.spark.sql.DataFrame,
          msgs: org.apache.spark.sql.DataFrame) =
        state.join(msgs.hint("SHUFFLE_HASH"), Seq("id"), "left")
          .select(col("id"),
            (lit(resetProb) + lit(1.0 - resetProb) *
              coalesce(col("m"), lit(0.0))).as("rank"))
      val state = Pregel.iterate(g, init,
        toDst = Some(col("src_rank") / col("src_degree")), toSrc = None,
        merge = Seq(sum("msg").as("m")), vprog,
        Pregel.Config(maxIter = iters, fields = TripletFields.Src, algo = "ppr_static"))
      // reference normalizeRankSum tail
      val total = state.agg(sum("rank")).first().getDouble(0)
      val nv = g.numVertices
      val ours = state.select(col("id"), (col("rank") * nv / total).as("rank"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      g.unpersist()
      val engine = graft.algos.PageRank.run(edgesDF(pairs),
        graft.algos.PageRank.Config(numIter = iters))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(ours.keySet == engine.keySet, s"seed=$seed vertex sets")
      engine.foreach { case (id, r) =>
        assert(math.abs(ours(id) - r) < 1e-9, s"seed=$seed id=$id: ${ours(id)} vs $r") }
    }
  }

  test("Pregel expresses CONVERGENCE (tol) PageRank: combinator ranks " +
      "match the engine's delta-propagating tol mode to 1e-9 (r4 stretch)") {
    // the last flagship algorithm not yet reproduced on the public
    // primitive: delta propagation + active-set send + zero-senders halt
    for (seed <- 16 to 18) {
      val pairs = randomEdges(seed, n = 60, m = 200)
      val g = PreparedGraph(edgesDF(pairs))
      val resetProb = 0.15; val tol = 1e-4
      val init = g.vertices.select(col("id"),
        lit(resetProb).as("rank"), lit(resetProb).as("delta"),
        lit(true).as("received"))
      def vprog(state: org.apache.spark.sql.DataFrame,
          msgs: org.apache.spark.sql.DataFrame) =
        state.join(msgs.hint("SHUFFLE_HASH"), Seq("id"), "left")
          .select(col("id"),
            when(col("m").isNotNull, col("rank") + lit(1 - resetProb) * col("m"))
              .otherwise(col("rank")).as("rank"),
            when(col("m").isNotNull, lit(1 - resetProb) * col("m"))
              .otherwise(col("delta")).as("delta"),
            col("m").isNotNull.as("received"))
      val state = Pregel.iterate(g, init,
        toDst = Some(col("src_delta") / col("src_degree")), toSrc = None,
        merge = Seq(sum("msg").as("m")), vprog,
        Pregel.Config(sendersPred = Some(col("received") && col("delta") > tol),
          fields = TripletFields.Src, algo = "pr_tol_pregel"))
      // reference normalizeRankSum tail (Σ ranks = |V|)
      val total = state.agg(sum("rank")).first().getDouble(0)
      val nv = g.numVertices
      val ours = state.select(col("id"), (col("rank") * nv / total).as("rank"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      g.unpersist()
      val engine = graft.algos.PageRank.run(edgesDF(pairs),
        graft.algos.PageRank.Config(tol = Some(tol)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(ours.keySet == engine.keySet, s"seed=$seed vertex sets")
      engine.foreach { case (id, r) =>
        assert(math.abs(ours(id) - r) < 1e-9, s"seed=$seed id=$id: ${ours(id)} vs $r") }
    }
  }

  test("convergence-mode PageRank runs ONE job per superstep (halt count " +
      "fused into the rotation's observe, r4 what's-wrong #3): tol-mode " +
      "job count tracks static mode, not 2x") {
    // directed path: every vertex's delta decays by 0.85 per superstep, so
    // tol = 0.005 halts after ceil(ln(0.15/0.005)/ln(1/0.85)) = 21 rounds
    // (path length 30 > 21 never cuts flow first). AQE is disabled for the
    // measurement so one action = exactly one job; pre-fusion the loop ran
    // rotation + a separate active-count per superstep (= static + ~21).
    val pairs = (0L until 29L).map(i => (i, i + 1))
    val g = graft.graph.PreparedGraph(edgesDF(pairs))
    def jobsDuring(f: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(2000) } // let the async listener bus drain
      finally spark.sparkContext.removeSparkListener(l)
      counter.get()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val jStatic = jobsDuring {
        graft.algos.PageRank.runPrepared(g,
          graft.algos.PageRank.Config(numIter = 21)).unpersist(false)
      }
      val jTol = jobsDuring {
        graft.algos.PageRank.runPrepared(g,
          graft.algos.PageRank.Config(tol = Some(0.005))).unpersist(false)
      }
      // sanity: both actually iterated ~21 supersteps (one rotation job each)
      assert(jStatic >= 21, s"static mode ran only $jStatic jobs")
      assert(jTol >= 21, s"tol mode ran only $jTol jobs")
      // load-bearing: the fused tol loop costs ~what static costs; the
      // pre-fusion shape (rotation + count per superstep) would be
      // >= jStatic + 21 - slack and fail this by a wide margin
      assert(jTol <= jStatic + 6,
        s"tol mode issued $jTol jobs vs static $jStatic — per-superstep " +
          "active-count job is back")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      g.unpersist()
    }
  }

  test("active-set is enforced even when TripletFields excludes the " +
      "originator side (ADVICE r3 medium)") {
    import org.apache.spark.sql.DataFrame
    // one superstep with sendersPred = (id = 1); messages are unit counts,
    // fields = None → no attr join could enforce the restriction
    def oneStep(pairs: Seq[(Long, Long)], toDst: Boolean, toSrc: Boolean,
        fields: TripletFields): Map[Long, Long] = {
      val g = PreparedGraph(edgesDF(pairs))
      val init = g.vertices.select(col("id"), lit(0L).as("got"),
        (col("id") === 1L).as("is_sender"))
      def vprog(state: DataFrame, msgs: DataFrame) =
        state.join(msgs, Seq("id"), "left")
          .select(col("id"), coalesce(col("m"), lit(0L)).as("got"),
            lit(false).as("is_sender"))
      val out = Pregel.iterate(g, init,
        toDst = if (toDst) Some(lit(1L)) else None,
        toSrc = if (toSrc) Some(lit(1L)) else None,
        merge = Seq(sum("msg").as("m")), vprog,
        Pregel.Config(maxIter = 1, fields = fields,
          sendersPred = Some(col("is_sender")), algo = s"aset_${toDst}_${toSrc}_$fields"))
        .select("id", "got")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      g.unpersist()
      out
    }
    // 1→3, 2→3: only src 1 is a sender → 3 receives exactly ONE toDst msg
    assert(oneStep(Seq((1L, 3L), (2L, 3L)), toDst = true, toSrc = false,
      TripletFields.None) === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    // 3→1, 3→2: toSrc originators are the dsts {1,2}, only 1 sends →
    // 3 receives ONE msg — reverse-adjacency path (fields None)
    assert(oneStep(Seq((3L, 1L), (3L, 2L)), toDst = false, toSrc = true,
      TripletFields.None) === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    // same but through the forward path (fields = Src forces it)
    assert(oneStep(Seq((3L, 1L), (3L, 2L)), toDst = false, toSrc = true,
      TripletFields.Src) === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    // both directions on 1→2: src 1 active (sends toDst), dst 2 inactive
    // (its toSrc msg suppressed by the activity flag)
    assert(oneStep(Seq((1L, 2L)), toDst = true, toSrc = true,
      TripletFields.None) === Map(1L -> 0L, 2L -> 1L))
  }

  test("both-direction messaging evaluates the adjacency ONCE " +
      "(single-pass explode — VERDICT r3 next #3)") {
    val pairs = randomEdges(21, n = 40, m = 150)
    val g = PreparedGraph(edgesDF(pairs))
    val out = AggregateMessages.run(g, g.vertices,
      toDst = Some(lit(1L)), toSrc = Some(lit(1L)),
      merge = Seq(sum("msg").as("deg")), fields = TripletFields.None)
    val cachedScans = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cachedScans.length == 1,
      s"expected ONE cached adjacency scan, got ${cachedScans.length}")
    // and the result is still the total (in+out) degree
    val ours = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = EdgeOps.degrees(edgesDF(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    g.unpersist()
    assert(ours == exp, "both-direction unit messages = total degrees")
  }

  test("Pregel halts at the fixed point (empty active set) and respects maxIter") {
    // a 2-chain: propagation dies after 1 round; maxIter=0 → init returned
    val pairs = Seq((1L, 2L))
    val g = PreparedGraph(edgesDF(pairs))
    val init = g.vertices.select(col("id"), col("id").as("label"),
      lit(true).as("changed"))
    def vprog(state: org.apache.spark.sql.DataFrame,
        msgs: org.apache.spark.sql.DataFrame) =
      state.join(msgs, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("m"), col("label"))).as("label"),
          coalesce(col("m") < col("label"), lit(false)).as("changed"))
    val frozen = Pregel.iterate(g, init, Some(col("src_label")), None,
      Seq(min("msg").as("m")), vprog,
      Pregel.Config(maxIter = 0, algo = "halt0"))
    assert(frozen.select("id", "label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 2L))
    val done = Pregel.iterate(g, init, Some(col("src_label")), None,
      Seq(min("msg").as("m")), vprog,
      Pregel.Config(sendersPred = Some(col("changed")), algo = "halt1"))
    g.unpersist()
    assert(done.select("id", "label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 1L))
  }

  test("a vertex attr named 'degree' fails actionably instead of emitting " +
      "a duplicate src_degree column (review r5)") {
    val g = PreparedGraph(edgesDF(Seq((1L, 2L), (2L, 3L))))
    val state = g.vertices.select(col("id"), lit(1L).as("degree"))
    val e = intercept[IllegalArgumentException] {
      AggregateMessages.run(g, state, Some(col("src_degree")), None,
        Seq(sum("msg").as("m")), TripletFields.Src)
    }
    assert(e.getMessage.contains("src_degree"), e.getMessage)
    // a non-colliding name on the same shape works
    val ok = AggregateMessages.run(g,
      state.withColumnRenamed("degree", "deg"),
      Some(col("src_deg")), None, Seq(sum("msg").as("m")), TripletFields.Src)
    assert(ok.count() == 2)
    g.unpersist()
  }
}

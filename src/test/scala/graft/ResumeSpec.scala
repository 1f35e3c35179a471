package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank}
import graft.graph.{PreparedGraph, Pregel}
import graft.runtime.{CheckpointConfig, Checkpoints, StateRotator, Storage}

/** North-rule resumability: jobs resume mid-iteration from the superstep
  * checkpoint store and produce bit-identical results; per-partition
  * lineage/metrics are logged every superstep. */
class ResumeSpec extends SparkTestBase {

  test("pagerank resumed from superstep checkpoint is bit-identical") {
    val edges = edgesDF(randomEdges(7, n = 80, m = 300))
    val dir = tempDir("resume").toString
    val ck = CheckpointConfig(dir, "run1", every = 4)
    // interrupted run: stops after superstep 8 (checkpoints at 4 and 8)
    PageRank.run(edges, PageRank.Config(numIter = 8, checkpoint = Some(ck),
      normalize = false))
    // resumed run continues 9..16 from the superstep-8 snapshot
    val resumed = PageRank.run(edges, PageRank.Config(numIter = 16,
      checkpoint = Some(ck), resume = true, normalize = false))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // uninterrupted reference
    val full = PageRank.run(edges, PageRank.Config(numIter = 16, normalize = false))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(resumed == full) // bit-identical, not just allclose
  }

  test("resume under a changed numeric config fails loudly instead of " +
      "silently mixing parameterizations (review r5)") {
    val edges = edgesDF(randomEdges(13, n = 60, m = 200))
    val dir = tempDir("resume_fp").toString
    val ck = CheckpointConfig(dir, "fp1", every = 3)
    PageRank.run(edges, PageRank.Config(numIter = 6, checkpoint = Some(ck)))
    val e = intercept[IllegalArgumentException] {
      PageRank.run(edges, PageRank.Config(numIter = 12, resetProb = 0.3,
        checkpoint = Some(ck), resume = true))
    }
    assert(e.getMessage.contains("refusing to resume"), e.getMessage)
    // same numerics but MORE iterations is the documented resume use —
    // numIter is excluded from the fingerprint and still works
    val ok = PageRank.run(edges, PageRank.Config(numIter = 12,
      checkpoint = Some(ck), resume = true))
    assert(ok.count() > 0)
    ok.unpersist(false)
  }

  test("a FRESH run against a dir recorded under a DIFFERENT config fails " +
      "loudly: it would overwrite only the snapshots its cadence reaches " +
      "and leave the old config's tail as mixed state (review r5)") {
    val edges = edgesDF(randomEdges(17, n = 40, m = 120))
    val dir = tempDir("resume_mix").toString
    val ck = CheckpointConfig(dir, "mix1", every = 2)
    PageRank.run(edges, PageRank.Config(numIter = 4, checkpoint = Some(ck)))
      .unpersist(false)
    val e = intercept[IllegalArgumentException] {
      PageRank.run(edges, PageRank.Config(numIter = 4, resetProb = 0.3,
        checkpoint = Some(ck)))
    }
    assert(e.getMessage.contains("refusing to run"), e.getMessage)
    // a fresh run under the SAME config stays legal: deterministic
    // supersteps make any stale snapshot bit-identical to a rewrite
    PageRank.run(edges, PageRank.Config(numIter = 4, checkpoint = Some(ck)))
      .unpersist(false)
  }

  test("resume against the same dir/runId with DIFFERENT edge data fails " +
      "loudly: the fingerprint binds input identity, not just numerics " +
      "(review r5)") {
    val edgesA = edgesDF(randomEdges(19, n = 60, m = 200))
    val edgesB = edgesDF(randomEdges(23, n = 60, m = 200)) // different graph
    val dir = tempDir("resume_input").toString
    val ck = CheckpointConfig(dir, "in1", every = 3)
    PageRank.run(edgesA, PageRank.Config(numIter = 6, checkpoint = Some(ck)))
      .unpersist(false)
    // resuming with graph B would adopt ranks computed from graph A —
    // results matching NEITHER graph; must refuse, not continue
    val e = intercept[IllegalArgumentException] {
      PageRank.run(edgesB, PageRank.Config(numIter = 12,
        checkpoint = Some(ck), resume = true))
    }
    assert(e.getMessage.contains("refusing to resume"), e.getMessage)
    // CC has no numeric config at all — input identity is its ONLY
    // fingerprint, and the same drift must fail there too
    val ckCC = CheckpointConfig(dir, "incc", every = 1)
    ConnectedComponents.run(edgesA,
      ConnectedComponents.Config(checkpoint = Some(ckCC))).unpersist(false)
    val e2 = intercept[IllegalArgumentException] {
      ConnectedComponents.run(edgesB,
        ConnectedComponents.Config(checkpoint = Some(ckCC), resume = true))
    }
    assert(e2.getMessage.contains("refusing to resume"), e2.getMessage)
    // the SAME graph resumes fine under both (edge order must not matter:
    // the signature is multiset-invariant)
    PageRank.run(edgesA.orderBy(rand(5)), PageRank.Config(numIter = 12,
      checkpoint = Some(ck), resume = true)).unpersist(false)
    ConnectedComponents.run(edgesA.orderBy(rand(7)),
      ConnectedComponents.Config(checkpoint = Some(ckCC), resume = true))
      .unpersist(false)
  }

  test("LPA resume against the same dir/runId with DIFFERENT edge data " +
      "fails loudly instead of adopting stale labels") {
    val pairsA = randomEdges(19, n = 60, m = 200)
    val edgesB = edgesDF(randomEdges(23, n = 60, m = 200)) // different graph
    val dir = tempDir("resume_lpa_input").toString
    val ck = CheckpointConfig(dir, "inlpa", every = 2)
    LabelPropagation.run(edgesDF(pairsA), LabelPropagation.Config(maxSteps = 2,
      checkpoint = Some(ck))).unpersist(false)
    val e = intercept[IllegalArgumentException] {
      LabelPropagation.run(edgesB, LabelPropagation.Config(maxSteps = 4,
        checkpoint = Some(ck), resume = true))
    }
    assert(e.getMessage.contains("refusing to resume"), e.getMessage)
    // LPA ignores edge direction: the signature is over the symmetrized
    // adjacency, so the same graph with every edge reversed resumes fine
    LabelPropagation.run(edgesDF(pairsA.map(_.swap)), LabelPropagation.Config(
      maxSteps = 4, checkpoint = Some(ck), resume = true)).unpersist(false)
  }

  test("a torn _config write (killed first run) is repaired, not treated " +
      "as recorded — the drift guard stays armed (review r5)") {
    val dir = tempDir("resume_torn").toString
    val ck = CheckpointConfig(dir, "torn1", every = 1)
    Checkpoints.guard(spark, ck, "pagerank", "fpA", resume = false)
    // tear it: the dir exists (exists()=true) but the commit marker is
    // gone (committed()=false) — exactly what a mid-write kill leaves
    val ref = Checkpoints.fingerprintRef(ck, "pagerank")
    val marker = new java.io.File(ref, "_SUCCESS")
    assert(marker.exists(), "parquet write should have left a _SUCCESS")
    assert(marker.delete())
    // the old exists() gate would skip this write forever, silently
    // disarming the guard's verify half (which correctly requires committed())
    Checkpoints.guard(spark, ck, "pagerank", "fpB", resume = false)
    Checkpoints.guard(spark, ck, "pagerank", "fpB", resume = true) // re-armed
    val e = intercept[IllegalArgumentException] {
      Checkpoints.guard(spark, ck, "pagerank", "fpC", resume = true)
    }
    assert(e.getMessage.contains("refusing to resume"))
  }

  test("tol-mode pagerank resumed from checkpoint is bit-identical") {
    val edges = edgesDF(randomEdges(11, n = 80, m = 300))
    val dir = tempDir("resume_tol").toString
    val ck = CheckpointConfig(dir, "tol1", every = 3)
    // interrupted run converges and checkpoints along the way; resuming
    // from its latest snapshot replays the identical tail
    PageRank.run(edges, PageRank.Config(tol = Some(1e-3), checkpoint = Some(ck),
      normalize = false))
    val resumed = PageRank.run(edges, PageRank.Config(tol = Some(1e-3),
      checkpoint = Some(ck), resume = true, normalize = false))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = PageRank.run(edges, PageRank.Config(tol = Some(1e-3), normalize = false))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(resumed == full)
  }

  test("connected components resumed from checkpoint is bit-identical") {
    val edges = edgesDF(randomEdges(12, n = 100, m = 220))
    val dir = tempDir("resume_cc").toString
    val ck = CheckpointConfig(dir, "cc1", every = 1)
    val full = ConnectedComponents.run(edges,
      ConnectedComponents.Config(checkpoint = Some(ck)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val resumed = ConnectedComponents.run(edges,
      ConnectedComponents.Config(checkpoint = Some(ck), resume = true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full)
  }

  test("label propagation resumed mid-run matches an uninterrupted run") {
    val edges = edgesDF(randomEdges(13, n = 80, m = 240))
    val dir = tempDir("resume_lpa").toString
    val ck = CheckpointConfig(dir, "lpa1", every = 2)
    // interrupted at step 2 (snapshot), resume continues 3..4
    LabelPropagation.run(edges, LabelPropagation.Config(maxSteps = 2,
      checkpoint = Some(ck)))
    val resumed = LabelPropagation.run(edges, LabelPropagation.Config(maxSteps = 4,
      checkpoint = Some(ck), resume = true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = LabelPropagation.run(edges, LabelPropagation.Config(maxSteps = 4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full)
  }

  test("generic Pregel.iterate resumed mid-run matches an uninterrupted " +
      "run (min-label CC on the combinator, checkpointed supersteps)") {
    import graft.graph.{PreparedGraph, Pregel}
    val pairs = randomEdges(17, n = 80, m = 80)
    val dir = tempDir("resume_pregel").toString
    val ck = CheckpointConfig(dir, "ml1", every = 1)
    def run(g: PreparedGraph, maxIter: Int, resume: Boolean) = {
      val init = g.vertices.select(col("id"), col("id").as("label"),
        lit(true).as("changed"))
      def vprog(st: org.apache.spark.sql.DataFrame,
          ms: org.apache.spark.sql.DataFrame) =
        st.join(ms, Seq("id"), "left").select(col("id"),
          least(col("label"), coalesce(col("m"), col("label"))).as("label"),
          coalesce(col("m") < col("label"), lit(false)).as("changed"))
      Pregel.iterate(g, init, Some(col("src_label")), Some(col("dst_label")),
        Seq(min("msg").as("m")), vprog,
        Pregel.Config(maxIter = maxIter, sendersPred = Some(col("changed")),
          checkpoint = Some(ck), resume = resume, algo = "minlabel_resume"))
        .select("id", "label")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val g = PreparedGraph(edgesDF(pairs))
    run(g, maxIter = 2, resume = false) // interrupted after superstep 2
    val resumed = run(g, maxIter = Int.MaxValue, resume = true)
    // uninterrupted twin under a fresh checkpoint namespace
    val g2 = PreparedGraph(edgesDF(pairs))
    val init2 = g2.vertices.select(col("id"), col("id").as("label"),
      lit(true).as("changed"))
    def vprog2(st: org.apache.spark.sql.DataFrame,
        ms: org.apache.spark.sql.DataFrame) =
      st.join(ms, Seq("id"), "left").select(col("id"),
        least(col("label"), coalesce(col("m"), col("label"))).as("label"),
        coalesce(col("m") < col("label"), lit(false)).as("changed"))
    val full = Pregel.iterate(g2, init2, Some(col("src_label")),
      Some(col("dst_label")), Seq(min("msg").as("m")), vprog2,
      Pregel.Config(sendersPred = Some(col("changed")), algo = "minlabel_full"))
      .select("id", "label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    g.unpersist(); g2.unpersist()
    assert(resumed == full, "resumed combinator run diverged from uninterrupted")
  }

  /** Min-label CC on the combinator; the shape the Pregel resume specs use. */
  private def minLabel(g: PreparedGraph,
      vprog: (DataFrame, DataFrame) => DataFrame, cfg: Pregel.Config): DataFrame =
    Pregel.iterate(g,
      g.vertices.select(col("id"), col("id").as("label"), lit(true).as("changed")),
      Some(col("src_label")), Some(col("dst_label")), Seq(min("msg").as("m")), vprog,
      cfg.copy(sendersPred = Some(col("changed"))))

  private def minLabelStep(st: DataFrame, ms: DataFrame): DataFrame =
    st.join(ms, Seq("id"), "left").select(col("id"),
      least(col("label"), coalesce(col("m"), col("label"))).as("label"),
      coalesce(col("m") < col("label"), lit(false)).as("changed"))

  test("a checkpointed Pregel.iterate that throws mid-run strands no log " +
      "buffer or checkpoint blocks, and resumes bit-identically") {
    // a 12-vertex path: the min label moves one hop per superstep, so the
    // loop is still running when the vprog throws building superstep 5
    val g = PreparedGraph(edgesDF((0L until 11L).map(i => (i + 1, i))))
    g.numVertices
    val dir = tempDir("resume_throw").toString
    val ck = CheckpointConfig(dir, "throw1", every = 3)
    val cfg = Pregel.Config(checkpoint = Some(ck), algo = "minlabel_throw")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var calls = 0
    val ex = intercept[IllegalStateException] {
      minLabel(g, (st, ms) => {
        calls += 1
        if (calls == 5) throw new IllegalStateException("vprog failed in superstep 5")
        minLabelStep(st, ms)
      }, cfg)
    }
    assert(ex.getMessage.contains("superstep 5"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs stranded by the failed loop: $leaked")
    assert(Checkpoints.readLog(spark, ck, "minlabel_throw")
      .agg(max("superstep")).first().getInt(0) == 3)
    // resume continues from the superstep-3 snapshot
    def labels(df: DataFrame) =
      df.select("id", "label").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val resumed = labels(minLabel(g, minLabelStep, cfg.copy(resume = true)))
    val full = labels(minLabel(g, minLabelStep,
      Pregel.Config(algo = "minlabel_throw_full")))
    g.unpersist()
    assert(resumed == full)
    assert(full.values.toSet == Set(0L))
  }

  test("observe-fused partition counts equal the job-based counts " +
      "(r6 superstep-log fusion)") {
    // the fused path's contract: the map observed DURING a rotation-style
    // materialization must equal what a later spark_partition_id groupBy
    // over the SAME materialized frame reports — i.e. task partition ids
    // at observe time are the localCheckpoint scan's partition ids. The
    // rotator's one fallback — the same metric columns aggregated over the
    // rotated frame — must equal the observed row, for the partition
    // counts and for CC's (count, xor) edge-set signature
    val df = spark.range(0, 1000).select(col("id").as("src"), (col("id") % 7).as("dst"))
      .repartition(8)
    val metrics = Seq(count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h"),
      Checkpoints.partitionCountsMetric.as("pcounts"))
    // the scope releases the rotator's final state
    Storage.scope { s =>
      val obs = org.apache.spark.sql.Observation("pcounts_parity")
      val rot = s.rotator(None, "parity")
      val mat = rot.rotate(df.observe(obs, metrics.head, metrics.tail: _*), 1)
      val observed = StateRotator.awaitObservedRow(obs)
      assert(observed.isDefined, "observation did not surface")
      val fused = observed.get.getMap[Int, Long](2).toMap
      val job = mat.select(spark_partition_id().as("p"))
        .groupBy("p").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(fused == job)
      assert(fused.values.sum == 1000L)
      assert(StateRotator.measure(mat, metrics) == observed.get)
    }
  }

  /** (superstep, Σrows, active_count) per logged superstep, after checking
    * supersteps are exactly 1..n, each (superstep, partition) row logged
    * once, and one active_count per superstep. */
  private def loggedSupersteps(ck: CheckpointConfig, algo: String): Seq[(Int, Long, Long)] = {
    val log = Checkpoints.readLog(spark, ck, algo)
    assert(log.groupBy("superstep", "partition_id").count()
      .filter(col("count") > 1).count() == 0, s"$algo: a superstep logged twice")
    val per = log.groupBy("superstep")
      .agg(sum("rows"), min("active_count"), max("active_count"))
      .orderBy("superstep").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(per.map(_._1) == (1 to per.size), s"$algo: supersteps ${per.map(_._1)}")
    assert(per.forall(r => r._3 == r._4), s"$algo: active_count varies within a superstep")
    per.map(r => (r._1, r._2, r._3))
  }

  test("superstep log has per-partition rows and wall times") {
    val pairs = randomEdges(8, n = 50, m = 150)
    val edges = edgesDF(pairs)
    val nV = pairs.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong
    val dir = tempDir("sslog").toString
    val ck = CheckpointConfig(dir, "run2", every = 2)
    PageRank.run(edges, PageRank.Config(numIter = 4, checkpoint = Some(ck)))
      .unpersist(false)
    val log = Checkpoints.readLog(spark, ck, "pagerank")
    assert(log.columns.toSet == Set("run_id", "superstep", "partition_id",
      "rows", "l1_delta", "active_count", "wall_ms"))
    // static PageRank: every superstep logs all vertices, active = |V|
    assert(loggedSupersteps(ck, "pagerank") == (1 to 4).map(i => (i, nV, nV)))

    // tol PageRank and Pregel: Σrows = |V|, active_count = the superstep's
    // active count, which reaches 0 exactly at the last superstep
    PageRank.run(edges, PageRank.Config(tol = Some(1e-3), checkpoint = Some(ck)))
      .unpersist(false)
    val g = PreparedGraph(edges)
    minLabel(g, minLabelStep, Pregel.Config(checkpoint = Some(ck), algo = "minlabel_log"))
    g.unpersist()
    for (algo <- Seq("pagerank_tol", "minlabel_log")) {
      val steps = loggedSupersteps(ck, algo)
      assert(steps.size > 1 && steps.forall(_._2 == nV), s"$algo: $steps")
      assert(steps.init.forall(_._3 > 0) && steps.last._3 == 0L, s"$algo: $steps")
    }

    // CC: each round logs its edge set, active_count = that round's edge
    // count; round 0 (the canonical form) is rotated but not logged
    ConnectedComponents.run(edges, ConnectedComponents.Config(checkpoint = Some(ck)))
      .unpersist(false)
    val cc = loggedSupersteps(ck, "cc")
    assert(cc.nonEmpty && cc.forall(r => r._2 == r._3), s"cc: $cc")

    // LPA: all vertices every step, active_count 0
    LabelPropagation.run(edges, LabelPropagation.Config(maxSteps = 3,
      checkpoint = Some(ck))).unpersist(false)
    assert(loggedSupersteps(ck, "lpa") == (1 to 3).map(i => (i, nV, 0L)))
  }
}

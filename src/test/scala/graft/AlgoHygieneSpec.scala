package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algos.{ConnectedComponents, LabelPropagation, ShortestPaths,
  StronglyConnectedComponents, SVDPlusPlus}
import graft.graph.PreparedGraph
import graft.runtime.{CheckpointConfig, Storage}

/** Regression pins for the round-5 algorithm-hygiene review: cap behavior
  * fails loudly instead of returning corrupt/partial output, results obey
  * the caller-owns-persisted-frame contract, auxiliary checkpoint block
  * sets are released, argmax tie-breaks can't wrap on Long.MinValue, and
  * session memos are built once and released per session. */
class AlgoHygieneSpec extends SparkTestBase {

  /** Ids of the persisted RDDs and the number of CacheManager entries. */
  private def storage(): (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      org.apache.spark.sql.graftcheck.CacheEntries.count(spark))

  /** A failed call released every cache and checkpoint it made. */
  private def assertNothingStranded(before: (Set[Int], Int)): Unit = {
    val (rdds, entries) = storage()
    assert((rdds -- before._1).isEmpty, s"RDDs stranded: ${rdds -- before._1}")
    assert(entries == before._2, s"CacheManager entries ${before._2} -> $entries")
  }

  test("CC fails loudly when maxRounds trips before convergence " +
    "(silent duplicate-label corruption otherwise)") {
    // a 40-vertex path needs several small/large-star rounds; cap at 1
    val chain = edgesDF((0L until 39L).map(i => (i, i + 1)))
    val before = storage()
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.run(chain, ConnectedComponents.Config(maxRounds = 1))
    }
    assert(ex.getMessage.contains("did not converge"))
    // the vertex universe and the last rotated state are released too
    assertNothingStranded(before)
    // and the same graph converges fine under the default cap
    val ok = ConnectedComponents.run(chain)
    assert(ok.select(countDistinct(col("component"))).first().getLong(0) == 1L)
    ok.unpersist(true)
  }

  test("CC refused by the checkpoint guard strands no cache or checkpoint") {
    val ck = CheckpointConfig(tempDir("ccguard").toString, "guard", every = 2)
    val cfg = ConnectedComponents.Config(checkpoint = Some(ck))
    ConnectedComponents.run(edgesDF(Seq((1L, 2L), (2L, 3L))), cfg).unpersist(true)
    // a fresh run on different edges in the same dir/runId is refused
    val before = storage()
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.run(edgesDF(Seq((1L, 2L), (5L, 6L))), cfg)
    }
    assert(ex.getMessage.contains("refusing to run"))
    assertNothingStranded(before)
  }

  test("a PreparedGraph build that fails strands no cache") {
    val bad = edgesDF((0L until 20L).map(i => (i, i + 1)))
      .select(col("src"),
        when(col("dst") === 7L, raise_error(lit("bad edge 7"))).otherwise(col("dst")).as("dst"))
    val before = storage()
    val ex = intercept[Exception](PreparedGraph(bad))
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("bad edge 7"))), ex)
    assertNothingStranded(before)
  }

  test("LPA tie-break: Long.MinValue label WINS ties (negating the label " +
    "would wrap and make it lose)") {
    val lo = Long.MinValue
    // vertex 10 hears {lo, 5} — a 1-1 tie; smallest label must win
    val e = edgesDF(Seq((lo, 10L), (5L, 10L)))
    val labels = LabelPropagation.run(e, LabelPropagation.Config(maxSteps = 1))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist(true)
    assert(m(10L) == lo, s"tie involving Long.MinValue broke wrong: $m")
  }

  test("ShortestPaths result is a plain persisted frame the caller can " +
    "release (not localCheckpoint-backed)") {
    val out = ShortestPaths.run(edgesDF(Seq((1L, 2L), (2L, 3L))), Seq(3L))
    // a checkpoint-backed frame has NO CacheManager entry → level NONE;
    // the ownership contract requires a caller-releasable persist
    assert(out.storageLevel.useMemory || out.storageLevel.useDisk,
      s"result not CacheManager-persisted: ${out.storageLevel}")
    out.unpersist(true)
    assert(out.storageLevel == StorageLevel.NONE)
  }

  test("ShortestPaths finite maxIter = k-hop restriction (documented), " +
    "default runs to the fixed point") {
    val e = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val capped = ShortestPaths.run(e, Seq(4L), maxIter = 1)
    val got = capped.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    capped.unpersist(true)
    assert(got == Map(4L -> 0, 3L -> 1), s"k-hop cap: $got")
    val full = ShortestPaths.run(e, Seq(4L)) // default: fixed point
    assert(full.count() == 4)
    full.unpersist(true)
  }

  test("SCC releases its four auxiliary rotators' final block sets " +
    "(retains only the one contract-allowed set)") {
    val pairs = randomEdges(99, n = 30, m = 80)
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = StronglyConnectedComponents.run(edgesDF(pairs))
    out.unpersist(true)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"stranded checkpoint sets: before=$before after=$after")
  }

  test("Storage.memo builds once per (session, label, dir); clearMemo " +
    "releases only that session's entries") {
    var builds = 0
    def frame(s: SparkSession, n: Long) = Storage.memo(s, "t_frame", "d") {
      builds += 1
      Storage.scope(_.result(s.range(n).toDF("id")))
    }
    def graph(s: SparkSession, n: Long) = Storage.memo(s, "t_graph", "d") {
      builds += 1
      PreparedGraph(s.range(n).select(col("id").as("src"), (col("id") + 1).as("dst")))
    }
    def cached(df: org.apache.spark.sql.DataFrame) = df.storageLevel != StorageLevel.NONE
    val before = storage()
    // the sessions of one context share a CacheManager, which keeps ONE
    // cache per plan: the other session builds over a different range so
    // its entries are caches of their own
    val other = spark.newSession()
    val (of, og) = (frame(other, 20), graph(other, 20))
    val mid = storage()
    val (f, g) = (frame(spark, 10), graph(spark, 10))
    assert((frame(spark, 10) eq f) && (graph(spark, 10) eq g))
    assert(builds == 4 && (of ne f) && (og ne g), s"builds=$builds")
    Storage.clearMemo(spark)
    assert(!cached(f) && !cached(g.adjacency) && !cached(g.vertices))
    assert(cached(of) && cached(og.adjacency) && cached(og.vertices))
    assertNothingStranded(mid)
    // the next lookup after a clear rebuilds
    assert((frame(spark, 10) ne f) && builds == 5)
    Storage.clearMemo(spark)
    Storage.clearMemo(other)
    assertNothingStranded(before)
  }

  test("SVD++ rmse fails loudly on zero matched predictions") {
    import spark.implicits._
    val train = Seq((1L, 2L, 4.0)).toDF("src", "dst", "rating")
    val (state, u) = SVDPlusPlus.run(train, SVDPlusPlus.Conf(rank = 2, maxIters = 1))
    val disjoint = Seq((8L, 9L, 3.0)).toDF("src", "dst", "rating")
    val ex = intercept[IllegalArgumentException] {
      SVDPlusPlus.rmse(disjoint, state, SVDPlusPlus.Conf(rank = 2), u)
    }
    assert(ex.getMessage.contains("RMSE is undefined"))
    // matched pairs still work
    assert(!SVDPlusPlus.rmse(train, state, SVDPlusPlus.Conf(rank = 2), u).isNaN)
    state.unpersist(true)
  }
}

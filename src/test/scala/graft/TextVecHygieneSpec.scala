package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.textops.{Dedup, TextStats}

/** Regression pins for the round-5 textops/vec hygiene review: simhash
  * banding degenerate cases, the IVF zero-vector centroid guard, the
  * dupClusters ownership contract, and the Java-\s tokenizer contract the
  * DuckDB oracles mirror. */
class TextVecHygieneSpec extends SparkTestBase {

  test("simhashPairs maxHamming=0 bands on the FULL signature " +
    "(1L << 64 wraps to 1 — an all-zero mask put every doc in one bucket)") {
    import spark.implicits._
    val d = Seq(
      (1L, "identical content shared by the first two documents exactly"),
      (2L, "identical content shared by the first two documents exactly"),
      (3L, "a completely different third document about other topics entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, maxHamming = 0)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"exact-signature pairs: $pairs")
  }

  test("simhashPairs rejects maxHamming > 7 (non-selective pair-bucket " +
    "keys = quadratic candidate volume)") {
    import spark.implicits._
    val d = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(d, maxHamming = 8)
    }
    assert(ex.getMessage.contains("out of range"))
  }

  test("IVF Lloyd M-step: a cell summing to the exact zero vector keeps " +
    "its previous centroid instead of poisoning the index with NaN") {
    import spark.implicits._
    // two exactly mirrored unit vectors, one cell: member sum == 0.0
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(-1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val cents = graft.vec.IVF.trainCentroids(vecs, k = 1, iters = 3, seed = 5L)
    val cv = cents.select("cv").collect().map(_.getSeq[Double](0))
    graft.runtime.Storage.release(cents)
    assert(cv.nonEmpty && cv.forall(v => v.forall(x => !x.isNaN)),
      s"NaN centroid escaped the zero-norm guard: ${cv.map(_.mkString(",")).mkString(" | ")}")
  }

  test("dupClusters result is caller-releasable (persisted projection, " +
    "CC's internal cache released)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ia", "ib")
    val before = spark.sparkContext.getPersistentRDDs.size
    val cl = Dedup.dupClusters(pairs)
    assert(cl.storageLevel.useMemory || cl.storageLevel.useDisk,
      s"not CacheManager-persisted: ${cl.storageLevel}")
    val got = cl.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
    cl.unpersist(true)
    assert(cl.storageLevel == StorageLevel.NONE)
    val after = spark.sparkContext.getPersistentRDDs.size
    // CC's rotator-final set is the one contract-allowed retained block set
    assert(after <= before + 1, s"stranded: before=$before after=$after")
  }

  test("tokenizer contract: Java \\s includes vertical tab (\\x0B) — the " +
    "class the DuckDB oracle twins spell out explicitly") {
    import spark.implicits._
    val d = Seq(("foo\u000Bbar baz", 3L), ("a\tb\nc\fd\re", 5L))
      .toDF("text", "expected")
    val got = d.select(TextStats.tokenCountWs(col("text")).as("n"), col("expected"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"token count ${r.getLong(0)} != expected ${r.getLong(1)}"))
  }

  test("vectorSum: an all-empty-vector group yields [] (not null) even " +
    "when partial aggregation crosses the shuffle (review r5: serialize " +
    "mapped a non-null zero-length buffer to the null wire form)") {
    // one group, rows spread over 4 input partitions: each partition's
    // partial buffer is a NON-null empty array that must survive the
    // serialize → shuffle → deserialize → merge path as "seen but empty"
    val df = spark.range(0, 8, 1, 4)
      .select(lit(1L).as("k"), array().cast("array<double>").as("v"))
    val r = df.groupBy("k")
      .agg(org.apache.spark.sql.graftvec.VectorExpressions.vectorSum(col("v"))
        .as("s")).collect()(0)
    assert(!r.isNullAt(1),
      "empty-vector group collapsed to null across the partial/final shuffle")
    assert(r.getSeq[Double](1).isEmpty)
    // null vectors alone (never a non-null input) still yield null
    val rn = spark.range(0, 4, 1, 2)
      .select(lit(1L).as("k"), lit(null).cast("array<double>").as("v"))
      .groupBy("k")
      .agg(org.apache.spark.sql.graftvec.VectorExpressions.vectorSum(col("v"))
        .as("s")).collect()(0)
    assert(rn.isNullAt(1), "nothing-seen group must stay null")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.textops.{Dedup, TextStats}
import graft.vec.Similarity

/** Training-pipeline operators over the driver's documents/embeddings. */
class TextOpsSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("exact dedup groups partition the corpus") {
    val g = Dedup.exactGroups(docs)
    assert(g.agg(sum("n_docs")).first().getLong(0) == docs.count())
    // drops + keepers = all docs
    val drops = Dedup.exactDrops(docs).count()
    assert(g.count() + drops == docs.count())
  }

  test("minhash-LSH pairs ⊆ exact ngram pairs, recall ≥ 0.95 at j=0.5") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5))
    val mh = pairs(Dedup.minhashLshPairs(docs, k = 3, numHashes = 128,
      bands = 16, threshold = 0.5))
    assert(mh.subsetOf(exact), "minhash returned a pair below threshold")
    assert(exact.isEmpty || mh.size.toDouble / exact.size >= 0.95,
      s"recall ${mh.size}/${exact.size}")
  }

  test("dupClusters: transitive closure of near-dup pairs via the " +
      "engine's ConnectedComponents; min-id keeper per cluster") {
    import spark.implicits._
    // 1-2, 2-5 chain (closure: one cluster) + a separate 7-9 pair
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("ia", "ib")
    val cl = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(cl == Set((1L, 1L, true), (2L, 1L, false), (5L, 1L, false),
      (7L, 7L, true), (9L, 7L, false)))
  }

  test("native SimHashSignature is bit-identical to the builtin-HOF " +
      "formulation in BOTH hash families") {
    import org.apache.spark.sql.Column
    // the r3 HOF formulation, kept here as the independent reference
    def hofPortable(text: Column): Column = {
      val mults = Seq(131L, 137L, 139L, 149L)
      val hquad = transform(TextStats.tokensWs(text),
        t => array(mults.map(m => graft.textops.PortableHash.charPoly(t, m)): _*))
      val votes = aggregate(hquad, array_repeat(lit(0L), 64),
        (acc, hs) => zip_with(acc, sequence(lit(0), lit(63)), (a, j) =>
          a + call_function("shiftright", element_at(hs, (j / 16 + 1).cast("int")),
            (j % 16).cast("int")).bitwiseAND(1L) * 2L - 1L))
      aggregate(
        zip_with(votes, sequence(lit(0), lit(63)), (v, j) =>
          when(v > 0, call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(0L)),
        lit(0L), (acc, b) => acc.bitwiseOR(b))
    }
    val t = col("text")
    val mism = docs.filter(Dedup.simhash(t) =!= hofPortable(t)).count()
    assert(mism == 0L, s"$mism mismatches")
  }

  test("simhash: identical docs distance 0; near-dup pairs found") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark catalyst optimizer plans"))
      .toDF("doc_id", "text")
    val sh = d.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val pairs = Dedup.simhashPairs(d, maxHamming = 3)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash pair-banding (maxHamming > 3) finds all pairs the exact scan finds") {
    // 40 docs: 8 clusters of near-identical templates + noise docs
    import spark.implicits._
    val d = (0 until 40).map { i =>
      val base = s"cluster ${i % 8} shared template text about topic ${i % 8} " +
        s"with common words repeated across documents in the same cluster"
      (i.toLong, if (i < 32) base + s" variant token$i" else s"unique noise doc $i " + ("x" + i) * 5)
    }.toDF("doc_id", "text")
    val h = 6
    val banded = Dedup.simhashPairs(d, maxHamming = h)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact reference: all pairs with bit_count(xor) <= h over collected hashes
    val hashes = d.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val exact = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= h
    } yield (ia, ib)).toSet
    assert(banded == exact, s"banded ${banded.size} vs exact ${exact.size}")
  }

  test("tfidf: analytic values on a 3-doc corpus") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c")).toDF("doc_id", "text")
    val out = TextStats.tfidf(d).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    def idf(df: Long) = math.log(4.0 / (df + 1)) + 1.0 // N = 3
    assert(out((1L, "a")) == ((2L, 2L, 2 * idf(2))))
    assert(out((1L, "b")) == ((1L, 1L, 1 * idf(1))))
    assert(out((2L, "c")) == ((1L, 2L, 1 * idf(2))))
    assert(out((3L, "c")) == ((3L, 2L, 3 * idf(2))))
    assert(out.size == 5)
  }

  test("tfidf: planted hot token (df ≈ N_docs) takes a partial-aggregated " +
      "df branch — no Window funnels the token through one task (r4 #2)") {
    import spark.implicits._
    // one stop token in EVERY doc — the Zipf head that made the r4
    // token-window a single-task funnel at corpus scale
    val n = 300
    val d = (1 to n).map(i => (i.toLong, s"the tok$i")).toDF("doc_id", "text")
    // plan-shape pin on the PRE-materialization plan (the public tfidf
    // returns a materialized frame whose plan is just a scan)
    val (tfPlan, nFrame) = TextStats.tfParts(d, "doc_id", "text")
    val plan = TextStats.tfidfOf(tfPlan, nFrame)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"df branch still uses a Window:\n$plan")
    assert(plan.contains("partial_count"),
      s"df branch is not map-side combined:\n$plan")
    // and the plan production ACTUALLY runs — tfidf feeds tfidfOf a
    // persisted tf, whose InMemoryRelation could in principle re-plan the
    // df branch differently from the unpersisted pin above
    val tfCached = tfPlan.persist()
    tfCached.count()
    val planCached = TextStats.tfidfOf(tfCached, nFrame)
      .queryExecution.executedPlan.toString
    assert(!planCached.contains("Window"),
      s"cached-tf df branch uses a Window:\n$planCached")
    assert(planCached.contains("partial_count"),
      s"cached-tf df branch is not map-side combined:\n$planCached")
    tfCached.unpersist()
    val out = TextStats.tfidf(d)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows((1L, "the")) == ((1L, n.toLong)))
    assert(rows((7L, "tok7")) == ((1L, 1L)))
    assert(rows.size == 2 * n)
    // eager contract: nothing but the result's own blocks stays pinned
    graft.runtime.Storage.release(out)
  }

  test("portable hash mode raises on non-ASCII text instead of silently " +
      "diverging from the DuckDB oracle family (ADVICE r4)") {
    import spark.implicits._
    val bad = Seq((1L, "café au lait"), (2L, "plain ascii")).toDF("doc_id", "text")
    // the gate the oracle queries (q_minhash_pairs, q_simhash_pairs) apply
    val e = intercept[Exception] {
      bad.select(graft.textops.PortableHash.assertAscii(col("text"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("ASCII")), s"unexpected error: $e")
    // ASCII text passes the gate unchanged
    assert(Seq("plain ascii").toDF("text")
      .select(graft.textops.PortableHash.assertAscii(col("text"))).as[String]
      .collect().toSeq == Seq("plain ascii"))
    // the operators themselves hash any text (UTF-8 bytes)
    assert(Dedup.simhashPairs(bad, maxHamming = 3).count() == 0)
    assert(Dedup.minhashLshPairs(bad, k = 3, numHashes = 128, bands = 16,
      threshold = 0.5).count() == 0)
  }

  test("token counting and ratios are consistent") {
    import spark.implicits._
    val d = Seq((1L, "Hello, world! 42 times."), (2L, "")).toDF("doc_id", "text")
    val r = TextStats.analyze(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(r(1L).getAs[Long]("n_tokens_ws") == 4L)
    assert(r(1L).getAs[Long]("n_tokens_re") == 7L) // Hello , world ! 42 times .
    assert(r(2L).getAs[Long]("n_chars") == 0L)
    assert(r(2L).getAs[Double]("punct_ratio") == 0.0)
  }

  test("langId votes stopwords correctly") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat sat on the mat and it is that for a reason"),
      (2L, "der hund und die katze ist nicht ein problem zu haben"),
      (3L, "le chat et la maison est une grande chose pour les gens"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextStats.langId(col("text")).as("l"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val f = d.select(col("doc_id"), TextStats.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) == f(3L) && f(1L) != f(2L))
  }

  test("native PolyFingerprint is bit-identical to the builtin-HOF " +
      "formulation (corpus + non-ASCII codepoints + empty)") {
    import spark.implicits._
    // the full sf0.001 corpus plus adversarial rows: empty text, BMP
    // non-ASCII (the HOF hashes per-codepoint via ascii(ch) — the native
    // loop must match, not hash UTF-8 bytes), astral plane (surrogate
    // pair = ONE codepoint both ways)
    val extra = Seq((100001L, ""), (100002L, "héllo wörld"),
      (100003L, "日本語 テスト"), (100004L, "a😀b mixed"))
      .toDF("doc_id", "text")
    val all = docs.select(col("doc_id"), col("text")).union(extra)
    val mism = all.select(
        (TextStats.fingerprint(col("text")) =!=
          TextStats.fingerprintHof(col("text"))).as("m"))
      .agg(sum(when(col("m"), 1).otherwise(0))).first().getLong(0)
    assert(mism == 0L, s"$mism fingerprint mismatches vs the HOF pin")
  }

  test("brute-force cosine top-k: self-similar clusters rank first") {
    val exact = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 5), 3)
    assert(exact.count() == 15)
    // cos in [-1, 1]
    val bad = exact.filter(col("cos") > 1.0001 || col("cos") < -1.0001).count()
    assert(bad == 0)
  }

  test("LSH top-k recall vs exact ≥ 0.5 at bits=4 tables=8") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = embs.filter(col("vec_id") < 20)
    val exact = pairs(Similarity.bruteForceTopK(embs, q, 3))
    val approx = pairs(Similarity.lshTopK(embs, q, 3, bits = 4, tables = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall")
  }

  test("IVF: spherical k-means recovers planted clusters; probed top-k " +
      "recalls ≥ 0.9 of exact; nProbe = k is exact") {
    import spark.implicits._
    // 6 well-separated cluster centers, 30 members each
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian() * 3))
    val rows = (0 until 180).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val vecs = rows.toDF("vec_id", "embedding").cache()
    val cents = graft.vec.IVF.trainCentroids(vecs, k = 6, iters = 8, seed = 1L)
    // every trained cell is used, and members of one planted cluster land
    // in one cell (cluster purity = quantizer recovered the structure)
    val cells = graft.vec.IVF.assignCells(vecs, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.values.toSet.size == 6, "trained cells collapsed")
    (0 until 6).foreach { m =>
      val members = (0 until 180).filter(_ % 6 == m).map(i => cells(i.toLong))
      assert(members.toSet.size == 1, s"planted cluster $m split across cells")
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = vecs.filter(col("vec_id") < 12)
    val exact = pairs(Similarity.bruteForceTopK(vecs, q, 5))
    val ivf2 = pairs(graft.vec.IVF.topK(vecs, q, cents, 5, nProbe = 2))
    val recall = (exact & ivf2).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall at nProbe=2")
    val ivfAll = pairs(graft.vec.IVF.topK(vecs, q, cents, 5, nProbe = 6))
    assert(ivfAll == exact, "nProbe = k must equal exact top-k")
    vecs.unpersist()
  }

  test("IVF trainer issues O(initRounds) Spark jobs, independent of k " +
      "(the r2 k-sequential-jobs scale-killer is gone)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 400).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextGaussian()).toFloat).toSeq)
    }
    val vecs = rows.toDF("vec_id", "embedding").cache()
    vecs.count()
    def jobsDuring(f: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
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
    // lloyd iters fixed; vary k 8 → 32: job count must NOT scale with k
    val j8 = jobsDuring { graft.vec.IVF.trainCentroids(vecs, k = 8, iters = 2).count() }
    val j32 = jobsDuring { graft.vec.IVF.trainCentroids(vecs, k = 32, iters = 2).count() }
    // the load-bearing assertion: 4× the cells, SAME job count (r2's greedy
    // init did k sequential jobs — k=32 would add ≥24 over k=8)
    assert(j32 <= j8 + 3, s"trainer jobs scale with k: k=8→$j8 jobs, k=32→$j32")
    // absolute sanity bound: AQE counts every query-stage materialization
    // as a job, so the constant is coarse — but O(k)=O(32 seeds × stages)
    // would blow far past it
    assert(j32 < 100, s"trainer issued $j32 jobs — not O(initRounds)")
    // the guard: k above the sample size fails loudly, not degenerately
    intercept[IllegalArgumentException] {
      graft.vec.IVF.trainCentroids(vecs, k = 500, iters = 1)
    }
    vecs.unpersist()
  }

  test("IVF trainer tolerates a duplicate-heavy corpus (k-means‖ candidate " +
      "padding — ADVICE r3: φ ≤ 0 after one round must not starve k)") {
    import spark.implicits._
    // 20 ids, ONE distinct vector: oversampling covers everything with a
    // single candidate immediately; padding must still deliver k centroids
    val vecs = (0L until 20L).map(i => (i, Array(1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val cents = graft.vec.IVF.trainCentroids(vecs, k = 4, iters = 2, seed = 3L)
    assert(cents.count() == 4L, "k centroids even when all vectors collide")
    // and assignment still works (everything lands in some cell)
    assert(graft.vec.IVF.assignCells(vecs, cents).count() == 20L)
  }
}

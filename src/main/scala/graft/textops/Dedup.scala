package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.runtime.Storage

/** Deduplication operators for a web-scale training corpus: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. All are shuffle-frugal
  * DataFrame plans: per-row signatures are pure expressions; candidate
  * generation joins only within hash buckets (never a cross join), which
  * is what survives a 100× scale-up — the all-pairs comparison is
  * restricted to LSH/band buckets whose expected size is O(1).
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact dedup by content hash: one row per distinct content with the
    * minimal id as the kept representative. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Ids to drop under exact dedup (everything but the min id per hash). */
  def exactDrops(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val h = md5(col(textCol).cast("binary"))
    docs.select(col(idCol), h.as("content_hash"))
      .join(exactGroups(docs, idCol, textCol), "content_hash")
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol).as("drop_id"), col("keep_id"))
  }

  // -------------------------------------------------------------- shingles

  /** Token k-shingles (distinct) of a text column. */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextStats.tokensWs(text)
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - k + 1),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  /** Exact pairwise n-gram Jaccard ≥ threshold, computed scalably:
    * explode distinct shingles, join on shingle (bounded by rarest-first
    * frequency cap), count common shingles per pair, Jaccard by
    * inclusion-exclusion. Only pairs sharing ≥1 shingle are ever
    * materialized; `maxShingleFreq` drops degenerate stop-shingles that
    * would quadratically blow up a bucket (dropped shingles can only
    * lower recall near the threshold — documented contract). The default
    * cap of 1000 is deliberately NOT unbounded: one stop-shingle shared by
    * f documents contributes f²/2 candidate pairs, so an uncapped join is
    * quadratic in corpus size at web scale; pass 0 explicitly to disable
    * for small trusted corpora. */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      maxShingleFreq: Int = 1000): DataFrame = Storage.scope { s =>
    // materialize the exploded shingle table ONCE: it feeds the size
    // aggregate, the frequency cap, and BOTH sides of the pair join —
    // left as a plan, the regexp-tokenize → shingle pipeline re-evaluates
    // ~4× (Catalyst inlines it into every consumer). The scope releases
    // it and the capped table after the pair join, or when it fails (the
    // documented quadratic-risk stage)
    val sh = graft.runtime.Trace.stage("ngram_shingles") {
      // spread a few-split corpus before the CPU-heavy shingle stage
      // (one small parquet file would serialize it on one core)
      s.local(graft.runtime.AdaptivePartitions.spread(docs)
        .select(col(idCol).as("id"),
          explode(shingles(col(textCol), k)).as("s")))
    }
    val filtered =
      if (maxShingleFreq <= 0) sh
      else {
        val freq = sh.groupBy("s").agg(count(lit(1)).as("f")).filter(col("f") <= maxShingleFreq)
        // the capped table also feeds both join sides — materialize it too
        graft.runtime.Trace.stage("ngram_freq_cap") {
          s.local(sh.join(freq.select("s"), "s"))
        }
      }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val a = filtered.select(col("id").as("ia"), col("s"))
    val b = filtered.select(col("id").as("ib"), col("s"))
    val common = a.join(b, Seq("s")).filter(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("common"))
    val out = common
      .join(sizes.select(col("id").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("id").as("ib"), col("n").as("nb")), "ib")
      .select(col("ia"), col("ib"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    graft.runtime.Trace.stage("ngram_pair_join")(s.keep(s.local(out)))
  }

  // --------------------------------------------------------------- minhash

  /** MinHash LSH near-dup pairs: signatures banded (bands × rowsPerBand =
    * numHashes); docs colliding on any band's hash become candidates;
    * candidates verified with exact shingle Jaccard ≥ threshold.
    * Collision probability at Jaccard j is 1-(1-j^r)^b — with the default
    * 16×8 a j=0.8 pair is caught w.p. ~0.986, j=0.5 w.p. ~0.06.
    * Signature (graft.functions.MinHashSignature, one native pass over
    * the materialized shingle column) and band hashes both come from the
    * [[PortableHash]] family. */
  def minhashLshPairs(docs: DataFrame, k: Int = 3, numHashes: Int = 128,
      bands: Int = 16, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = Storage.scope { s =>
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Materialize the shingle and band frames: the banded self-join plus
    // the verification joins would otherwise re-evaluate the
    // regexp-shingle → 128-hash pipeline ~5× (and Catalyst happily
    // inlines the shingle expression into every hash branch) — measured
    // as a 50×+ blowup. localCheckpoint = eager, plan+lineage truncated;
    // the scope releases both after the result is materialized, or when
    // a materialization fails.
    // spread a few-split corpus before the shingle + numHashes-signature
    // stage (the query's CPU hot spot — measured 4.8 s on one core from a
    // single-file scan vs ~0.3 s spread)
    val sh = s.local(graft.runtime.AdaptivePartitions.spread(docs)
      .select(col(idCol).as("id"), shingles(col(textCol), k).as("sh")))
    val banded = s.local(sh
      .select(col("id"),
        org.apache.spark.sql.graftvec.VectorExpressions
          .minhash(col("sh"), numHashes).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => PortableHash.polyCombine(slice(col("sig"), b * r + 1, lit(r)), b))))
      .select(col("id"), col("pos").as("band"), col("col").as("bh")))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("ia"), col("y.id").as("ib")).distinct()
    // verify candidates with exact Jaccard over shingle sets
    val verified = cand
      .join(sh.select(col("id").as("ia"), col("sh").as("sha")), "ia")
      .join(sh.select(col("id").as("ib"), col("sh").as("shb")), "ib")
      .select(col("ia"), col("ib"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    s.keep(s.local(verified)) // materialize the (small) result
  }

  // ------------------------------------------------------- dup clusters

  /** Transitive near-duplicate CLUSTERS: the standard corpus-dedup closure
    * step (near-dup similarity is not transitive, but keep-one-per-cluster
    * policies are applied to the transitive closure of the pair graph —
    * C4/Gopher-style pipelines). Takes any (ia, ib) near-dup pair frame
    * (n-gram Jaccard, MinHash, SimHash, embedding-cosine — they compose),
    * runs the ENGINE'S small-star/large-star ConnectedComponents over it,
    * and returns one row per document in a multi-doc cluster:
    * `(doc_id, cluster_id = min doc_id of the cluster, keep = doc_id ==
    * cluster_id)`. Documents in no pair are not listed (singleton clusters
    * are implicit) — drop `keep = false` rows to dedup.
    *
    * Scale shape: the pair graph is MUCH smaller than the corpus
    * (candidates were bucket-joined upstream), and CC is the engine's
    * log-round alternating-star algorithm — no driver-side union-find.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract. */
  def dupClusters(pairs: DataFrame): DataFrame = Storage.scope { s =>
    val cc = graft.runtime.Trace.stage("dedup_cc") {
      s.own(graft.algos.ConnectedComponents
        .run(pairs.select(col("ia").as("src"), col("ib").as("dst"))))
    }
    // fresh persisted projection (caller-owned, releasable via unpersist);
    // the CC result's own cache entry is released here — a lazy projection
    // over it would leave callers NO handle to that entry (the projection
    // is not sameResult with CC's cached plan, so unpersisting it is a
    // no-op and each call would pin a pair-graph-sized cache forever)
    s.result(cc
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep")))
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per bit position, sign of the
    * ±1 vote sum of token hashes. Returns a LONG.
    *
    * Native one-pass expression (graft.functions.SimHashSignature) in the
    * [[PortableHash]] family: four polynomial hashes per token
    * (multipliers 131/137/139/149 mod P), bit (16c + b) of the signature
    * votes with bit b of hash c — so the four 16-bit chunks the Hamming
    * banding uses are DIRECTLY the low-16-bit views DuckDB computes with
    * integer div/mod, no 64-bit wraparound anywhere on the oracle side.
    * The builtin-HOF formulation it replaced survives as the bit-identity
    * pin in TextOpsSpec. */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graftvec.VectorExpressions
      .simhash(TextStats.tokensWs(text))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidates
    * by the pigeonhole band trick, verified with bit_count(xor).
    *
    * Bucket-key selectivity is the scale story: candidates grow as
    * n²·(buckets per doc)/2^(key bits), so narrow keys are quadratic
    * death at corpus scale.
    *  - maxHamming ≤ 3 (the Manku et al. WWW'07 operating point): split
    *    into maxHamming+1 chunks of ≥16 bits — any pair within distance
    *    shares ≥1 exact chunk.
    *  - maxHamming > 3: single chunks would be < 16 bits wide, so band on
    *    CHUNK PAIRS instead — split into k = maxHamming+2 chunks; ≤
    *    maxHamming differing chunks leaves ≥2 equal, so every true pair
    *    shares an exact (i, j, vᵢ, vⱼ) pair-bucket with a 2·(64/k)-bit
    *    value key. C(k,2) buckets per doc.
    *
    * `maxHamming` is capped at 7: beyond it the pair-bucket value key
    * drops below 2·(64/9) = 14 bits and candidate volume grows toward
    * (and past) all-pairs — the quadratic regime this operator exists to
    * avoid. Distances that loose on a 64-bit signature separate nothing
    * anyway (Manku et al. operate at 3). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = Storage.scope { s =>
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming=$maxHamming out of range: must be in [0, 7] — larger " +
        "radii make the pair-bucket keys non-selective (quadratic candidate " +
        "volume at corpus scale) and are meaningless on a 64-bit simhash")
    // hash once, reused by both self-join sides and released after the
    // (small) result is materialized
    val withSh = s.local(graft.runtime.AdaptivePartitions.spread(docs)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sh")))
    // NOTE w = 64 (maxHamming = 0): 1L << 64 wraps to 1 in Java/Scala
    // (shifts are mod 64), so (1L << w) - 1 would be 0 — an all-zero
    // "mask" that put every doc in ONE bucket (all-pairs cross join).
    // Band on the full signature instead.
    def chunksOf(k: Int, w: Int): Column = {
      val mask = if (w == 64) -1L else (1L << w) - 1
      transform(sequence(lit(0), lit(k - 1)),
        c => call_function("shiftrightunsigned", col("sh"), (c * w).cast("int"))
          .bitwiseAND(mask))
    }
    val banded =
      if (maxHamming <= 3) {
        val k = maxHamming + 1
        val w = 64 / k // ≥ 16 bits
        withSh.select(col("id"), col("sh"), posexplode(chunksOf(k, w)))
          .select(col("id"), col("sh"), col("pos").as("b"), col("col").as("v"))
      } else {
        val k = maxHamming + 2
        val w = 64 / k
        val chunks = chunksOf(k, w)
        val combos = flatten(transform(sequence(lit(0), lit(k - 2)), i =>
          transform(sequence(i + 1, lit(k - 1)), j =>
            struct((i * k + j).as("b"),
              (element_at(chunks, (i + 1).cast("int")) * (1L << w) +
                element_at(chunks, (j + 1).cast("int"))).as("v")))))
        withSh.select(col("id"), col("sh"), explode(combos).as("e"))
          .select(col("id"), col("sh"), col("e.b").as("b"), col("e.v").as("v"))
      }
    // hamming is deterministic per (ia, ib), so the verify filter
    // commutes with distinct — filter FIRST so the dedup shuffle only
    // carries verified pairs, not every band collision
    val pairs = banded.alias("x").join(banded.alias("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("ia"), col("y.id").as("ib"),
        call_function("bit_count", col("x.sh").bitwiseXOR(col("y.sh"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    s.keep(s.local(pairs))
  }
}

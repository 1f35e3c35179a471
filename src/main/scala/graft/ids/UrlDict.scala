package graft.ids

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Catalyst-native url → vertex-id dictionary encoding.
  *
  * Primary encoding is `xxhash64(url)` (a single codegen'd expression —
  * no shuffle, no global state, stable across cluster sizes), per the
  * north-star's "Catalyst-native hashing/dictionary-encoding pass".
  *
  * Scale boundary, stated honestly (64-bit birthday bound n²/2^65):
  * at 10^9 urls ≈ 2.7e-2 expected collisions — the audit passes w.h.p.
  * and the hash path is the right default. Expected collisions cross 1
  * near ~6×10^9 distinct urls, and at the 10^12-document north-star
  * target ≈ 2.7e4 collisions are EXPECTED — the pure-hash encoding
  * CANNOT pass its own audit there. That is by design, not a bug:
  * `auditCollisions` (a cheap groupBy that MUST run before trusting an
  * encoded edge table) is the loud boundary enforcement, and past it the
  * collision-free path is [[denseDict]] (ids assigned by url rank —
  * no hashing in the final id), whose two-phase ranked build is sized
  * for exactly that regime. The audited universe must be EVERY url the
  * encoder hashes — page urls AND outlink targets (dangling targets
  * dominate a real crawl) — as `Pipeline` does.
  *
  * `denseDict` is also the optional compaction pass (ids 0..n-1 by url
  * order) for CSR-style adjacency where id density matters.
  */
object UrlDict {

  def idOf(url: Column): Column = xxhash64(url)

  /** Distinct (id, url) dictionary from any url column. */
  def dict(urls: DataFrame, urlCol: String = "url"): DataFrame =
    urls.select(col(urlCol).as("url")).distinct()
      .select(idOf(col("url")).as("id"), col("url"))

  /** Number of hash-colliding ids (distinct urls sharing an id). 0 expected. */
  def collisionCount(dict: DataFrame): Long =
    dict.groupBy("id").agg(countDistinct("url").as("n"))
      .filter(col("n") > 1).count()

  /** Fail loudly on any collision — run once per corpus build. */
  def auditCollisions(dict: DataFrame): Unit = {
    val c = collisionCount(dict)
    require(c == 0L, s"xxhash64 url-id collisions detected: $c ids affected")
  }

  /** Dense re-map: (id 0..n-1 by url sort order, url).
    *
    * Two-phase distributed rank — NOT `row_number` over an unpartitioned
    * window (which executes as one task holding the whole dictionary):
    * range-repartition by url, sort within partitions, take the local
    * index from `monotonically_increasing_id` (partition id in the high
    * bits), then add per-partition offsets (a driver-side cumsum over the
    * tiny partition-count table). The result is the global url rank and is
    * independent of where the sampled range boundaries land.
    * @note the returned frame is localCheckpoint-backed — release with
    *       `graft.runtime.Storage.release` when done (`Dataset.unpersist`
    *       cannot see a localCheckpoint's blocks). */
  def denseDict(urls: DataFrame, urlCol: String = "url",
      numPartitions: Int = 0): DataFrame = graft.runtime.Storage.scope { s =>
    val spark = urls.sparkSession
    val d = urls.select(col(urlCol).as("url")).distinct()
    val p = if (numPartitions > 0) numPartitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // counted once, ranked once — never recomputed
    val local = s.local(d.repartitionByRange(p, col("url"))
      .sortWithinPartitions("url")
      .select(col("url"), monotonically_increasing_id().as("mid"))
      .select(col("url"),
        shiftright(col("mid"), 33).as("pid"),
        col("mid").bitwiseAND((1L << 33) - 1).as("idx")))
    val counts = local.groupBy("pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    // cumulative start offset per partition id (driver-side: one row per
    // partition, never per url)
    val offsets = {
      var acc = 0L
      counts.map { case (pid, c) => val o = (pid, acc); acc += c; o }
    }
    val offsetDf = spark.createDataFrame(offsets.toSeq).toDF("pid", "off")
    // the caller owns the result's blocks
    val out = s.keep(s.local(local.join(broadcast(offsetDf), Seq("pid"))
      .select((col("off") + col("idx")).as("id"), col("url"))))
    s.release(local)
    out
  }
}

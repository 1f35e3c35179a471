package graft.runtime

import org.apache.spark.sql.SparkSession

/** The entry points' shared local-session factory — ONE copy of the
  * determinism-critical settings every driver main depends on (UTC
  * session time zone, hash-over-sort-merge join preference for the
  * iterative state joins, AQE, proportional shuffle partitions, a
  * codegen cache sized to graft's plan working set, pinned
  * ROOT locale so every f-interpolated JSON uses dot decimals). Six
  * hand-copied builder blocks drifted one setting at a time before this
  * existed; change session policy HERE.
  *
  * The iterative loops (PageRank static and tol, LPA, `Pregel.iterate`)
  * do not plan in this session: they run in its `graftplan.LoopSession`,
  * a clone with AQE off and shuffle partitions at the loop's partition
  * count, so a superstep is one job. The clone copies this session's
  * conf at each loop; this session's conf is never written. */
private[graft] object Sessions {

  /** Entries in Spark's cache of compiled generated code
    * (`spark.sql.codegen.cache.maxEntries`, default 100). This is reuse
    * of compiled classes across queries, not caching of any result: a
    * query whose generated source matches an earlier one skips Janino
    * and gets an already-JIT-compiled class.
    *
    * Sized from graft's measured working set (distinct code bodies
    * compiled with an unbounded cache, local[4]): one `Pipeline.run`
    * over a 1k-page crawl compiles 191; one pass of the `SparkEntry`
    * queries at sf0.01 compiles 719–735; both in one session compile 794;
    * a whole `graft.Bench` run at sf0.01 compiles 837.
    * Under the default 100 entries the pipeline's cyclic working set
    * misses the LRU on every lookup, so every warm run re-compiled about
    * 180 classes (about 2 s of Janino per run, and the JIT starting over
    * on the new classes); at this size a warm run compiles none.
    *
    * A static SQL conf: Spark sizes the cache once per JVM, from the
    * session that is active when the first code is generated, so this
    * only takes effect when [[local]] creates the JVM's first session. */
  private val CodegenCacheEntries = 1000

  def local(cpus: Int, shufflePartitions: Int, appName: String): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // iterative state joins: hash join (broadcast/shuffled), never
      // re-sort the big cached side every superstep
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // let AQE coalesce the output partitioning of plans that get cached:
      // the memoized graph/pair frames and every algorithm-internal persist
      // otherwise freeze at spark.sql.shuffle.partitions tiny partitions
      // (cached plans are exempt from coalescing by default), and every
      // downstream pass over them pays a partition-count task storm —
      // measured ~1.5 s per 128-task stage over a 30k-row cached frame at
      // local[32]. Scale-safe: AQE's advisory size governs, so big frames
      // keep full parallelism.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

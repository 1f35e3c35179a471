package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.graph.{Adjacency, EdgeOps}
import graft.runtime.Storage

/** The driver's correctness-gate queries (SparkEntry.queries) and their
  * DuckDB oracle SQL (SparkEntry.oracleSql), over the driver's TPC-H-ish
  * parquet testdata (TESTDATA.md).
  *
  * The testdata has no graph tables, so two deterministic graphs are
  * derived from key columns (SURVEY.md §5.6):
  *   - bipartite "order graph": customer —ordered-from→ supplier
  *     (src = o_custkey, dst = 1_000_000 + l_suppkey via orders ⋈ lineitem,
  *     distinct) — hub-skewed, one giant component; used for PageRank / CC
  *     / degrees / adjacency.
  *   - "ring graph": per-nation customer ring with +1 and +2 chords
  *     (window over c_custkey) — non-bipartite, triangle-rich; used for
  *     triangles / LPA / canonicalization.
  *
  * Oracle SQL is an INDEPENDENT re-implementation in DuckDB dialect
  * (iterative operators unrolled as CTE chains / recursive CTEs), so a bug
  * in the engine cannot cancel out in the oracle. Column names and types
  * are aligned on both sides (driver hashes values under sorted column
  * names; DuckDB sum(BIGINT) is HUGEINT → always CAST). Floating-point
  * columns are rounded on both sides (1e-6 class tolerance).
  */
object DriverQueries {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---------------------------------------------------------------- graphs

  /** The derived graphs and their prepared forms are inputs to 10+
    * queries; when the driver runs them back-to-back in one session,
    * re-deriving the same ≤1M-row edge table (or rebuilding the identical
    * adjacency blocks, "built once, iterated many times") per query and
    * per rerun is pure waste. Each is a [[Storage.memo]] per (session,
    * testdata dir) — bounded: a handful of |V|-sized cached structures.
    * A graph is memoized MATERIALIZED; a failed materialization is
    * released by its scope, since the memo records no entry for it. */
  private def memoized(kind: String, spark: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    Storage.memo(spark, kind, dir)(Storage.scope(_.result(build)))

  private def preparedGraph(kind: String, spark: SparkSession, dir: String)(
      edges: => DataFrame): graft.graph.PreparedGraph =
    Storage.memo(spark, s"${kind}_prepared", dir)(graft.graph.PreparedGraph(edges))

  private def preparedLpa(spark: SparkSession, dir: String)(
      edges: => DataFrame): graft.algos.LabelPropagation.Prepared =
    Storage.memo(spark, "lpa_prepared", dir)(graft.algos.LabelPropagation.prepare(edges))

  /** Bipartite order graph, distinct edges. */
  def orderGraph(spark: SparkSession, dir: String): DataFrame =
    memoized("order", spark, dir)(orderGraphPlan(spark, dir))

  private def orderGraphPlan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "orders").join(t(dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + 1000000L).as("dst"))
      .distinct()
  }

  private val orderGraphSql =
    """SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
      | CAST(l_suppkey + 1000000 AS BIGINT) AS dst
      | FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  /** Per-nation customer ring with +1/+2 chords, canonical (src < dst). */
  def ringGraph(spark: SparkSession, dir: String): DataFrame =
    memoized("ring", spark, dir)(ringGraphPlan(spark, dir))

  private def ringGraphPlan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    val r = t(dir, "customer").select(
      col("c_custkey").cast("long").as("k"), col("c_nationkey").as("n"),
      row_number().over(w).as("rn"),
      count(lit(1)).over(Window.partitionBy("c_nationkey")).as("cnt"))
    val r1 = r.select(col("k").as("k1"), col("n").as("n1"), col("rn").as("rn1"), col("cnt").as("cnt1"))
    val hop1 = r1.join(r, col("n") === col("n1") && col("rn") === pmod(col("rn1"), col("cnt1")) + 1)
      .select(col("k1").as("a"), col("k").as("b"))
    val hop2 = r1.join(r, col("n") === col("n1") && col("rn") === pmod(col("rn1") + 1, col("cnt1")) + 1)
      .select(col("k1").as("a"), col("k").as("b"))
    hop1.union(hop2).filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst"))
      .distinct()
  }

  private val ringGraphSql =
    """WITH rr AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_nationkey AS n,
      |   row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn,
      |   count(*) OVER (PARTITION BY c_nationkey) AS cnt FROM customer),
      | hops AS (
      |   SELECT r1.k AS a, r2.k AS b FROM rr r1 JOIN rr r2
      |     ON r1.n = r2.n AND r2.rn = (r1.rn % r1.cnt) + 1
      |   UNION ALL
      |   SELECT r1.k, r2.k FROM rr r1 JOIN rr r2
      |     ON r1.n = r2.n AND r2.rn = ((r1.rn + 1) % r1.cnt) + 1)
      | SELECT DISTINCT least(a, b) AS src, greatest(a, b) AS dst
      | FROM hops WHERE a <> b""".stripMargin

  // ------------------------------------------------------------- graph ops

  def qEdges(spark: SparkSession, dir: String): DataFrame =
    orderGraph(spark, dir)

  val qEdgesSql: String = orderGraphSql

  def qRingEdges(spark: SparkSession, dir: String): DataFrame =
    ringGraph(spark, dir)

  val qRingEdgesSql: String = ringGraphSql

  def qOutDegrees(spark: SparkSession, dir: String): DataFrame =
    EdgeOps.outDegrees(orderGraph(spark, dir))

  val qOutDegreesSql: String =
    s"""WITH edges AS ($orderGraphSql)
       | SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
       | FROM edges GROUP BY src""".stripMargin

  def qDegrees(spark: SparkSession, dir: String): DataFrame =
    EdgeOps.degrees(orderGraph(spark, dir))

  val qDegreesSql: String =
    s"""WITH edges AS ($orderGraphSql),
       | ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
       | SELECT id, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY id""".stripMargin

  /** CSR adjacency blocks, dst arrays rendered as comma-joined strings for
    * engine-portable comparison. */
  def qAdjacency(spark: SparkSession, dir: String): DataFrame =
    Adjacency.fromEdges(orderGraph(spark, dir))
      .select(col("src"), col("degree").cast("long").as("degree"),
        array_join(col("dsts"), ",").as("dsts"))

  val qAdjacencySql: String =
    s"""WITH edges AS ($orderGraphSql)
       | SELECT src, CAST(count(*) AS BIGINT) AS degree,
       |  string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS dsts
       | FROM edges GROUP BY src""".stripMargin

  // -------------------------------------------------------------- pagerank

  val PrIters = 10

  def qPageRank(spark: SparkSession, dir: String): DataFrame =
    PageRank.runPrepared(
        preparedGraph("order", spark, dir)(orderGraph(spark, dir)),
        PageRank.Config(numIter = PrIters))
      .select(col("id"), round(col("rank"), 6).as("rank"))

  /** Power iteration unrolled as a CTE chain — independent oracle. */
  def qPageRankSql: String = {
    val iters = (1 to PrIters).map { i =>
      s""" r$i AS (SELECT v.id,
         |  CAST(0.15 AS DOUBLE) + 0.85 * coalesce(s.m, 0) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.rank / d.n) AS m
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.id
         |    JOIN deg d ON e.src = d.src GROUP BY e.dst) s
         |  ON v.id = s.id)""".stripMargin
    }.mkString(",")
    s"""WITH edges AS ($orderGraphSql),
       | verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       | deg AS (SELECT src, count(*) AS n FROM edges GROUP BY src),
       | r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts),$iters
       | SELECT id, round(rank * (SELECT count(*) FROM verts)
       |   / (SELECT sum(rank) FROM r$PrIters), 6) AS rank FROM r$PrIters""".stripMargin
  }

  // ------------------------------------- parallel personalized pagerank

  val PprIters = 8
  val PprSources = Seq(1L, 2L)

  /** k personalized PageRanks at once, flattened to (id, pos, rank) for
    * engine-portable comparison. */
  def qPprPersonalized(spark: SparkSession, dir: String): DataFrame =
    PageRank.runParallelPersonalizedPrepared(
      preparedGraph("ring", spark, dir)(ringGraph(spark, dir)), PprSources,
      numIter = PprIters)
      .select(col("id"), posexplode(col("ranks")))
      .select(col("id"), col("pos"), round(col("col"), 6).as("rank"))

  def qPprPersonalizedSql: String = {
    val iters = (1 to PprIters).map { i =>
      s""" r$i AS (SELECT v.id, s.pos,
         |  0.15 * (CASE WHEN v.id = s.sid THEN 1.0 ELSE 0.0 END)
         |   + 0.85 * coalesce(m.msum, 0) AS rank
         |  FROM verts v CROSS JOIN srcs s LEFT JOIN (
         |    SELECT e.dst AS id, r.pos, sum(r.rank / d.n) AS msum
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.id
         |    JOIN deg d ON e.src = d.src GROUP BY e.dst, r.pos) m
         |  ON v.id = m.id AND s.pos = m.pos)""".stripMargin
    }.mkString(",")
    s"""WITH edges AS ($ringGraphSql),
       | verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       | deg AS (SELECT src, count(*) AS n FROM edges GROUP BY src),
       | srcs(pos, sid) AS (SELECT 0, ${PprSources.head} UNION ALL
       |   SELECT 1, ${PprSources(1)}),
       | r0 AS (SELECT v.id, s.pos,
       |   CASE WHEN v.id = s.sid THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS rank
       |   FROM verts v CROSS JOIN srcs s),$iters,
       | tot AS (SELECT pos, sum(rank) AS t FROM r$PprIters GROUP BY pos)
       | SELECT r.id, CAST(r.pos AS INT) AS pos,
       |  round(CASE WHEN t > 0 THEN r.rank / t ELSE r.rank END, 6) AS rank
       | FROM r$PprIters r JOIN tot USING (pos)""".stripMargin
  }

  // ------------------------------------------------------------ components

  def qConnectedComponents(spark: SparkSession, dir: String): DataFrame =
    ConnectedComponents.run(orderGraph(spark, dir))

  /** Min-reachable-id via recursive transitive closure — independent oracle
    * (exact same labels as small-star/large-star at convergence). */
  val qConnectedComponentsSql: String =
    s"""WITH RECURSIVE edges AS ($orderGraphSql),
       | verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       | sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       | reach(id, lbl) AS (
       |   SELECT id, id FROM verts
       |   UNION
       |   SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id)
       | SELECT id, CAST(min(lbl) AS BIGINT) AS component
       | FROM reach GROUP BY id""".stripMargin

  // ------------------------------------------------------------------- scc

  /** Directed graph with real cycles AND a large DAG fringe: per-nation
    * supplier successor cycles (+1 and +2 hops, ids shifted into the order
    * graph's supplier id space) union the bipartite order graph. SCCs =
    * one per nation ring (component = min supplier id in the ring + 1M);
    * every customer is a singleton the trim phase finalizes. */
  def sccGraph(spark: SparkSession, dir: String): DataFrame =
    memoized("scc", spark, dir)(sccGraphPlan(spark, dir))

  private def sccGraphPlan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("s_nationkey").orderBy("s_suppkey")
    val r = t(dir, "supplier").select(
      (col("s_suppkey").cast("long") + 1000000L).as("k"), col("s_nationkey").as("n"),
      row_number().over(w).as("rn"),
      count(lit(1)).over(Window.partitionBy("s_nationkey")).as("cnt"))
    val r1 = r.select(col("k").as("k1"), col("n").as("n1"), col("rn").as("rn1"), col("cnt").as("cnt1"))
    val hop1 = r1.join(r, col("n") === col("n1") && col("rn") === pmod(col("rn1"), col("cnt1")) + 1)
      .select(col("k1").as("src"), col("k").as("dst"))
    val hop2 = r1.join(r, col("n") === col("n1") && col("rn") === pmod(col("rn1") + 1, col("cnt1")) + 1)
      .select(col("k1").as("src"), col("k").as("dst"))
    hop1.union(hop2).union(orderGraphPlan(spark, dir))
      .filter(col("src") =!= col("dst")).distinct()
  }

  private val sccGraphSql =
    s"""SELECT DISTINCT src, dst FROM (
       |  WITH sr AS (SELECT CAST(s_suppkey + 1000000 AS BIGINT) AS k,
       |     s_nationkey AS n,
       |     row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS rn,
       |     count(*) OVER (PARTITION BY s_nationkey) AS cnt FROM supplier)
       |  SELECT r1.k AS src, r2.k AS dst FROM sr r1 JOIN sr r2
       |    ON r1.n = r2.n AND r2.rn = (r1.rn % r1.cnt) + 1
       |  UNION ALL
       |  SELECT r1.k, r2.k FROM sr r1 JOIN sr r2
       |    ON r1.n = r2.n AND r2.rn = ((r1.rn + 1) % r1.cnt) + 1
       |  UNION ALL
       |  $orderGraphSql
       |) WHERE src <> dst""".stripMargin

  def qScc(spark: SparkSession, dir: String): DataFrame =
    // the memoized scc graph is simple by construction (src<>dst filter +
    // distinct in the plan) — skip SCC's initial |E|-shuffle dedup
    graft.algos.StronglyConnectedComponents.run(sccGraph(spark, dir),
      graft.algos.StronglyConnectedComponents.Config(inputIsSimple = true))

  /** Independent oracle: full recursive transitive closure, then
    * component = min over mutually-reachable partners (and self). */
  val qSccSql: String =
    s"""WITH RECURSIVE edges AS ($sccGraphSql),
       | verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       | reach(a, b) AS (
       |   SELECT src, dst FROM edges
       |   UNION
       |   SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
       | mutual AS (SELECT r1.a AS id, r1.b AS o FROM reach r1
       |   JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a)
       | SELECT v.id, CAST(least(v.id, coalesce(min(m.o), v.id)) AS BIGINT)
       |   AS component
       | FROM verts v LEFT JOIN mutual m ON m.id = v.id GROUP BY v.id""".stripMargin

  // ----------------------------------------------------------------- svd++

  /** Bipartite customer→supplier rating edges (rating derived
    * deterministically from the line number; parallel edges = repeat
    * ratings, kept). */
  private def ratingEdges(spark: SparkSession, dir: String): DataFrame =
    memoized("rating", spark, dir)(ratingEdgesPlan(spark, dir))

  private def ratingEdgesPlan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "orders").join(t(dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + 1000000L).as("dst"),
        ((col("l_linenumber") % 5) + 1).cast("double").as("rating"))
  }

  private val ratingEdgesSql =
    """SELECT CAST(o_custkey AS BIGINT) AS src,
      | CAST(l_suppkey + 1000000 AS BIGINT) AS dst,
      | CAST((l_linenumber % 5) + 1 AS DOUBLE) AS rating
      | FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  /** Shared deterministic init factors; dot(v1, v2) mirrored into the SQL
    * as a literal. */
  private val SvdV1 = Array(0.1, 0.2)
  private val SvdV2 = Array(0.3, 0.4)

  /** SVD++ bias/norm/error plumbing under the driver's SQL oracle (the
    * maxIters=0 path: init + clamped-prediction error pass — the SGD
    * iteration algebra is pinned by the jar-differential and sequential-
    * replica ScalaTests, which no SQL engine can independently express). */
  def qSvdpp(spark: SparkSession, dir: String): DataFrame = Storage.scope { s =>
    val state = s.own(graft.algos.SVDPlusPlus.run(ratingEdges(spark, dir),
      graft.algos.SVDPlusPlus.Conf(rank = 2, maxIters = 0),
      initFactors = Some((SvdV1, SvdV2)))._1)
    // materialize the projection BEFORE the scope releases the state cache:
    // a lazy projection over an unpersisted state would re-run the final
    // error pass (the query's most expensive stage) on every caller
    // evaluation
    s.result(state.select(col("id"), round(col("bias"), 6).as("bias"),
      round(col("norm"), 6).as("norm")))
  }

  val qSvdppSql: String = {
    val dot = SvdV1.zip(SvdV2).map { case (a, b) => a * b }.sum
    s"""WITH redges AS ($ratingEdgesSql),
       | mu AS (SELECT avg(rating) AS u FROM redges),
       | inc AS (SELECT src AS id, rating FROM redges
       |   UNION ALL SELECT dst, rating FROM redges),
       | st AS (SELECT id, count(*) AS deg, avg(rating) AS ravg
       |   FROM inc GROUP BY id),
       | bias AS (SELECT id, ravg - (SELECT u FROM mu) AS b,
       |   1.0/sqrt(deg) AS nrm FROM st),
       | se AS (SELECT e.dst AS id,
       |   power(e.rating - least(greatest(
       |     (SELECT u FROM mu) + bs.b + bd.b + $dot, 0.0), 5.0), 2) AS s
       |   FROM redges e JOIN bias bs ON e.src = bs.id
       |   JOIN bias bd ON e.dst = bd.id),
       | errs AS (SELECT id, sum(s) AS es FROM se GROUP BY id)
       | SELECT b.id, round(b.b, 6) AS bias,
       |  round(coalesce(e.es, b.nrm), 6) AS norm
       | FROM bias b LEFT JOIN errs e ON b.id = e.id""".stripMargin
  }

  /** SVD++ ONE-ITERATION oracle (VERDICT r4 stretch #8): the full SGD
    * iteration algebra — phase-1 p̃ recompute, phase-2 per-edge error +
    * update/merge sums, final error pass over the UPDATED factors — was
    * pinned only by ScalaTest (jar differential / sequential replica);
    * this query unrolls one complete iteration at rank 2 with the shared
    * deterministic init as a DuckDB CTE chain, so the iteration math gains
    * an independent engine check beyond the maxIters=0 path. Output: both
    * factor slots component-wise + bias + norm (= Σ err² on items). */
  def qSvdppIter1(spark: SparkSession, dir: String): DataFrame = Storage.scope { s =>
    val state = s.own(graft.algos.SVDPlusPlus.run(ratingEdges(spark, dir),
      graft.algos.SVDPlusPlus.Conf(rank = 2, maxIters = 1),
      initFactors = Some((SvdV1, SvdV2)))._1)
    // materialized before the state release — see qSvdpp
    s.result(state.select(col("id"),
        round(element_at(col("factor"), 1), 6).as("f1"),
        round(element_at(col("factor"), 2), 6).as("f2"),
        round(element_at(col("factor2"), 1), 6).as("t1"),
        round(element_at(col("factor2"), 2), 6).as("t2"),
        round(col("bias"), 6).as("bias"),
        round(col("norm"), 6).as("norm")))
  }

  /** Independent rank-2 unroll of one SVD++ iteration. Conf defaults:
    * γ1 = γ2 = 0.007, γ6 = 0.005, γ7 = 0.015 (reference defaults); init
    * factor = (0.1, 0.2), factor2 = (0.3, 0.4) shared by every vertex.
    * The graph is bipartite with disjoint id ranges (customers < 1M ≤
    * suppliers), so src vertices are exactly the phase-1 senders. */
  val qSvdppIter1Sql: String = {
    val (p1, p2) = (SvdV1(0), SvdV1(1))
    val (y1, y2) = (SvdV2(0), SvdV2(1))
    val g2 = 0.007; val reg = 0.015 * 0.007 // γ2, γ7·γ2
    s"""WITH redges AS ($ratingEdgesSql),
       | mu AS (SELECT avg(rating) AS u FROM redges),
       | inc AS (SELECT src AS id, rating FROM redges
       |   UNION ALL SELECT dst, rating FROM redges),
       | st0 AS (SELECT id, count(*) AS deg, avg(rating) AS ravg
       |   FROM inc GROUP BY id),
       | init AS (SELECT id, ravg - (SELECT u FROM mu) AS b0,
       |   1.0/sqrt(deg) AS nrm FROM st0),
       | od AS (SELECT src AS id, count(*) AS n FROM redges GROUP BY src),
       | ph1 AS (SELECT i.id, $p1 AS p1, $p2 AS p2,
       |    CASE WHEN o.n IS NOT NULL THEN $p1 + i.nrm * o.n * $y1 ELSE $y1 END AS t1,
       |    CASE WHEN o.n IS NOT NULL THEN $p2 + i.nrm * o.n * $y2 ELSE $y2 END AS t2,
       |    i.b0, i.nrm
       |   FROM init i LEFT JOIN od o ON i.id = o.id),
       | ed AS (SELECT e.src, e.dst,
       |    su.t1 AS ut1, su.t2 AS ut2, su.b0 AS ub, su.nrm AS un,
       |    su.p1 AS up1, su.p2 AS up2,
       |    si.p1 AS iq1, si.p2 AS iq2, si.t1 AS iy1, si.t2 AS iy2, si.b0 AS ib,
       |    e.rating - least(greatest((SELECT u FROM mu) + su.b0 + si.b0
       |      + si.p1*su.t1 + si.p2*su.t2, 0.0), 5.0) AS err
       |   FROM redges e JOIN ph1 su ON e.src = su.id JOIN ph1 si ON e.dst = si.id),
       | msgs AS (
       |   SELECT src AS vid,
       |     err*iq1*$g2 - $reg*up1 AS a11, err*iq2*$g2 - $reg*up2 AS a12,
       |     err*un*iq1*$g2 - $reg*iy1 AS a21, err*un*iq2*$g2 - $reg*iy2 AS a22,
       |     (err - 0.005*ub)*0.007 AS b FROM ed
       |   UNION ALL
       |   SELECT dst,
       |     err*ut1*$g2 - $reg*iq1, err*ut2*$g2 - $reg*iq2,
       |     err*un*iq1*$g2 - $reg*iy1, err*un*iq2*$g2 - $reg*iy2,
       |     (err - 0.005*ib)*0.007 FROM ed),
       | upd AS (SELECT vid, sum(a11) AS s11, sum(a12) AS s12,
       |    sum(a21) AS s21, sum(a22) AS s22, sum(b) AS sb
       |   FROM msgs GROUP BY vid),
       | st2 AS (SELECT h.id,
       |    h.p1 + coalesce(u.s11, 0) AS f1, h.p2 + coalesce(u.s12, 0) AS f2,
       |    h.t1 + coalesce(u.s21, 0) AS g1, h.t2 + coalesce(u.s22, 0) AS g2,
       |    h.b0 + coalesce(u.sb, 0) AS b1, h.nrm
       |   FROM ph1 h LEFT JOIN upd u ON h.id = u.vid),
       | fin AS (SELECT e.dst AS vid,
       |    power(e.rating - least(greatest((SELECT u FROM mu) + su.b1 + si.b1
       |      + si.f1*su.g1 + si.f2*su.g2, 0.0), 5.0), 2) AS se
       |   FROM redges e JOIN st2 su ON e.src = su.id JOIN st2 si ON e.dst = si.id),
       | es AS (SELECT vid, sum(se) AS errsum FROM fin GROUP BY vid)
       | SELECT s.id, round(s.f1, 6) AS f1, round(s.f2, 6) AS f2,
       |  round(s.g1, 6) AS t1, round(s.g2, 6) AS t2,
       |  round(s.b1, 6) AS bias, round(coalesce(es.errsum, s.nrm), 6) AS norm
       | FROM st2 s LEFT JOIN es ON s.id = es.vid""".stripMargin
  }

  // ------------------------------------------------------------- triangles

  /** NOT memoized (unlike the graph/pair INPUT memos): memoizing a
    * query's own output would make its bench reruns time a cached-frame
    * scan and collapse the reported median — q_triangles and
    * q_triangles_total each run the pipeline fresh so their per-query
    * timings stay honest; a user wanting to share the work calls
    * `TriangleCount.run` once and derives the total themselves. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    TriangleCount.run(ringGraph(spark, dir))

  val qTrianglesSql: String =
    s"""WITH ce AS ($ringGraphSql),
       | verts AS (SELECT src AS id FROM ce UNION SELECT dst FROM ce),
       | tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |   FROM ce e1 JOIN ce e2 ON e2.src = e1.dst
       |   JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       | corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
       |   UNION ALL SELECT c FROM tri)
       | SELECT v.id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS triangles
       | FROM verts v LEFT JOIN
       |  (SELECT id, count(*) AS cnt FROM corners GROUP BY id) t
       | ON v.id = t.id""".stripMargin

  def qTrianglesTotal(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    Seq(TriangleCount.total(ringGraph(spark, dir))).toDF("total")
  }

  val qTrianglesTotalSql: String =
    s"""WITH ce AS ($ringGraphSql)
       | SELECT CAST(count(*) AS BIGINT) AS total
       | FROM ce e1 JOIN ce e2 ON e2.src = e1.dst
       | JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin

  // ------------------------------------------------------------ shortest paths

  /** High custkeys (exist at all sf) — ring edges orient low→high, so
    * low-id vertices have real multi-hop forward paths to these. */
  val SpLandmarks = Seq(147L, 148L, 149L)

  /** Runs on the generic Pregel combinator (the reference's own map-attr
    * formulation; `ShortestPaths.run`) — differentially pinned equal to
    * the GraphX jar in ShortestPathsSpec. */
  def qShortestPaths(spark: SparkSession, dir: String): DataFrame =
    graft.algos.ShortestPaths.runPrepared(
      preparedGraph("ring", spark, dir)(ringGraph(spark, dir)), SpLandmarks)

  /** BFS min-hops as bounded recursive closure (cap 50 ≫ diameter). */
  val qShortestPathsSql: String =
    s"""WITH RECURSIVE edges AS ($ringGraphSql),
       | verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       | reach(id, lm, d) AS (
       |   SELECT id, id, 0 FROM verts WHERE id IN (${SpLandmarks.mkString(",")})
       |   UNION
       |   SELECT e.src, r.lm, r.d + 1 FROM reach r
       |   JOIN edges e ON e.dst = r.id WHERE r.d < 50)
       | SELECT id, CAST(lm AS BIGINT) AS landmark,
       |  CAST(min(d) AS INTEGER) AS distance
       | FROM reach GROUP BY id, lm""".stripMargin

  // ------------------------------------------------------------------- lpa

  val LpaSteps = 2

  def qLabelPropagation(spark: SparkSession, dir: String): DataFrame =
    LabelPropagation.runPrepared(
      preparedLpa(spark, dir)(ringGraph(spark, dir)),
      LabelPropagation.Config(maxSteps = LpaSteps))

  /** Synchronous LPA unrolled `LpaSteps` supersteps; argmax count with
    * smallest-label tie-break via row_number window. */
  def qLabelPropagationSql: String = {
    val steps = (1 to LpaSteps).map { i =>
      s""" m$i AS (SELECT e.dst AS vid, l.label FROM edges e JOIN l${i - 1} l ON e.src = l.id
         |   UNION ALL
         |   SELECT e.src, l.label FROM edges e JOIN l${i - 1} l ON e.dst = l.id),
         | c$i AS (SELECT vid, label, count(*) AS cnt FROM m$i GROUP BY vid, label),
         | p$i AS (SELECT vid, label, row_number() OVER
         |    (PARTITION BY vid ORDER BY cnt DESC, label ASC) AS rk FROM c$i),
         | l$i AS (SELECT v.id, coalesce(p.label, v.label) AS label
         |   FROM l${i - 1} v LEFT JOIN (SELECT vid, label FROM p$i WHERE rk = 1) p
         |   ON v.id = p.vid)""".stripMargin
    }.mkString(",")
    s"""WITH edges AS ($ringGraphSql),
       | verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       | l0 AS (SELECT id, id AS label FROM verts),$steps
       | SELECT id, CAST(label AS BIGINT) AS label FROM l$LpaSteps""".stripMargin
  }
}

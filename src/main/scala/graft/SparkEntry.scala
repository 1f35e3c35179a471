package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Query contract — see SURVEY.md §7.
  *
  * Each `queries` entry is one implemented operator (SURVEY.md §2) run over
  * the driver's parquet testdata; `oracleSql` holds an INDEPENDENT DuckDB
  * re-implementation for the correctness gate (`graft.Verify`). */
object SparkEntry {

  /** Flagship: PageRank over the order graph derived from sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    DriverQueries.qPageRank(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // link-graph engine (SURVEY.md §2)
    "q_edges" -> (DriverQueries.qEdges _),
    "q_ring_edges" -> (DriverQueries.qRingEdges _),
    "q_out_degrees" -> (DriverQueries.qOutDegrees _),
    "q_degrees" -> (DriverQueries.qDegrees _),
    "q_adjacency" -> (DriverQueries.qAdjacency _),
    "q_pagerank" -> (DriverQueries.qPageRank _),
    "q_ppr_personalized" -> (DriverQueries.qPprPersonalized _),
    "q_connected_components" -> (DriverQueries.qConnectedComponents _),
    "q_scc" -> (DriverQueries.qScc _),
    "q_svdpp" -> (DriverQueries.qSvdpp _),
    "q_svdpp_iter1" -> (DriverQueries.qSvdppIter1 _),
    "q_triangles" -> (DriverQueries.qTriangles _),
    "q_triangles_total" -> (DriverQueries.qTrianglesTotal _),
    "q_label_propagation" -> (DriverQueries.qLabelPropagation _),
    "q_shortest_paths" -> (DriverQueries.qShortestPaths _),
    // training-data pipeline ops
    "q_dedup_exact" -> (DocQueries.qDedupExact _),
    "q_dedup_clusters" -> (DocQueries.qDedupClusters _),
    "q_doc_stats" -> (DocQueries.qDocStats _),
    "q_text_quality" -> (DocQueries.qTextQuality _),
    "q_ngram_dupes" -> (DocQueries.qNgramDupes _),
    "q_emb_norms" -> (DocQueries.qEmbNorms _),
    "q_cosine_topk" -> (DocQueries.qCosineTopK _),
    "q_emb_dupes" -> (DocQueries.qEmbDupes _),
    "q_ivf_topk" -> (DocQueries.qIvfTopK _),
    "q_text_analysis" -> (DocQueries.qLangId _),
    "q_tfidf" -> (DocQueries.qTfidf _),
    "q_event_windows" -> (DocQueries.qEventWindows _),
    // hash-native queries: the arithmetic hash family has a DuckDB twin
    "q_minhash_pairs" -> (DocQueries.qMinhashPairs _),
    "q_simhash_pairs" -> (DocQueries.qSimhashPairs _),
    "q_lsh_topk" -> (DocQueries.qLshTopK _)
  )

  def oracleSql: Map[String, String] = Map(
    "q_edges" -> DriverQueries.qEdgesSql,
    "q_ring_edges" -> DriverQueries.qRingEdgesSql,
    "q_out_degrees" -> DriverQueries.qOutDegreesSql,
    "q_degrees" -> DriverQueries.qDegreesSql,
    "q_adjacency" -> DriverQueries.qAdjacencySql,
    "q_pagerank" -> DriverQueries.qPageRankSql,
    "q_ppr_personalized" -> DriverQueries.qPprPersonalizedSql,
    "q_connected_components" -> DriverQueries.qConnectedComponentsSql,
    "q_scc" -> DriverQueries.qSccSql,
    "q_svdpp" -> DriverQueries.qSvdppSql,
    // one full SGD iteration unrolled as a rank-2 DuckDB CTE chain (r4
    // stretch #8): the iteration algebra gains an engine-independent check
    "q_svdpp_iter1" -> DriverQueries.qSvdppIter1Sql,
    "q_triangles" -> DriverQueries.qTrianglesSql,
    "q_triangles_total" -> DriverQueries.qTrianglesTotalSql,
    "q_label_propagation" -> DriverQueries.qLabelPropagationSql,
    "q_shortest_paths" -> DriverQueries.qShortestPathsSql,
    "q_dedup_exact" -> DocQueries.qDedupExactSql,
    "q_dedup_clusters" -> DocQueries.qDedupClustersSql,
    "q_doc_stats" -> DocQueries.qDocStatsSql,
    "q_text_quality" -> DocQueries.qTextQualitySql,
    "q_ngram_dupes" -> DocQueries.qNgramDupesSql,
    "q_emb_norms" -> DocQueries.qEmbNormsSql,
    "q_cosine_topk" -> DocQueries.qCosineTopKSql,
    "q_emb_dupes" -> DocQueries.qEmbDupesSql,
    "q_ivf_topk" -> DocQueries.qIvfTopKSql,
    // full oracle since r3: portable character-polynomial fingerprint
    "q_text_analysis" -> DocQueries.qTextAnalysisSql,
    "q_tfidf" -> DocQueries.qTfidfSql,
    "q_event_windows" -> DocQueries.qEventWindowsSql,
    // the hash-native queries run the arithmetic hash family
    // (graft.textops.PortableHash) — DuckDB reproduces signatures,
    // banding and candidates exactly
    "q_minhash_pairs" -> DocQueries.qMinhashPairsSql,
    "q_simhash_pairs" -> DocQueries.qSimhashPairsSql,
    "q_lsh_topk" -> DocQueries.qLshTopKSql
  )
}

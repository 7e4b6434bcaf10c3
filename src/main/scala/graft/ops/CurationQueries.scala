package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.functions.VecMath.cosSql

/** Gate bindings + DuckDB oracles for the round-9 third-pass operators:
  * corpus admission caps (per-domain cap, canonical-URL dedup), BM25
  * top-k retrieval, the scale-join family (bucketed interval join,
  * salted skew join), and SemDeDup cluster-local embedding dedup.
  *
  * Reference scope note (SURVEY.md §2): the reference connector
  * (`dis-spark-streaming/.../dis/`) implements none of these — they are
  * the LLM-pipeline/scale surface this engine adds on top of reference
  * parity, following the same query+oracle contract as every other
  * gate entry.
  */
object CurationQueries {

  // ----- per-domain document cap -----

  /** ≤10 docs per source (20 sources × 25 docs at sf0.01 → the cap
    * genuinely filters), smallest doc_id kept. */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame =
    Graft.domainCap(Tables.documents(spark, dir), "source", "doc_id", 10)
      .select(col("doc_id"), col("source"), col("rank"))

  val domainCapOracle: String =
    """SELECT doc_id, source, rank FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id)::BIGINT AS rank
      |  FROM documents)
      |WHERE rank <= 10""".stripMargin

  // ----- canonical-URL dedup -----

  /** Deterministic messy-URL synthesis with SMALL moduli so canonical
    * collisions actually occur (lcm(7,3,5,2) = 210 < 500 ids → every
    * canonical class has 2-3 members): mixed case, userinfo, default
    * (:443, dropped) and non-default (:8443, kept) ports, tracking
    * params, unsorted query, fragment, malformed row every 11 ids. */
  private def messyUrl = when(col("doc_id") % 11 === 0, lit("not a url"))
    .otherwise(concat(
      lit("HTTPS://u:p@Site"), col("doc_id") % 7, lit(".COM"),
      when(col("doc_id") % 3 === 0, ":443")
        .when(col("doc_id") % 3 === 1, ":8443").otherwise(""),
      lit("/p/"), col("doc_id") % 5,
      when(col("doc_id") % 2 === 0, "?utm_source=x&b=2&a=1#f")
        .otherwise("?z=9&a=0")))

  def qUrlDedup(spark: SparkSession, dir: String): DataFrame =
    Graft.urlDedup(
      Tables.documents(spark, dir).select(col("doc_id"), messyUrl.as("url")),
      "doc_id", "url")

  /** Closed-form canonical URL of the synthesis (:443 merges with the
    * no-port class — two raw forms, one canonical key) + the keep-first
    * rule; malformed rows are all kept. */
  val urlDedupOracle: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN ''
      |         ELSE 'https://site' || (doc_id % 7) || '.com'
      |           || CASE WHEN doc_id % 3 = 1 THEN ':8443' ELSE '' END
      |           || '/p/' || (doc_id % 5)
      |           || CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2' ELSE '?a=0&z=9' END
      |    END AS norm_url
      |  FROM documents)
      |SELECT doc_id, norm_url,
      |  (norm_url = '' OR doc_id = min(doc_id) OVER (PARTITION BY norm_url)) AS kept
      |FROM n""".stripMargin

  // ----- BM25 top-k retrieval -----

  /** Top-25 documents for a three-term query over the corpus (terms
    * chosen among the fixture's most frequent so every document family
    * can score). */
  def qBm25Search(spark: SparkSession, dir: String): DataFrame =
    Graft.bm25Search(Tables.documents(spark, dir), "doc_id", "text",
      Seq("join", "hash", "vector"), 25)

  /** Term scores quantized to integer micros (floor(x*1e6 + 0.5)),
    * summed as BIGINTs, cut to 4 decimals by integer arithmetic —
    * byte-for-byte the engine's pipeline, so no float-sum order or
    * cross-engine round() tie can split the comparison (the previous
    * sum-then-round-4 form diverged by exactly 1e-4 at sf1). Every
    * scalar is ::DOUBLE so DuckDB's decimal literal path never runs. */
  val bm25SearchOracle: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), corpus AS (
      |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS dlsum FROM dl
      |), scored AS (
      |  SELECT tf.doc_id, sum(floor((
      |    ln(1.0::DOUBLE + ((corpus.n - dfreq.df)::DOUBLE + 0.5::DOUBLE)
      |                     / (dfreq.df::DOUBLE + 0.5::DOUBLE))
      |      * (tf.tf::DOUBLE * (1.2::DOUBLE + 1.0::DOUBLE))
      |      / (tf.tf::DOUBLE + 1.2::DOUBLE *
      |         (0.25::DOUBLE + 0.75::DOUBLE * dl.dl::DOUBLE
      |            / (corpus.dlsum::DOUBLE / corpus.n::DOUBLE)))
      |    ) * 1000000.0::DOUBLE + 0.5::DOUBLE)::BIGINT)::BIGINT AS sl
      |  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id, corpus
      |  WHERE tf.term IN ('join', 'hash', 'vector')
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, ((sl + 50) // 100)::DOUBLE / 10000.0::DOUBLE AS score,
      |  row_number() OVER (ORDER BY (sl + 50) // 100 DESC, doc_id ASC)::BIGINT AS rank
      |FROM scored ORDER BY (sl + 50) // 100 DESC, doc_id ASC LIMIT 25""".stripMargin

  // ----- chunk-level retrieval (the RAG retrieve shape) -----

  /** [[Graft.bm25Search]] composed over [[Graft.chunkWindows]] output:
    * retrieval at CHUNK granularity (top-25 chunks for the same
    * three-term query as q_bm25_search), the index shape a RAG
    * pipeline serves. chunk_id = doc_id·1000 + chunk_no (chunk counts
    * stay ≪ 1000 at every fixture scale; ids stay well under 2⁶³ at
    * the amplified 10⁹-stride domains). */
  def qChunkSearch(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Graft.chunkWindows(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", 20, 10)
      .select((col("doc_id") * 1000 + col("chunk_no")).as("chunk_id"),
        col("chunk_text"))
    Graft.bm25Search(chunks, "chunk_id", "chunk_text",
      Seq("join", "hash", "vector"), 25)
  }

  /** The chunk synthesis ([[TextQueries.chunkWindowsOracle]]'s CTE)
    * feeding the [[bm25SearchOracle]] integer-micros arithmetic. */
  val chunkSearchOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, ts, 1 + (greatest(len(ts) - 20, 0) + 9) // 10 AS nch
      |  FROM toks WHERE len(ts) > 0
      |), p AS (
      |  SELECT doc_id, ts, unnest(range(0, nch)) AS s FROM c
      |), chunks AS (
      |  SELECT doc_id * 1000 + s AS chunk_id,
      |    ts[(s*10+1)::INT:(s*10+20)::INT] AS ct
      |  FROM p
      |), terms AS (
      |  SELECT chunk_id, unnest(ct) AS term FROM chunks
      |), tf AS (
      |  SELECT chunk_id, term, count(*) AS tf FROM terms GROUP BY chunk_id, term
      |), dl AS (
      |  SELECT chunk_id, count(*) AS dl FROM terms GROUP BY chunk_id
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), corpus AS (
      |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS dlsum FROM dl
      |), scored AS (
      |  SELECT tf.chunk_id, sum(floor((
      |    ln(1.0::DOUBLE + ((corpus.n - dfreq.df)::DOUBLE + 0.5::DOUBLE)
      |                     / (dfreq.df::DOUBLE + 0.5::DOUBLE))
      |      * (tf.tf::DOUBLE * (1.2::DOUBLE + 1.0::DOUBLE))
      |      / (tf.tf::DOUBLE + 1.2::DOUBLE *
      |         (0.25::DOUBLE + 0.75::DOUBLE * dl.dl::DOUBLE
      |            / (corpus.dlsum::DOUBLE / corpus.n::DOUBLE)))
      |    ) * 1000000.0::DOUBLE + 0.5::DOUBLE)::BIGINT)::BIGINT AS sl
      |  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.chunk_id = tf.chunk_id, corpus
      |  WHERE tf.term IN ('join', 'hash', 'vector')
      |  GROUP BY tf.chunk_id)
      |SELECT chunk_id, ((sl + 50) // 100)::DOUBLE / 10000.0::DOUBLE AS score,
      |  row_number() OVER (ORDER BY (sl + 50) // 100 DESC, chunk_id ASC)::BIGINT AS rank
      |FROM scored ORDER BY (sl + 50) // 100 DESC, chunk_id ASC LIMIT 25""".stripMargin

  // ----- hybrid retrieval (lexical + semantic rank fusion) -----

  /** [[Graft.rrfFuse]] over a BM25 top-50 (documents, the
    * q_bm25_search terms) and a cosine-kNN top-50 (embeddings, query
    * vector = vec_id 0) — the fixture's vec_id and doc_id share the
    * id domain, so the two lists fuse on the same key: the hybrid
    * search every retrieval stack runs. Top-20 fused. */
  def qHybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val lex = Graft.bm25Search(Tables.documents(spark, dir), "doc_id", "text",
      Seq("join", "hash", "vector"), 50).select(col("doc_id"), col("rank"))
    val emb = Tables.embeddings(spark, dir)
    val sem = Graft.knn(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", 50)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Graft.rrfFuse(Seq(lex, sem), "doc_id", "rank", 60, 20)
  }

  /** The two sub-oracles (bm25SearchOracle arithmetic cut at 50, the
    * knnOracle scoring for the single query) full-outer joined with the
    * micro-quantized RRF sum, ranks tie-broken on the id. */
  val hybridSearchOracle: String =
    s"""WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), corpus AS (
      |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS dlsum FROM dl
      |), scored AS (
      |  SELECT tf.doc_id, sum(floor((
      |    ln(1.0::DOUBLE + ((corpus.n - dfreq.df)::DOUBLE + 0.5::DOUBLE)
      |                     / (dfreq.df::DOUBLE + 0.5::DOUBLE))
      |      * (tf.tf::DOUBLE * (1.2::DOUBLE + 1.0::DOUBLE))
      |      / (tf.tf::DOUBLE + 1.2::DOUBLE *
      |         (0.25::DOUBLE + 0.75::DOUBLE * dl.dl::DOUBLE
      |            / (corpus.dlsum::DOUBLE / corpus.n::DOUBLE)))
      |    ) * 1000000.0::DOUBLE + 0.5::DOUBLE)::BIGINT)::BIGINT AS sl
      |  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id, corpus
      |  WHERE tf.term IN ('join', 'hash', 'vector')
      |  GROUP BY tf.doc_id
      |), lex AS (
      |  SELECT doc_id, r0 FROM (
      |    SELECT doc_id, row_number() OVER (
      |      ORDER BY (sl + 50) // 100 DESC, doc_id ASC)::BIGINT AS r0
      |    FROM scored)
      |  WHERE r0 <= 50
      |), sem AS (
      |  SELECT doc_id, r1 FROM (
      |    SELECT e.vec_id AS doc_id, row_number() OVER (ORDER BY
      |      ${cosSql("q.qv", "e.embedding")} DESC, e.vec_id ASC)::BIGINT AS r1
      |    FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
      |    WHERE e.vec_id <> 0)
      |  WHERE r1 <= 50
      |), fused AS (
      |  SELECT doc_id,
      |    floor((coalesce(1.0::DOUBLE / (60.0::DOUBLE + r0::DOUBLE), 0.0::DOUBLE)
      |         + coalesce(1.0::DOUBLE / (60.0::DOUBLE + r1::DOUBLE), 0.0::DOUBLE))
      |      * 1000000.0::DOUBLE + 0.5::DOUBLE) / 1000000.0::DOUBLE AS rrf
      |  FROM lex FULL JOIN sem USING (doc_id)
      |)
      |SELECT doc_id, rrf,
      |  row_number() OVER (ORDER BY rrf DESC, doc_id ASC)::BIGINT AS rank
      |FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin

  // ----- bucketed interval join -----

  /** 25 deterministic 18-hour "campaign" intervals striding 12 hours
    * from the corpus's first event (consecutive intervals overlap 6 h,
    * so boundary events match twice), joined to events through the
    * 6-hour-bucket equi-join — the plan Spark would otherwise make a
    * BroadcastNestedLoopJoin. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("ts"))
    val t0 = ev.agg(min(col("ts")).as("__t0"))
    val iv = Tables.nation(spark, dir)
      .crossJoin(broadcast(t0))
      .select(
        col("n_nationkey").cast("long").as("iv_id"),
        timestamp_micros(unix_micros(col("__t0"))
          + col("n_nationkey").cast("long") * lit(12L * 3600L * 1000000L)).as("iv_start"),
        timestamp_micros(unix_micros(col("__t0"))
          + col("n_nationkey").cast("long") * lit(12L * 3600L * 1000000L)
          + lit(18L * 3600L * 1000000L)).as("iv_end"))
    Graft.rangeJoin(ev, "ts", iv, "iv_start", "iv_end", 6L * 3600L)
      .select(col("event_id"), col("iv_id"))
  }

  val rangeJoinOracle: String =
    """WITH t0 AS (SELECT min(ts) AS t0 FROM events),
      |iv AS (
      |  SELECT n_nationkey::BIGINT AS iv_id,
      |    t0 + (n_nationkey * 12) * INTERVAL '1 hour' AS iv_start,
      |    t0 + (n_nationkey * 12) * INTERVAL '1 hour' + INTERVAL '18 hours' AS iv_end
      |  FROM nation, t0)
      |SELECT e.event_id, iv.iv_id
      |FROM events e JOIN iv ON e.ts >= iv.iv_start AND e.ts <= iv.iv_end""".stripMargin

  // ----- salted skew join -----

  /** Events joined to per-user order statistics through the salted
    * (key, salt) join — result identical to the plain equi-join the
    * oracle runs. */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("user_id"))
    val stats = Tables.orders(spark, dir)
      .select(col("o_custkey").as("user_id"), col("o_totalprice"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("user_spend"))
    Graft.skewJoin(ev, stats, "user_id", "event_id", 8)
      .select(col("event_id"), col("user_id"), col("n_orders"), col("user_spend"))
  }

  val skewJoinOracle: String =
    """WITH s AS (
      |  SELECT o_custkey AS user_id, count(*) AS n_orders,
      |    round(sum(o_totalprice), 4) AS user_spend
      |  FROM orders GROUP BY 1)
      |SELECT event_id, e.user_id, n_orders, user_spend
      |FROM events e JOIN s USING (user_id)""".stripMargin

  // ----- SemDeDup -----

  /** Cluster-local embedding dedup at cosine ≥ 0.45 (the
    * q_embed_neardup threshold, so the two operators' keep decisions
    * are directly comparable on the fixture). Round 13 moved the gate
    * binding to [[Ivf.strideIndex]] centroids, so the kept set itself
    * replays under the full DuckDB hash oracle (home cell by raw cos
    * desc / cell asc, within-cell round(cos,12) witness at ≥ tau, drop
    * the higher id) — the same no-oracle-list shrink as q_similarity_ivf;
    * CurationSpec keeps the witness/determinism properties and the
    * subset relation vs the complete [[Graft.embedNearDup]], plus a
    * trained-path (k-means) determinism check. */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Graft.semDedup(emb, "vec_id", "embedding", 0.45,
      Ivf.strideIndex(emb, "vec_id", "embedding").centroids)
  }

  /** The [[RlQueries.ivfAsgCte]] home-cell replay (r = 1) + the
    * within-cell pairwise witness on round(cos, 12) — the kNN paths'
    * tie-proofing, so the ≥ tau boundary stays matched even if a
    * future DuckDB vectorizes/reassociates list_sum (an unrounded
    * boundary is bit-identical only while both engines reduce
    * identical doubles in identical order). */
  val semDedupOracle: String =
    s"""${RlQueries.ivfAsgCte}, home AS (
      |  SELECT vec_id, embedding, cell FROM asg WHERE r = 1
      |), dropped AS (
      |  SELECT DISTINCT b.vec_id FROM home a JOIN home b USING (cell)
      |  WHERE a.vec_id < b.vec_id
      |    AND ${cosSql("a.embedding", "b.embedding")} >= (0.45)::DOUBLE
      |)
      |SELECT vec_id, cell::INT AS cell FROM home
      |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  // ----- soft deduplication weights -----

  /** Per-doc sampling weight discounting 3-gram commonness
    * ([[Graft.softDedupWeights]]): duplicated/templated docs weigh
    * toward 1/copies, pristine-unique docs stay at 1.0. */
  def qSoftDedup(spark: SparkSession, dir: String): DataFrame =
    Graft.softDedupWeights(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", 3)

  val softDedupOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(ts) - 2, 0)),
      |    i -> array_to_string(ts[(i+1)::INT:(i+3)::INT], ' ')))) AS g
      |  FROM toks
      |), dfreq AS (
      |  SELECT g, count(*)::BIGINT AS df FROM g GROUP BY g
      |), per AS (
      |  SELECT doc_id, count(*)::BIGINT AS ng, sum(df)::BIGINT AS sumdf
      |  FROM g JOIN dfreq USING (g) GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(p.ng, 0)::BIGINT AS n_grams,
      |  coalesce(floor((p.sumdf::DOUBLE / p.ng::DOUBLE) * 1e4 + 0.5::DOUBLE)
      |    / 1e4, 1.0::DOUBLE) AS commonness,
      |  coalesce(floor((p.ng::DOUBLE / p.sumdf::DOUBLE) * 1e4 + 0.5::DOUBLE)
      |    / 1e4, 1.0::DOUBLE) AS weight
      |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin

  // ----- n-gram novelty -----

  /** Fraction of each doc's distinct 3-grams found nowhere else in the
    * corpus ([[Graft.ngramNovelty]]) — the keep-at-any-cost lens. */
  def qNovelty(spark: SparkSession, dir: String): DataFrame =
    Graft.ngramNovelty(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", 3)

  val noveltyOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(ts) - 2, 0)),
      |    i -> array_to_string(ts[(i+1)::INT:(i+3)::INT], ' ')))) AS g
      |  FROM toks
      |), dfreq AS (
      |  SELECT g, count(*)::BIGINT AS df FROM g GROUP BY g
      |), per AS (
      |  SELECT doc_id, count(*)::BIGINT AS ng,
      |    sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS nov
      |  FROM g JOIN dfreq USING (g) GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(p.ng, 0)::BIGINT AS n_grams,
      |  coalesce(p.nov, 0)::BIGINT AS novel_grams,
      |  coalesce(floor((p.nov::DOUBLE / p.ng::DOUBLE) * 1e4 + 0.5::DOUBLE)
      |    / 1e4, 0.0::DOUBLE) AS novelty
      |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin

  // ----- out-of-vocabulary rate -----

  /** Per-doc fraction of token occurrences outside the corpus's
    * top-100 vocabulary ([[Graft.oovRate]]) — the tokenizer-fit /
    * domain-mismatch lens (100 of the fixture's ~180 distinct tokens,
    * so the cutoff genuinely splits the vocabulary). */
  def qOovRate(spark: SparkSession, dir: String): DataFrame =
    Graft.oovRate(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", 100)

  val oovRateOracle: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, w, count(*)::BIGINT AS c FROM t GROUP BY doc_id, w
      |), vocab AS (
      |  SELECT w FROM (SELECT w, sum(c)::BIGINT AS g FROM tf GROUP BY w)
      |  ORDER BY g DESC, w ASC LIMIT 100
      |), per AS (
      |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
      |    sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE c END)::BIGINT AS oov_tokens
      |  FROM tf GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
      |  coalesce(p.oov_tokens, 0)::BIGINT AS oov_tokens,
      |  coalesce(floor((p.oov_tokens::DOUBLE
      |      / greatest(p.n_tokens, 1)::DOUBLE) * 1e4 + 0.5::DOUBLE) / 1e4,
      |    0.0::DOUBLE) AS oov_rate
      |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin

  // ----- curation-cascade attrition report -----

  /** Stage-by-stage attrition of a four-filter curation cascade
    * (length → token count → term blocklist → repetition), the
    * pipeline-health report every corpus release publishes. One scan
    * computes every stage's survivor count as conditional sums (the
    * stages are cumulative boolean columns, so no data moves between
    * stages); the repetition cut is pure integer arithmetic
    * (10·distinct > 7·total ⟺ repetition < 0.3) so no rounding
    * boundary exists. */
  def qCascade(spark: SparkSession, dir: String): DataFrame = {
    val t = filter(split(col("text"), " "), x => x =!= "")
    val d = Tables.documents(spark, dir).select(
      length(col("text")).as("__len"),
      size(t).as("__tok"),
      size(array_distinct(t)).as("__dtok"),
      col("text").contains("legacy").as("__blocked"))
    val s1 = col("__len") >= 200
    val s2 = s1 && col("__tok") >= 40
    val s3 = s2 && !col("__blocked")
    val s4 = s3 && col("__dtok") * 10 > col("__tok") * 7
    val agg = d.agg(
      count(lit(1)).as("n0"),
      sum(when(s1, 1L).otherwise(0L)).as("n1"),
      sum(when(s2, 1L).otherwise(0L)).as("n2"),
      sum(when(s3, 1L).otherwise(0L)).as("n3"),
      sum(when(s4, 1L).otherwise(0L)).as("n4"))
    val stages = Seq(
      ("1_min_length", "n0", "n1"), ("2_min_tokens", "n1", "n2"),
      ("3_blocklist", "n2", "n3"), ("4_repetition", "n3", "n4"))
    stages.map { case (name, in, out) =>
      agg.select(lit(name).as("stage"), col(in).as("docs_in"), col(out).as("docs_out"))
    }.reduce(_ unionByName _)
  }

  val cascadeOracle: String =
    """WITH d AS (
      |  SELECT length(text) AS len,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
      |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS dtok,
      |    (text LIKE '%legacy%') AS blocked
      |  FROM documents
      |), a AS (
      |  SELECT count(*) AS n0,
      |    sum(CASE WHEN len >= 200 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN len >= 200 AND tok >= 40 THEN 1 ELSE 0 END)::BIGINT AS n2,
      |    sum(CASE WHEN len >= 200 AND tok >= 40 AND NOT blocked
      |        THEN 1 ELSE 0 END)::BIGINT AS n3,
      |    sum(CASE WHEN len >= 200 AND tok >= 40 AND NOT blocked
      |             AND dtok * 10 > tok * 7 THEN 1 ELSE 0 END)::BIGINT AS n4
      |  FROM d
      |)
      |SELECT '1_min_length' AS stage, n0 AS docs_in, n1 AS docs_out FROM a
      |UNION ALL SELECT '2_min_tokens', n1, n2 FROM a
      |UNION ALL SELECT '3_blocklist', n2, n3 FROM a
      |UNION ALL SELECT '4_repetition', n3, n4 FROM a""".stripMargin

  // ----- positional phrase search -----

  private val Phrase = Seq("table", "hash")

  /** Exact-phrase retrieval over the positional index
    * ([[graft.api.Graft.phraseSearch]]): top-10 docs containing the
    * consecutive token pair, ranked by phrase-tf × idf. */
  def qPhraseSearch(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.phraseSearch(
      Tables.documents(spark, dir), "doc_id", "text", Phrase, 10)

  val phraseSearchOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM documents
       |), n AS (SELECT count(*)::BIGINT AS n FROM documents),
       |occ AS (
       |  SELECT doc_id, count(*) AS ptf
       |  FROM d, unnest(range(1, len(w))) AS u(i)
       |  WHERE w[i::INT] = '${Phrase(0)}' AND w[(i + 1)::INT] = '${Phrase(1)}'
       |  GROUP BY doc_id
       |), dfq AS (SELECT count(*)::BIGINT AS df FROM occ)
       |SELECT doc_id, ptf, score, rank FROM (
       |  SELECT occ.doc_id, occ.ptf,
       |    floor(occ.ptf::DOUBLE * ln(n.n::DOUBLE / dfq.df::DOUBLE) * 1e6 + 0.5) / 1e6
       |      AS score,
       |    row_number() OVER (
       |      ORDER BY floor(occ.ptf::DOUBLE * ln(n.n::DOUBLE / dfq.df::DOUBLE) * 1e6 + 0.5) / 1e6 DESC,
       |        occ.doc_id ASC)::BIGINT AS rank
       |  FROM occ, n, dfq)
       |WHERE rank <= 10""".stripMargin
}

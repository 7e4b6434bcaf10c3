package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecMath.{cos12, cosSql, dot, float_dot, int_dot, norm, round12}

/** Similarity search over `embeddings.embedding` (array<float>, 64-d) —
  * the ANN surface a training-data pipeline needs (north star).
  *
  * Scale design: the brute-force path is the correctness baseline
  * (queries broadcast against the corpus — linear scan, no shuffle of
  * the big side). The IVF path is the 100 TB shape: corpus is
  * partitioned into nlist Voronoi cells once (shuffle on cell id);
  * each query probes nprobe cells, so compute drops by ~nlist/nprobe
  * and the candidate join is an equi-join on cell id instead of a
  * cross product.
  */
object SimilarityQueries {

  private val K = 5
  private val NQueries = 10 // vec_id < 10 play the role of query vectors

  /** Brute-force exact cosine top-K: queries (a small set) broadcast
    * against the corpus; rank per query with a deterministic tiebreak.
    * Ties/FP: rank on round(cos, 12) then vec_id so the result is
    * bit-stable across engines. */
  def qSimilarityKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.api.Graft.knn(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < NQueries), "vec_id", "embedding", K)
  }

  val knnOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ${cosSql("qv", "e.embedding")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
       |)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
       |  FROM scored)
       |WHERE rank <= $K""".stripMargin

  /** Embedding near-duplicate pairs: cosine ≥ 0.45 with vec_a < vec_b
    * (threshold sits at the top tail of this corpus's cosine
    * distribution — max pairwise cos is ~0.51, so a "real" dedup cut
    * like 0.95 would be vacuously empty). Runs through the IVF cells
    * (equi-join candidate generation + exact verify); the exhaustive
    * SQL oracle cross-checks that no qualifying pair is missed. */
  def qEmbedNeardup(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.embedNearDup(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 0.45)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("cos"))

  val neardupOracle: String =
    s"""SELECT vec_a, vec_b, cos FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    ${cosSql("a.embedding", "b.embedding")} AS cos
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < b.vec_id)
      |WHERE cos >= 0.45""".stripMargin

  /** IVF-bucketed approximate kNN — the scale path: corpus vectors
    * live in their 2 nearest cells via a map-only kernel; queries
    * probe their 10 nearest cells; scoring is the cell equi-join.
    * Round 13 moved the gate binding from trained k-means centroids to
    * [[Ivf.strideIndex]] (the engine-replicable rule), which puts the
    * WHOLE approximate result under the full DuckDB hash oracle —
    * shrinking the gate's no-oracle list — at a measured recall of
    * 0.88/0.86 vs exact at sf0.001/sf0.01 (deterministic, pinned ≥0.8
    * in ApproxOpsSpec; trained centroids reach 0.96/0.94 and keep
    * their own recall spec on [[Ivf.Params]] — production trains, the
    * gate replays). */
  def qSimilarityIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.api.Graft.ivfKnn(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < NQueries), "vec_id", "embedding", K,
      Ivf.strideIndex(emb, "vec_id", "embedding"), nprobe = 10, corpusAssign = 2)
  }

  /** The [[RlQueries.ivfAsgCte]] cell replay + [[knnOracle]] scoring
    * over the cell-join candidates — the SQL form of the stride-index
    * [[qSimilarityIvf]]. */
  val similarityIvfOracle: String =
    s"""${RlQueries.ivfAsgCte}, c AS (
      |  SELECT vec_id, embedding, cell FROM asg WHERE r <= 2
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, cell FROM asg
      |  WHERE r <= 10 AND vec_id < $NQueries
      |), cand AS (
      |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
      |    ${cosSql("q.qv", "c.embedding")} AS cos
      |  FROM c JOIN q USING (cell)
      |  WHERE c.vec_id <> q.query_id
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
      |  FROM cand)
      |WHERE rank <= $K""".stripMargin

  /** Product-quantized kNN with exact rerank — the compressed-corpus
    * scale path ([[graft.api.Graft.pqKnn]]): 8 one-byte codes per
    * 64-d vector (32×), ADC shortlist of 8·K, exact cosine rerank.
    * Round 13 moved the gate binding to STRIDE codebooks
    * (`Params(ksub = 128, sampleCap = 128, lloydIters = 0)` — with
    * zero Lloyd iterations [[Pq.train]]'s seeds ARE the codebook: the
    * subvectors of the 128 stride-sampled vectors in id order, an
    * engine-replicable data rule), so the WHOLE approximate pipeline —
    * per-subspace L2 argmin encode, ADC scoring, 40-deep shortlist,
    * exact rerank — replays under the full DuckDB hash oracle, the
    * q_similarity_ivf/q_semdedup shrink applied to PQ. Measured recall
    * 0.86/0.84 at sf0.001/sf0.01 (deterministic; trained codebooks
    * keep their own spec floor and the bit-exact full-shortlist
    * plumbing test). Reported cos values are exact by construction. */
  def qSimilarityPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.api.Graft.pqKnn(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < NQueries), "vec_id", "embedding", K,
      rerank = 8,
      pq = graft.ops.Pq.Params(ksub = 128, sampleCap = 128, lloydIters = 0))
  }

  /** SQL replay of the stride-codebook [[qSimilarityPq]]: codebook =
    * stride rows (LIMIT 128) in id order; encode = per-(row, subspace)
    * L2 argmin with lower-code ties; ADC = per-query lookup-table sum
    * over the row's 8 codes, divided by the norms; global 40-deep
    * shortlist by (round-12 adc desc, id asc); exact rerank per
    * [[knnOracle]]. Both sides round the ADC to 12 before the cut —
    * the grouped sum here is 8 doubles whose accumulation order DuckDB
    * does not guarantee, and an exact ADC tie (duplicate vectors)
    * straddling the shortlist boundary would otherwise make the
    * unrounded cut run-to-run nondeterministic. */
  val similarityPqOracle: String =
    s"""WITH p AS (
      |  SELECT greatest(1, count(*) // 128)::BIGINT AS s FROM embeddings
      |), cb AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
      |  FROM embeddings, p WHERE vec_id % p.s = 0
      |  ORDER BY vec_id LIMIT 128
      |), subs AS (
      |  SELECT unnest(range(0, 8)) AS sub
      |), dist AS (
      |  SELECT e.vec_id, subs.sub, cb.code,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (e.embedding[subs.sub*8 + i]::DOUBLE - cb.embedding[subs.sub*8 + i]::DOUBLE)
      |         * (e.embedding[subs.sub*8 + i]::DOUBLE - cb.embedding[subs.sub*8 + i]::DOUBLE))) AS d
      |  FROM embeddings e, cb, subs
      |), codes AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS r
      |    FROM dist) WHERE r = 1
      |), nrm AS (
      |  SELECT vec_id,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $NQueries
      |), qnrm AS (
      |  SELECT query_id,
      |    sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS qn
      |  FROM q
      |), lut AS (
      |  SELECT q.query_id, subs.sub, cb.code,
      |    list_sum(list_transform(range(1, 9),
      |      i -> q.qv[subs.sub*8 + i]::DOUBLE * cb.embedding[subs.sub*8 + i]::DOUBLE)) AS l
      |  FROM q, cb, subs
      |), adc AS (
      |  SELECT l.query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN max(qn.qn) = 0 OR max(n.nrm) = 0 THEN 0.0::DOUBLE
      |      ELSE round(sum(l.l) / (max(qn.qn) * max(n.nrm)), 12) END AS a
      |  FROM codes c
      |  JOIN lut l ON l.sub = c.sub AND l.code = c.code
      |  JOIN nrm n ON n.vec_id = c.vec_id
      |  JOIN qnrm qn ON qn.query_id = l.query_id
      |  WHERE c.vec_id <> l.query_id
      |  GROUP BY l.query_id, c.vec_id
      |), short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY a DESC, neighbor_id ASC) AS r
      |    FROM adc) WHERE r <= ${8 * K}
      |), scored AS (
      |  SELECT s.query_id, s.neighbor_id,
      |    ${cosSql("q.qv", "e.embedding")} AS cos
      |  FROM short s
      |  JOIN embeddings e ON e.vec_id = s.neighbor_id
      |  JOIN q ON q.query_id = s.query_id
      |)
      |SELECT query_id, neighbor_id, rank, cos FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
      |  FROM scored)
      |WHERE rank <= $K""".stripMargin

  // ----- late-interaction (ColBERT-style MaxSim) retrieval -----

  private val MsVecsPerDoc = 10

  /** Late-interaction retrieval (Khattab & Zaharia 2020, public
    * recipe): multi-vector documents scored by
    * Σ_query-token max_doc-vector cosine. The fixture's vectors group
    * into 10-vector "documents" (doc = vec_id / 10); the query is
    * doc 0's own vector set. Per-(doc, token) maxima are taken over
    * round-12 cosines and micro-quantized BEFORE the cross-token sum,
    * so the score is an order-free integer sum — hash-exact.
    *
    * Scale shape: the corpus stays unshuffled (query tokens broadcast
    * against it via the codegen'd float_dot); one keyed max-agg on
    * (doc, token) with map-side combine, one sum-agg on doc, then a
    * distributed top-10. */
  def qMaxsimSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.withColumn("__nrm", norm(col("embedding")))
      .select((col("vec_id") / MsVecsPerDoc).cast("long").as("doc"),
        col("embedding"), col("__nrm"))
    val qtoks = emb.filter(col("vec_id") < MsVecsPerDoc)
      .withColumn("__qnrm", norm(col("embedding")))
      .select(col("vec_id").as("qtok"), col("embedding").as("__qv"), col("__qnrm"))
    val scored = corpus.join(broadcast(qtoks), col("doc") =!= 0L)
      .select(col("doc"), col("qtok"),
        cos12(float_dot(col("embedding"), col("__qv")), col("__nrm"), col("__qnrm")).as("__cos"))
    val perTok = scored.groupBy(col("doc"), col("qtok"))
      .agg(floor(max(col("__cos")) * 1e6 + 0.5).cast("long").as("__m"))
    perTok.groupBy(col("doc"))
      .agg((sum(col("__m")).cast("double") / 1e6).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc").asc)
      .limit(10)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("maxsim").desc, col("doc").asc)).cast("long"))
  }

  val maxsimOracle: String =
    s"""WITH c AS (
       |  SELECT vec_id // $MsVecsPerDoc AS doc, embedding,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS qtok, embedding AS qv,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS qnrm
       |  FROM embeddings WHERE vec_id < $MsVecsPerDoc
       |), m AS (
       |  SELECT c.doc, q.qtok,
       |    floor(max(round(
       |      list_sum(list_transform(range(1, 65),
       |        i -> c.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) / c.nrm / q.qnrm,
       |      12)) * 1e6 + 0.5)::BIGINT AS mq
       |  FROM c, q WHERE c.doc <> 0
       |  GROUP BY c.doc, q.qtok
       |)
       |SELECT doc, maxsim, rank FROM (
       |  SELECT doc, sum(mq)::DOUBLE / 1e6 AS maxsim,
       |    row_number() OVER (ORDER BY sum(mq) DESC, doc ASC)::BIGINT AS rank
       |  FROM m GROUP BY doc)
       |WHERE rank <= 10""".stripMargin

  // ---------------------------------------------------------------
  // int8 scalar-quantized top-k (the SQ flavor of faiss/IVF-SQ8)
  // ---------------------------------------------------------------

  /** Brute-force top-K over INT8 scalar-quantized codes — the
    * memory-bandwidth flavor of ANN: each vector is encoded once as
    * 64 signed bytes (per-vector absmax scaling, q_i = ⌊x_i/amax·127
    * + ½⌋), and the scan scores candidates with an exact INTEGER dot
    * product over the codes — 4× less data moved than float32 and
    * SIMD-friendly on a real cluster, with ranking quality within the
    * quantization error. The integer scores make the whole ranking
    * engine-exact (no float-sum determinism caveats at all), so the
    * approximate operator itself sits under the full hash oracle.
    *
    * Same 100 TB shape as [[qSimilarityKnn]]: queries broadcast, the
    * corpus never shuffles, per-query top-k is a
    * WindowGroupLimit-bounded rank filter. Encoding is a shuffle-free
    * projection (amax materialized as its own column first — HOF
    * lambdas must reference attributes, not recompute subtrees). */
  def qSimilaritySq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val coded = sq8Encode(emb.select(col("vec_id"), col("embedding")),
      "embedding", "codes").select(col("vec_id"), col("codes"))
    sq8Knn(coded, "vec_id", "codes",
      coded.filter(col("vec_id") < NQueries), "vec_id", "codes", K)
  }

  /** Absmax int8 encoder: adds `codes` (array<int> in [−127, 127])
    * next to the float vector. A shuffle-free projection; `amax` is
    * materialized as its own column first because HOF lambdas must
    * reference attributes, not recompute subtrees (15× trap). */
  private[graft] def sq8Encode(df: DataFrame, vec: String, codes: String): DataFrame =
    df.withColumn("__amax", aggregate(col(vec), lit(0.0),
        (a, x) => greatest(a, abs(x.cast("double")))))
      .withColumn(codes, when(col("__amax") === 0.0,
          transform(col(vec), _ => lit(0)))
        .otherwise(transform(col(vec),
          x => floor(x.cast("double") / col("__amax") * 127.0 + 0.5).cast("int"))))
      .drop("__amax")

  /** Top-k over code vectors by QUANTIZED COSINE: three exact integer
    * dots (pair, and each side with itself) finished with IEEE
    * sqrt/divide — the per-vector absmax scale cancels in the cosine,
    * so ranking tracks the float kernel to quantization error (raw
    * int-dot ranking would be biased by each candidate's own scale).
    * The ints are ≤ 64·127² so their double images are exact; norms
    * are hoisted per side (O(n), not O(pairs)). Queries broadcast, the
    * corpus never shuffles, per-query top-k WindowGroupLimit-bounded.
    * Output: (query_id, neighbor_id, rank, cos_q). */
  private[graft] def sq8Knn(corpus: DataFrame, id: String, codes: String,
      queries: DataFrame, queryId: String, queryCodes: String, k: Int): DataFrame = {
    import graft.api.Graft.{normedSide, topK}
    val c = normedSide(corpus, col(id).as("neighbor_id"), codes, "__c", "__nrm", dot = int_dot)
    val q = normedSide(queries, col(queryId).as("query_id"), queryCodes, "__qc", "__qnrm",
      dot = int_dot)
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cos12(int_dot(col("__qc"), col("__c")), col("__qnrm"), col("__nrm")).as("cos_q"))
    topK(scored, "query_id", "cos_q", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos_q"))
  }

  /** SQL replay of [[qSimilaritySq8]] — the quantizer (absmax +
    * ⌊·127 + ½⌋, both single-IEEE-op deterministic) and the integer
    * dot are exact in both engines. */
  val similaritySq8Oracle: String =
    s"""WITH coded AS (
       |  SELECT vec_id,
       |    CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
       |         ELSE list_transform(embedding,
       |                x -> floor(x::DOUBLE / amax * 127.0 + 0.5)::INTEGER)
       |    END AS codes
       |  FROM (SELECT vec_id, embedding,
       |          list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
       |        FROM embeddings)
       |), normed AS (
       |  SELECT vec_id, codes,
       |    sqrt(list_sum(list_transform(codes, x -> x::BIGINT * x::BIGINT))::DOUBLE) AS nrm
       |  FROM coded
       |), q AS (
       |  SELECT vec_id AS query_id, codes AS qc, nrm AS qnrm
       |  FROM normed WHERE vec_id < $NQueries
       |), scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |        i -> qc[i]::BIGINT * c.codes[i]::BIGINT))::DOUBLE
       |      / qnrm / c.nrm, 12) AS cos_q
       |  FROM normed c, q WHERE c.vec_id <> q.query_id
       |)
       |SELECT query_id, neighbor_id, rank, cos_q FROM (
       |  SELECT query_id, neighbor_id, cos_q,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos_q DESC, neighbor_id ASC)::BIGINT AS rank
       |  FROM scored)
       |WHERE rank <= $K""".stripMargin

  /** Recall@K of the int8-quantized index against the exact float
    * kernel — the index-quality gate a pipeline runs before swapping
    * an ANN index into production. Per query: |sq8 top-K ∩ exact
    * top-K| / K. Composes the two gate operators unchanged; the
    * division by K is one IEEE op on a small exact integer, so the
    * recall is bit-stable. Scale: two broadcast-query scans + a
    * K·|queries|-row join — the corpus still never shuffles. */
  def qAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    // K·|queries| rows, but fed by the full exact-kNN corpus scoring
    // pass — the semi-join below AND the distinct query list both
    // consume it, and unmaterialized the whole BroadcastNLJ + top-k
    // subtree ran twice (two corpus scoring passes in the r18 plan
    // dump). Shared lazily, not eagerly checkpointed ([[graft.Frames]]):
    // an eager checkpoint here measured +0.2 s of pure overhead.
    val exact = graft.Frames.shared(
      qSimilarityKnn(spark, dir).select(col("query_id"), col("neighbor_id")))
    val sq = qSimilaritySq8(spark, dir).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(sq, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / K).as("recall"))
  }

  /** The two gate oracles composed verbatim (nested WITH), then the
    * same semi-join + per-query ratio. */
  val annRecallOracle: String =
    s"""WITH exact AS ($knnOracle),
       |sq AS ($similaritySq8Oracle),
       |hits AS (
       |  SELECT e.query_id, count(*)::BIGINT AS hits
       |  FROM exact e
       |  WHERE EXISTS (SELECT 1 FROM sq s
       |                WHERE s.query_id = e.query_id
       |                  AND s.neighbor_id = e.neighbor_id)
       |  GROUP BY e.query_id
       |)
       |SELECT q.query_id, coalesce(hits, 0)::BIGINT AS hits,
       |  coalesce(hits, 0)::DOUBLE / $K AS recall
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN hits USING (query_id)""".stripMargin

  // ---------------------------------------------------------------
  // MMR diverse selection (Carbonell & Goldstein 1998)
  // ---------------------------------------------------------------

  private val MmrK = 10          // selections
  private val MmrShortlist = 40  // relevance shortlist fed to the greedy
  private val MmrLambda = 0.7

  /** Maximal-Marginal-Relevance diverse top-k: greedily pick the
    * candidate maximizing λ·rel(c) − (1−λ)·max_{s∈selected} cos(c,s) —
    * the diversity-aware sampler a curation pipeline uses to seed
    * few-shot/eval sets without near-duplicate picks.
    *
    * Scale split: RELEVANCE SHORTLIST is the distributed heavy part —
    * a TakeOrderedAndProject top-[[MmrShortlist]] over the corpus on
    * (round(cos, 12) desc, id asc), the [[qSimilarityKnn]] kernel (or
    * the IVF path at larger k). The greedy loop then runs on the
    * driver over the BOUNDED shortlist (O(k·|shortlist|) cosines on
    * ≤ 40 rows — the [[Ivf]] centroid-table pattern), so the
    * iteration count never touches the corpus.
    *
    * Determinism: rel and each pairwise penalty round to 12 dp before
    * comparison; the combined score is two IEEE mults + a subtract on
    * identical doubles, re-rounded to 12; ties break on id. Step 1's
    * score is the bare relevance (empty selected set). */
  def qMmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    spark.createDataFrame(mmrGreedy(
        emb.filter(col("vec_id") > 0), "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "embedding", MmrK))
      .toDF("step", "vec_id", "score")
  }

  /** The shortlist + greedy loop of [[qMmrSelect]], parameterized over
    * the caller's corpus and a one-row query frame; returns
    * (step, picked id, combined score). */
  private[graft] def mmrGreedy(corpus: DataFrame, id: String, vec: String,
      query: DataFrame, queryVec: String, k: Int,
      lambda: Double = MmrLambda,
      shortlistN: Int = MmrShortlist): Seq[(Long, Long, Double)] = {
    val q = query.select(col(queryVec).as("qv")).limit(1)
    val short = corpus
      .select(col(id).cast("long").as("__id"), col(vec).as("__v"))
      .crossJoin(broadcast(q))
      .select(col("__id"), col("__v"),
        cos12(float_dot(col("qv"), col("__v")), norm(col("qv")), norm(col("__v"))).as("rel"))
      .orderBy(col("rel").desc, col("__id").asc)
      .limit(shortlistN)
      .collect() // bounded: shortlistN rows
    var remaining = short.map { r =>
      // penalty starts at −1 (≤ any cosine), so the first fold takes
      // the raw pick-cosine even when negative — mirrors the oracle's
      // greatest(−1.0, cos) stage-1 form
      (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble), r.getDouble(2), -1.0)
    }.toVector // (id, vec, rel, penalty)
    val picks = Vector.newBuilder[(Long, Long, Double)]
    var step = 1
    while (step <= k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, v, rel, pen) =>
        val s = if (step == 1) rel
        else round12(lambda * rel - (1.0 - lambda) * pen)
        (id, v, rel, pen, s)
      }
      val best = scored.minBy { case (id, _, _, _, s) => (-s, id) }
      picks += ((step.toLong, best._1, best._5))
      remaining = remaining.collect {
        case (id, v, rel, pen) if id != best._1 =>
          (id, v, rel, math.max(pen, cos12(dot(v, best._2), norm(v), norm(best._2))))
      }
      step += 1
    }
    picks.result()
  }

  /** DuckDB replay of [[qMmrSelect]]: the shortlist then the greedy
    * unrolled as [[MmrK]] CTE stages — stage k's candidate table
    * carries each remaining row's running max-cosine penalty. */
  val mmrSelectOracle: String = {
    // stage k ≥ 1: sel_k picks from c_k; c_{k+1} drops the pick and
    // folds its cosine into the running penalty
    def stage(k: Int): String = {
      val (cIn, sel, cOut) = (s"c$k", s"sel$k", s"c${k + 1}")
      val score =
        if (k == 1) "rel"
        else s"round($MmrLambda * rel - ${1.0 - MmrLambda} * pen, 12)"
      s"""$sel AS (
         |  SELECT id, v, $score AS score FROM $cIn
         |  ORDER BY score DESC, id ASC LIMIT 1
         |), $cOut AS (
         |  SELECT c.id, c.v, c.rel,
         |    greatest(${if (k == 1) "-1.0::DOUBLE" else "c.pen"},
         |      ${cosSql("c.v", "s.v")}) AS pen
         |  FROM $cIn c, $sel s WHERE c.id <> s.id
         |)""".stripMargin
    }
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |c1 AS (
       |  SELECT e.vec_id AS id, e.embedding AS v,
       |    ${cosSql("q.qv", "e.embedding")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id > 0
       |  ORDER BY rel DESC, id ASC LIMIT $MmrShortlist
       |), ${(1 to MmrK).map(stage).mkString(", ")}
       |${(1 to MmrK).map(k =>
          s"SELECT ${k}::BIGINT AS step, id AS vec_id, score FROM sel$k")
         .mkString("\n", "\nUNION ALL\n", "")}""".stripMargin
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecMath.cosSql

/** Gate bindings for the classification + profiling operators
  * ([[graft.api.Graft.nbTrain]]/[[graft.api.Graft.nbScore]],
  * [[graft.api.Graft.profile]]) — the trainable quality/language
  * classifier and the before/after-stage data-profile table of a
  * curation pipeline (north star; the reference has no analytics
  * surface of its own).
  *
  * Every arithmetic step (polyHash features, add-one smoothing, ln,
  * argmax tie-break) is ANSI-SQL-replicable, so both operators sit
  * under the full DuckDB hash oracle.
  */
object ClassifyQueries {

  private val F = 1024

  private val Chi2Lang = "en"
  private val Chi2K = 20

  /** χ² feature selection: the top-20 tokens most associated with one
    * class (lang = 'en') over document-level presence counts — the
    * vocabulary-pruning step in front of any text classifier. The
    * contingency cells (a,b,c,d) are exact integers; χ² =
    * N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is one double expression over
    * them (round 6), and the cut is a distributed
    * TakeOrderedAndProject with a token tiebreak. One shuffle on the
    * token (doc-presence agg with map-side combine); everything after
    * is vocabulary-sized. */
  def qChi2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pres = docs
      .select(col("doc_id"), (col("lang") === Chi2Lang).as("__pos"),
        explode(array_distinct(filter(split(col("text"), " "), t => t =!= "")))
          .as("token"))
    val totals = docs.agg(
      count(lit(1)).as("__n"),
      sum(when(col("lang") === Chi2Lang, 1L).otherwise(0L)).as("__npos"))
    val cells = pres.groupBy(col("token")).agg(
      sum(when(col("__pos"), 1L).otherwise(0L)).as("__a"), // pos docs with token
      sum(when(!col("__pos"), 1L).otherwise(0L)).as("__b")) // neg docs with token
    val withCd = cells.crossJoin(broadcast(totals))
      .withColumn("__c", col("__npos") - col("__a")) // pos docs without token
      .withColumn("__d", col("__n") - col("__npos") - col("__b"))
    val num = (col("__a") * col("__d") - col("__b") * col("__c"))
    val chi2 = round(
      col("__n").cast("double") * num.cast("double") * num.cast("double") /
        ((col("__a") + col("__b")) * (col("__c") + col("__d"))).cast("double") /
        ((col("__a") + col("__c")) * (col("__b") + col("__d"))).cast("double"), 6)
    withCd
      .filter((col("__a") + col("__c")) > 0L && (col("__b") + col("__d")) > 0L)
      .select(col("token"), col("__a").as("pos_docs"), col("__b").as("neg_docs"),
        chi2.as("chi2"))
      .orderBy(col("chi2").desc, col("token").asc)
      .limit(Chi2K)
  }

  val chi2Oracle: String =
    s"""WITH pres AS (
       |  SELECT DISTINCT doc_id, (lang = '$Chi2Lang') AS pos,
       |    unnest(list_distinct(list_filter(string_split(coalesce(text, ''), ' '), t -> t <> ''))) AS token
       |  FROM documents
       |), tot AS (
       |  SELECT count(*)::BIGINT AS n,
       |    sum(CASE WHEN lang = '$Chi2Lang' THEN 1 ELSE 0 END)::BIGINT AS npos
       |  FROM documents
       |), cells AS (
       |  SELECT token,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS a,
       |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)::BIGINT AS b
       |  FROM pres GROUP BY token
       |), x AS (
       |  SELECT token, a, b, tot.npos - a AS c, tot.n - tot.npos - b AS d, tot.n
       |  FROM cells CROSS JOIN tot
       |)
       |, scored AS (
       |  SELECT token, a AS pos_docs, b AS neg_docs,
       |    round(n::DOUBLE * (a * d - b * c)::DOUBLE * (a * d - b * c)::DOUBLE
       |      / ((a + b) * (c + d))::DOUBLE / ((a + c) * (b + d))::DOUBLE, 6) AS chi2
       |  FROM x WHERE (a + c) > 0 AND (b + d) > 0
       |)
       |SELECT token, pos_docs, neg_docs, chi2 FROM (
       |  SELECT *, row_number() OVER (ORDER BY chi2 DESC, token ASC) AS rn FROM scored)
       |WHERE rn <= $Chi2K""".stripMargin

  /** Train a 5-class language NB on the even half of `documents`,
    * score the odd half. The labels are fixture-random (vocabulary is
    * shared across langs), which makes this a pure cross-engine
    * arithmetic pin; NbClassifySpec proves the learning semantics on a
    * separable corpus. */
  def qNbClassify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val test = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val model = graft.api.Graft.nbTrain(train, "lang", "text", F)
    graft.api.Graft.nbScore(test, "doc_id", "text", model, F)
      .select(col("doc_id"), col("pred_label").as("pred_lang"), col("score"))
  }

  val nbClassifyOracle: String =
    s"""WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
       |test AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
       |labels AS (SELECT DISTINCT lang FROM train),
       |prior AS (
       |  SELECT lang, ln(count(*)::DOUBLE / (SELECT count(*) FROM train)) AS lp
       |  FROM train GROUP BY lang),
       |trtok AS (
       |  SELECT lang, unnest(list_filter(string_split(coalesce(text, ''), ' '), t -> t <> '')) AS t
       |  FROM train),
       |trfeat AS (
       |  SELECT lang,
       |    ((list_sum(list_transform(string_split(t, ''), (c, i) -> i * ascii(c)))
       |      * 48271) % 2147483647) % $F AS f
       |  FROM trtok),
       |cnt AS (SELECT lang, f, count(*)::DOUBLE AS c FROM trfeat GROUP BY 1, 2),
       |tot AS (SELECT lang, count(*)::DOUBLE AS n FROM trfeat GROUP BY 1),
       |tetok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(coalesce(text, ''), ' '), t -> t <> '')) AS t
       |  FROM test),
       |tefeat AS (
       |  SELECT doc_id,
       |    ((list_sum(list_transform(string_split(t, ''), (c, i) -> i * ascii(c)))
       |      * 48271) % 2147483647) % $F AS f
       |  FROM tetok),
       |ll AS (
       |  SELECT tf.doc_id, l.lang,
       |    sum(ln((coalesce(c.c, 0) + 1) / (t.n + $F))) AS s
       |  FROM tefeat tf
       |  CROSS JOIN labels l
       |  JOIN tot t ON t.lang = l.lang
       |  LEFT JOIN cnt c ON c.lang = l.lang AND c.f = tf.f
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.doc_id, l.lang, p.lp + coalesce(ll.s, 0) AS raw
       |  FROM test d
       |  CROSS JOIN labels l
       |  JOIN prior p ON p.lang = l.lang
       |  LEFT JOIN ll ON ll.doc_id = d.doc_id AND ll.lang = l.lang)
       |SELECT doc_id, lang AS pred_lang, round(raw, 4) AS score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY raw DESC, lang ASC) AS rn
       |  FROM scored)
       |WHERE rn = 1""".stripMargin

  /** Profile the four analyzable `events` columns (ts is excluded:
    * timestamp→string rendering is engine-specific). */
  def qProfile(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.profile(
      Tables.events(spark, dir),
      numCols = Seq("event_id", "user_id", "value"),
      strCols = Seq("event_type"))

  /** HLL variant of [[qProfile]] — the single-pass shape meant for wide
    * 100 TB scans (no per-column exact-distinct shuffle). Rows-only
    * gate (HLL cardinalities are engine-specific); ApproxOpsSpec pins
    * the ≤5% error vs the exact profile on the same fixture. */
  def qProfileApprox(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.profileApprox(
      Tables.events(spark, dir),
      numCols = Seq("event_id", "user_id", "value"),
      strCols = Seq("event_type"))

  val profileOracle: String = {
    def num(c: String) =
      s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
         |  (count(*) - count($c))::BIGINT AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
         |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
         |FROM events""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
         |  (count(*) - count($c))::BIGINT AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
         |  min($c) AS min_str, max($c) AS max_str
         |FROM events""".stripMargin
    Seq(num("event_id"), num("user_id"), num("value"), str("event_type"))
      .mkString("\nUNION ALL\n")
  }

  /** k-NN label propagation over the embedding space
    * ([[graft.api.Graft.knnClassify]]): a FIXED 100-query panel
    * (vec_id < 100 — constant at every scale, the broadcast kernel's
    * contract shape) classified by majority label of its 5 nearest
    * labeled neighbors by cosine. The pre-round-13 form classified a
    * 20% PROPORTIONAL panel through the broadcast join — both sides
    * grew with the corpus (the round-12 quadratic finding); that
    * corpus-scale shape now runs through [[qKnnClassifyIvf]]. */
  /** Expected-calibration-error table of a heuristic is-English
    * scorer (Naeini et al. 2015's binned ECE, binary formulation) —
    * the reward-model/classifier calibration audit a post-training
    * pipeline runs before trusting scores as probabilities.
    *
    * Confidence = predicted P(en) from the stopword-hit ratio, kept
    * EXACT: conf_milli = (1000·stop_hits) div n_tokens ∈ [0, 1000].
    * Outcome y = 1 iff lang = 'en' (NULL labels 0, the
    * [[LogReg.qLrClassifyFixed]] convention). Ten fixed-width bins on
    * conf_milli; each bin's calibration-gap numerator
    * |1000·Σy − Σconf_milli| is exact BIGINT arithmetic — ECE itself
    * is Σ_b gap_num_b / (1000·N), left to the consumer so the gate
    * row stays integer-exact.
    *
    * 100 TB shape: one shuffle-free codegen'd projection plus one
    * 10-key aggregation with map-side combine. */
  def qEceCalibration(spark: SparkSession, dir: String): DataFrame = {
    // null guard (cmsHeavyHitters convention): without it a null text
    // yields size(null) = -1 → conf_milli −1000 / bin −10, while the
    // DuckDB oracle's NULL propagation lands the row in bin 9
    val toks = filter(split(coalesce(col("text"), lit("")), " "), t => t =!= "")
    val scored = Tables.documents(spark, dir)
      .select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        (size(filter(transform(toks, t => lower(t)),
          t => t.isin(TextQueries.StopwordsEn: _*))).cast("long") * 1000L)
          .as("stop_milli"),
        greatest(size(toks).cast("long"), lit(1L)).as("n_toks"))
      .withColumn("conf_milli", expr("stop_milli div n_toks"))
    graft.api.Graft.calibrationBins(scored, "conf_milli", "y")
  }

  val eceCalibrationOracle: String =
    """WITH scored AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y,
      |    (1000 * len(list_filter(list_transform(
      |       list_filter(string_split(coalesce(text, ''), ' '), w -> w <> ''), w -> lower(w)),
      |       w -> w IN ('the','a','an','and','of','to','in','is','on','for'))))::BIGINT
      |      // greatest(len(list_filter(string_split(coalesce(text, ''), ' '), w -> w <> ''))::BIGINT, 1)
      |      AS conf_milli
      |  FROM documents
      |), binned AS (
      |  SELECT least(9, conf_milli // 100) AS bin, y, conf_milli FROM scored
      |)
      |SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
      |  sum(conf_milli)::BIGINT AS conf_milli_sum,
      |  abs(1000 * sum(y) - sum(conf_milli))::BIGINT AS gap_num
      |FROM binned GROUP BY bin""".stripMargin

  def qKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.api.Graft.knnClassify(
      emb.filter(col("vec_id") >= 100), "vec_id", "embedding", "label",
      emb.filter(col("vec_id") < 100), "vec_id", "embedding", 5)
  }

  /** The [[SimilarityQueries.knnOracle]] scoring arithmetic
    * (round(cos, 12), neighbor-id rank ties) restricted to the labeled
    * side, plus the vote resolution: votes DESC, label ASC. */
  val knnClassifyOracle: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 100),
      |c AS (
      |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 100),
      |scored AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
      |    ${cosSql("qv", "c.embedding")} AS cos
      |  FROM c, q WHERE c.vec_id <> q.query_id),
      |topk AS (
      |  SELECT query_id, label FROM (
      |    SELECT query_id, label,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY cos DESC, neighbor_id ASC) AS r
      |    FROM scored)
      |  WHERE r <= 5),
      |votes AS (
      |  SELECT query_id, label, count(*)::BIGINT AS votes
      |  FROM topk GROUP BY query_id, label)
      |SELECT query_id, label AS label_pred, votes FROM (
      |  SELECT query_id, label, votes,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY votes DESC, label ASC) AS r
      |  FROM votes)
      |WHERE r = 1""".stripMargin

  /** [[qKnnClassify]] at corpus scale through the IVF cell equi-join
    * ([[graft.api.Graft.knnClassifyIvf]]): the SAME proportional query
    * panel (every 5th vector — 20% of the corpus, which the broadcast
    * form cannot take without going quadratic) classified by majority
    * label among the candidates sharing a probed cell. The index is
    * [[Ivf.strideIndex]] over the FULL embedding table (centroids are
    * reference directions — they need not come from the labeled side,
    * and the stride rule over the labeled subset alone would be empty:
    * ids ≡ 0 mod a multiple of 5 are all query-side), so the whole
    * approximate prediction replays under the DuckDB hash oracle. nprobe
    * fixed (8) vs √n cells: probed fraction shrinks with scale —
    * candidates n^1.5, not the broadcast form's n². GraftApiSpec pins
    * agreement vs the exact form and exact equality at full probe. */
  def qKnnClassifyIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val index = Ivf.strideIndex(emb, "vec_id", "embedding")
    graft.api.Graft.knnClassifyIvf(
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), "vec_id", "embedding", "label",
      emb.filter(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "embedding",
      k = 5, index, nprobe = 8, corpusAssign = 2)
  }

  /** The [[RlQueries.ivfAsgCte]] cell replay filtered to the
    * labeled/query split, then the [[knnClassifyOracle]] vote
    * resolution over the cell-join candidates. */
  val knnClassifyIvfOracle: String =
    s"""${RlQueries.ivfAsgCte}, c AS (
      |  SELECT vec_id, embedding, label, cell FROM asg
      |  WHERE r <= 2 AND vec_id % 5 <> 0
      |), q AS (
      |  SELECT vec_id AS query_id, embedding AS qv, cell FROM asg
      |  WHERE r <= 8 AND vec_id % 5 = 0
      |), cand AS (
      |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, c.label,
      |    ${cosSql("q.qv", "c.embedding")} AS cos
      |  FROM c JOIN q USING (cell)
      |  WHERE c.vec_id <> q.query_id
      |), topk AS (
      |  SELECT query_id, label FROM (
      |    SELECT query_id, label,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY cos DESC, neighbor_id ASC) AS r
      |    FROM cand)
      |  WHERE r <= 5
      |), votes AS (
      |  SELECT query_id, label, count(*)::BIGINT AS votes
      |  FROM topk GROUP BY query_id, label
      |)
      |SELECT query_id, label AS label_pred, votes FROM (
      |  SELECT query_id, label, votes,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY votes DESC, label ASC) AS r
      |  FROM votes)
      |WHERE r = 1""".stripMargin
}

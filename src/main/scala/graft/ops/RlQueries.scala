package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecMath.cosSql

/** Post-training data construction — the RLHF-side siblings of the SFT
  * family ([[SftQueries]]): best-of-N candidate selection (rejection
  * sampling), contrastive hard-negative mining, and curriculum
  * staging. The reference has no analytics surface of its own
  * (dis/DISSparkStreamingDemo.scala exercises map/filter/agg only);
  * these extend the engine's training-data pipeline the same way the
  * dedup/selection families do. All three are exact arithmetic and sit
  * under the full DuckDB hash oracle.
  */
object RlQueries {

  /** Best-of-N selection (rejection sampling over scored generations):
    * each (user_id, event_type) group plays a prompt's candidate pool
    * with `value` as its reward-model score; keep the argmax candidate
    * (score desc, event_id tiebreak) plus the pool size and the margin
    * over the runner-up — the signal an RLHF pipeline logs to judge
    * whether N was large enough (margin ≈ 0 ⇒ the reward model can't
    * separate the pool). Singleton pools report margin 0.
    *
    * Scale shape: ONE shuffle on the (user_id, event_type) key — the
    * rank and pool-count windows share it, and the final aggregation
    * groups by the same key (no second exchange). The partition key is
    * id-derived, so groups multiply with users, never with corpus per
    * group; per-group state is one candidate pool (the generation
    * fan-out N, a training-run constant). The margin is a pairwise
    * subtraction of raw parquet doubles — exact IEEE in both engines,
    * no rounding needed. */
  def qBestOfN(spark: SparkSession, dir: String): DataFrame =
    bestOfNOf(Tables.events(spark, dir))

  /** [[qBestOfN]] over an arbitrary scored-candidate frame — public to
    * the streaming sibling's spec ([[graft.streaming.StreamingBestOfN]])
    * so both arms provably share one kernel. */
  private[graft] def bestOfNOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
    val wOrd = w.orderBy(col("value").desc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        max(col("__n")).cast("long").as("n_candidates"),
        max(when(col("__rn") === 1, col("event_id"))).as("best_event_id"),
        max(when(col("__rn") === 1, col("value"))).as("best_score"),
        max(when(col("__rn") === 2, col("value"))).as("__second"))
      .select(col("user_id"), col("event_type"), col("n_candidates"),
        col("best_event_id"), col("best_score"),
        (col("best_score") - coalesce(col("__second"), col("best_score")))
          .as("margin"))
  }

  val bestOfNOracle: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY value DESC, event_id ASC) AS rn,
      |    count(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM events
      |)
      |SELECT user_id, event_type,
      |  max(n)::BIGINT AS n_candidates,
      |  max(CASE WHEN rn = 1 THEN event_id END)::BIGINT AS best_event_id,
      |  max(CASE WHEN rn = 1 THEN value END) AS best_score,
      |  (max(CASE WHEN rn = 1 THEN value END)
      |    - coalesce(max(CASE WHEN rn = 2 THEN value END),
      |               max(CASE WHEN rn = 1 THEN value END))) AS margin
      |FROM ranked WHERE rn <= 2
      |GROUP BY user_id, event_type""".stripMargin

  /** Tie-proof 4-decimal rounding computed identically in both engines
    * (shared contract with [[SftQueries]]: Spark round() is
    * decimal-string HALF_UP, DuckDB's is binary — floor(x·1e4 + 0.5)
    * in doubles sidesteps both). */
  private def round4(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e4) + lit(0.5)) / lit(1e4)

  /** Group-relative advantage normalization — the GRPO-style critic
    * replacement: each (user_id, event_type) pool of sampled
    * generations standardizes its own reward scores,
    * adv = (score − mean)/std, so a policy update needs no learned
    * value model. One row per candidate with its pool-relative
    * advantage; degenerate pools (singleton, or every score equal)
    * emit advantage 0 — no signal, not a division blow-up.
    *
    * Cross-engine exactness: mean and variance come from the explicit
    * moment sums (Σv, Σv², n) — NOT the engines' variance aggregates
    * (DuckDB's var_samp is single-pass Welford, a different float
    * result) — so both sides reduce identical per-row doubles in
    * identical file order, the sample-variance formula
    * (Σv² − (Σv)²/n)/(n−1) evaluates identically, and the σ=0
    * degenerate test compares bit-equal doubles; the final advantage
    * is tie-proof-rounded to 4 decimals. Scale shape: one hash agg on
    * the id-derived pool key (map-side partial) + a broadcast-friendly
    * join back to the candidates on the SAME key — pool stats are one
    * row per pool, candidates never shuffle twice. */
  def qGrpoAdv(spark: SparkSession, dir: String): DataFrame =
    grpoAdvOf(Tables.events(spark, dir))

  /** [[qGrpoAdv]] over an arbitrary scored-candidate frame — public to
    * the streaming sibling's spec
    * ([[graft.streaming.StreamingBestOfN.advantages]]) so both arms
    * provably share one kernel. */
  private[graft] def grpoAdvOf(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    val stats = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("__s"),
        sum(col("value") * col("value")).as("__s2"))
      .withColumn("__var", when(col("n") > 1,
        (col("__s2") - col("__s") * col("__s") / col("n")) / (col("n") - 1)))
    ev.join(stats, Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("event_id"), col("n"),
        when(col("__var").isNull || col("__var") <= 0.0, lit(0.0))
          .otherwise(round4(
            (col("value") - col("__s") / col("n")) / sqrt(col("__var"))))
          .as("adv"))
  }

  val grpoAdvOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, event_id, value FROM events
      |), stats AS (
      |  SELECT user_id, event_type, count(*)::BIGINT AS n,
      |    sum(value) AS s, sum(value * value) AS s2
      |  FROM ev GROUP BY user_id, event_type
      |), v AS (
      |  SELECT user_id, event_type, n, s,
      |    CASE WHEN n > 1 THEN (s2 - s * s / n) / (n - 1) END AS var
      |  FROM stats
      |)
      |SELECT e.user_id, e.event_type, e.event_id, v.n,
      |  CASE WHEN v.var IS NULL OR v.var <= (0)::DOUBLE THEN (0)::DOUBLE
      |    ELSE floor((e.value - v.s / v.n) / sqrt(v.var) * 1e4 + (0.5)::DOUBLE) / 1e4
      |  END AS adv
      |FROM ev e JOIN v USING (user_id, event_type)""".stripMargin

  /** Unbiased pass@k over sampled generations (the Codex-paper
    * estimator): each (user_id, event_type) pool is a problem's n
    * samples, a sample passes when its score clears 60, and
    * pass@k = 1 − C(n−c, k)/C(n, k) — the probability that at least
    * one of k drawn samples passes, estimated WITHOUT the bias of
    * empirical min(1, c·k/n). NULL where the pool is smaller than k
    * (the estimator needs n ≥ k).
    *
    * Exactness: the binomial ratio is computed as the telescoped
    * product ∏(n−c−i)/∏(n−i), i < k — every factor is a small
    * integer, every partial product < 2⁵³ (n ≤ a pool's fan-out, k ≤
    * 10), so the doubles are EXACT integers in both engines and the
    * single final division is one IEEE op each side; a c-short pool
    * (n−c < k) hits a literal zero factor, giving pass@k = 1 exactly.
    * Scale shape: one hash agg on the id-derived pool key (map-side
    * partial), then pure per-row arithmetic over bounded k-element
    * sequences; no window, no second shuffle. */
  def qPassAtK(spark: SparkSession, dir: String): DataFrame =
    passAtKOf(Tables.events(spark, dir))

  /** [[qPassAtK]] over an arbitrary scored-candidate frame — public to
    * the streaming sibling's spec
    * ([[graft.streaming.StreamingRlMetrics]]) so both arms provably
    * share one estimator. */
  private[graft] def passAtKOf(events: DataFrame): DataFrame = {
    val pools = events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= 60.0, 1L).otherwise(0L)).as("c"))
    def prodDown(top: org.apache.spark.sql.Column, k: Int) =
      aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
        (acc, i) => acc * (top - i).cast("double"))
    def passAt(k: Int) = when(col("n") >= k,
      lit(1.0) - prodDown(col("n") - col("c"), k) / prodDown(col("n"), k))
    pools.select(col("user_id"), col("event_type"), col("n"), col("c"),
      passAt(1).as("pass_at_1"), passAt(5).as("pass_at_5"),
      passAt(10).as("pass_at_10"))
  }

  val passAtKOracle: String = {
    def prod(top: String, k: Int) =
      s"list_aggregate(list_transform(range(0, $k), i -> ($top - i)::DOUBLE), 'product')"
    def passAt(k: Int) =
      s"CASE WHEN n >= $k THEN (1)::DOUBLE - ${prod("n - c", k)} / ${prod("n", k)} END"
    s"""WITH pools AS (
      |  SELECT user_id, event_type, count(*)::BIGINT AS n,
      |    sum(CASE WHEN value >= 60 THEN 1 ELSE 0 END)::BIGINT AS c
      |  FROM events GROUP BY user_id, event_type
      |)
      |SELECT user_id, event_type, n, c,
      |  ${passAt(1)} AS pass_at_1,
      |  ${passAt(5)} AS pass_at_5,
      |  ${passAt(10)} AS pass_at_10
      |FROM pools""".stripMargin
  }

  /** Reward-drift detection — Spearman rank correlation between a
    * pool's reward scores and its arrival order: a strongly positive
    * (or negative) ρ says the sampler's quality trended during the
    * run (temperature decay, cache contamination, a failing scorer) —
    * the pool-health diagnostic an RLHF pipeline alarms on. One row
    * per pool with n and ρ; pools of one report NULL (no ordering to
    * correlate).
    *
    * Exactness: both rankings are DETERMINISTIC permutations
    * (value ties break by event_id, arrival ties by event_id), so
    * Σd² is an exact integer and ρ = 1 − 6Σd²/(n(n²−1)) is ONE IEEE
    * division of exact-integer doubles — identical in both engines,
    * no rounding needed (this is Spearman of the tie-broken
    * permutation; the classic average-rank tie correction would trade
    * this hash-exactness away). Scale shape: one exchange on the
    * id-derived pool key shared by both rank windows and the final
    * re-agg; Σd² and n stay within 2⁵³ for any pool under ~2M
    * candidates (fan-out is a training constant, orders below). */
  def qRewardDrift(spark: SparkSession, dir: String): DataFrame =
    rewardDriftOf(Tables.events(spark, dir))

  /** [[qRewardDrift]] over an arbitrary scored-candidate frame — public
    * to the streaming sibling's spec
    * ([[graft.streaming.StreamingRlMetrics]]) so both arms provably
    * share one estimator. */
  private[graft] def rewardDriftOf(events: DataFrame): DataFrame = {
    val pool = Window.partitionBy(col("user_id"), col("event_type"))
    val byValue = pool.orderBy(col("value").asc, col("event_id").asc)
    val byArrival = pool.orderBy(col("ts").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
      .withColumn("__rv", row_number().over(byValue).cast("long"))
      .withColumn("__rt", row_number().over(byArrival).cast("long"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("__rv") - col("__rt")) * (col("__rv") - col("__rt"))).as("__d2"))
      .select(col("user_id"), col("event_type"), col("n"),
        when(col("n") > 1,
          lit(1.0) - lit(6.0) * col("__d2")
            / (col("n") * (col("n") * col("n") - 1L)))
          .as("spearman"))
  }

  val rewardDriftOracle: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY value ASC, event_id ASC)::BIGINT AS rv,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts ASC, event_id ASC)::BIGINT AS rt
      |  FROM events
      |)
      |SELECT user_id, event_type, count(*)::BIGINT AS n,
      |  CASE WHEN count(*) > 1 THEN
      |    (1)::DOUBLE - (6)::DOUBLE * sum((rv - rt) * (rv - rt))
      |      / (count(*) * (count(*) * count(*) - 1))
      |  END AS spearman
      |FROM ranked GROUP BY user_id, event_type""".stripMargin

  /** Hard negatives for a FIXED 64-anchor panel (vec_id < 64 — constant
    * size at every scale, the [[SimilarityQueries]] q_similarity_knn
    * panel pattern) against the full embedding corpus: the 3
    * most-cosine-similar vectors per anchor with a DIFFERENT label
    * ([[graft.api.Graft.hardNegatives]]). The panel is fixed-size by
    * construction because the broadcast kernel's contract requires it —
    * a corpus-PROPORTIONAL anchor set makes both join sides grow (the
    * round-12 quadratic finding) and belongs to [[qHardNegativesIvf]].
    * The exhaustive SQL oracle replays the scoring bit-for-bit
    * (round(cos, 12), neg_id rank ties — the [[SimilarityQueries]]
    * contract). */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.api.Graft.hardNegatives(
      emb, "vec_id", "embedding", "label",
      emb.filter(col("vec_id") < 64),
      "vec_id", "embedding", "label", k = 3)
      // the kernel preserves the label's source type (int32 here);
      // widen to BIGINT only to match the oracle's hash grain
      .withColumn("neg_label", col("neg_label").cast("long"))
  }

  val hardNegativesOracle: String =
    s"""WITH a AS (
      |  SELECT vec_id AS anchor_id, embedding AS qv, label AS albl
      |  FROM embeddings WHERE vec_id < 64
      |), scored AS (
      |  SELECT a.anchor_id, e.vec_id AS neg_id, e.label::BIGINT AS neg_label,
      |    ${cosSql("qv", "e.embedding")} AS cos
      |  FROM embeddings e, a WHERE e.label IS DISTINCT FROM a.albl
      |)
      |SELECT anchor_id, rank, neg_id, neg_label, cos FROM (
      |  SELECT anchor_id, neg_id, neg_label, cos,
      |    row_number() OVER (PARTITION BY anchor_id
      |      ORDER BY cos DESC, neg_id ASC)::BIGINT AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin

  /** Corpus-scale hard-negative mining through the IVF cell equi-join
    * ([[graft.api.Graft.hardNegativesIvf]]): the 5% anchor panel
    * (every 20th vector — PROPORTIONAL to the corpus, which is exactly
    * what the broadcast form cannot take) mines its 3 hardest
    * different-label negatives among the candidates sharing a probed
    * cell. The index is [[Ivf.strideIndex]] — centroids are the
    * unit-normalized vectors at ids ≡ 0 (mod ⌊n/⌈√n⌉⌋), a rule any
    * engine can replay from the data alone — so the ENTIRE approximate
    * result sits under the full DuckDB hash oracle (cell ranking by
    * raw cos desc / cell asc, candidate scoring round(cos, 12), neg_id
    * ties): the approximation is deterministic, not engine-private.
    * nprobe is FIXED (8) while nlist grows as √n, so the probed corpus
    * fraction SHRINKS with scale — candidates grow as n^1.5/√n per
    * side pair instead of the broadcast form's n²; RlSpec pins recall
    * and hardness floors vs the exact kernel. */
  def qHardNegativesIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val index = Ivf.strideIndex(emb, "vec_id", "embedding")
    graft.api.Graft.hardNegativesIvf(
      emb, "vec_id", "embedding", "label",
      emb.filter(pmod(col("vec_id"), lit(20)) === 0),
      "vec_id", "embedding", "label",
      k = 3, index, nprobe = 8, corpusAssign = 2)
      .withColumn("neg_label", col("neg_label").cast("long"))
  }

  /** Shared oracle prefix of the IVF-path queries: the stride-rule
    * centroids and every vector's cells ranked by cosine (desc, cell
    * asc) — the SQL replay of [[Ivf.strideIndex]] + [[Ivf.assign]]. */
  private[ops] val ivfAsgCte: String =
    """WITH p AS (
      |  SELECT greatest(1, count(*) // ceil(sqrt(count(*)))::BIGINT)::BIGINT AS s
      |  FROM embeddings
      |), cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
      |    list_transform(embedding, x -> x::DOUBLE
      |      / sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
      |  FROM embeddings, p WHERE vec_id % p.s = 0
      |), sc AS (
      |  SELECT e.vec_id, e.embedding, e.label, c.cell,
      |    list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * c.u[i]))
      |      / sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
      |      AS ccos
      |  FROM embeddings e, cent c
      |), asg AS (
      |  SELECT vec_id, embedding, label, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS r
      |  FROM sc
      |)""".stripMargin

  val hardNegativesIvfOracle: String =
    s"""$ivfAsgCte, corpus AS (
      |  SELECT vec_id, embedding, label, cell FROM asg WHERE r <= 2
      |), anchors AS (
      |  SELECT vec_id, embedding, label, cell FROM asg
      |  WHERE r <= 8 AND vec_id % 20 = 0
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS anchor_id, c.vec_id AS neg_id,
      |    c.label::BIGINT AS neg_label,
      |    ${cosSql("a.embedding", "c.embedding")} AS cos
      |  FROM corpus c JOIN anchors a USING (cell)
      |  WHERE c.label IS DISTINCT FROM a.label
      |)
      |SELECT anchor_id, rank, neg_id, neg_label, cos FROM (
      |  SELECT anchor_id, neg_id, neg_label, cos,
      |    row_number() OVER (PARTITION BY anchor_id
      |      ORDER BY cos DESC, neg_id ASC)::BIGINT AS rank
      |  FROM cand)
      |WHERE rank <= 3""".stripMargin

  /** Easy-first curriculum over the documents table: difficulty proxy
    * = n_chars (longer ⇒ harder), log₂-width bins, 4 equal-token
    * training stages ([[graft.api.Graft.curriculumSchedule]]). */
  def qCurriculum(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.curriculumSchedule(
      Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", "n_chars", nStages = 4)

  val curriculumOracle: String =
    """WITH binned AS (
      |  SELECT doc_id, n_chars AS difficulty,
      |    length(bin(greatest(n_chars, 1)))::BIGINT AS bin
      |  FROM documents
      |), agg AS (
      |  SELECT bin, sum(difficulty)::BIGINT AS btok FROM binned GROUP BY bin
      |), sched AS (
      |  SELECT bin,
      |    coalesce(sum(btok) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before,
      |    (SELECT sum(btok) FROM agg)::BIGINT AS total
      |  FROM agg
      |)
      |SELECT b.doc_id, b.difficulty, b.bin,
      |  least(s.before * 4 // greatest(s.total, 1) + 1, 4)::BIGINT AS stage
      |FROM binned b JOIN sched s USING (bin)""".stripMargin
}

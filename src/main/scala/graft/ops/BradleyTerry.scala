package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Bradley–Terry strength estimation (Bradley & Terry
  * 1952) via Hunter's MM algorithm (Hunter 2004, "MM algorithms for
  * generalized Bradley-Terry models") — the pairwise-preference
  * strength model an RLHF pipeline fits over arena-style comparisons
  * to rank competing generators/sources.
  *
  * All cross-engine-visible arithmetic is EXACT INTEGER (the
  * [[LogReg.trainFixed]] pattern), which puts the fitted MODEL — not
  * just a projection of it — under the DuckDB hash oracle:
  *
  *  - strengths are longs in 2⁻²⁰ units, clamped to [2¹⁰, 2³⁰];
  *  - each match's MM denominator term is the integer floor division
  *    d = 2⁴⁰ div (S_w + S_l): both engines' integral division
  *    truncates identically for positive operands, and the clamp
  *    bounds d ∈ [2⁹, 2²⁹] so per-player sums carry the same
  *    overflow witness as trainFixed (max d · contributions < 2⁶³
  *    is ASSERTED per iteration — a scale-up fails loudly);
  *  - the update S' = clamp((W · 2⁴⁰) div D) is computed in BigInt
  *    on the driver (the oracle uses HUGEINT), so no intermediate
  *    ever wraps regardless of corpus size.
  *
  * 100 TB shape: matches are built with ONE keyed aggregation
  * (doc_id div 2 — dense ids pair adjacent documents, map-side
  * combine), then each MM iteration is a bounded keyed agg over the
  * player set (|sources|, fixed) with the per-player (D, W) table
  * round-tripping through the driver once per iteration — the corpus
  * itself never re-shuffles across iterations. Same
  * epochs × (broadcast + bounded agg) scale class as LogReg. */
object BradleyTerry {

  private val FxOne   = 1L << 20 // 1.0 in fixed-point units
  private val FxNum   = 1L << 40 // numerator of 1/(S_w+S_l) in fx units
  private val FxLo    = 1L << 10
  private val FxHi    = 1L << 30
  private val MmIters = 3

  /** Matches from adjacent-id document pairs: m = doc_id div 2, the
    * even-id doc is side a. Pairs with a missing side or identical
    * sources drop; the higher exact-integer quality surrogate
    * (100·stopword_hits + n_tokens, the [[SftQueries]] reward-model
    * signal) wins, ties to the even (lower) id. */
  private def matches(docs: DataFrame): DataFrame = {
    // null guard (cmsHeavyHitters convention): size(split(null)) = -1
    // would poison the quality surrogate where the oracle yields NULL
    val toks = filter(split(coalesce(col("text"), lit("")), " "), t => t =!= "")
    val quality = (size(filter(transform(toks, t => lower(t)),
        t => t.isin(TextQueries.StopwordsEn: _*))).cast("long") * 100L +
      size(toks).cast("long")).as("q")
    docs.select(col("source"), col("doc_id"), quality)
      .withColumn("m", expr("doc_id div 2"))
      .groupBy(col("m"))
      .agg(
        max(when(col("doc_id") % 2 === 0, col("source"))).as("src_a"),
        max(when(col("doc_id") % 2 === 1, col("source"))).as("src_b"),
        max(when(col("doc_id") % 2 === 0, col("q"))).as("qa"),
        max(when(col("doc_id") % 2 === 1, col("q"))).as("qb"))
      .filter(col("src_a").isNotNull && col("src_b").isNotNull &&
        col("src_a") =!= col("src_b"))
      .select(col("m"),
        when(col("qa") >= col("qb"), col("src_a")).otherwise(col("src_b")).as("w_src"),
        when(col("qa") >= col("qb"), col("src_b")).otherwise(col("src_a")).as("l_src"))
  }

  /** Fit MM iterations and return (source, n_matches, n_wins,
    * strength_fx) — strength_fx exact in 2⁻²⁰ units. */
  def fit(docs: DataFrame, iters: Int = MmIters): DataFrame =
    fitMatches(matches(docs), "w_src", "l_src", iters)
      .withColumnRenamed("player", "source")

  /** The generic arena fit: `matches` is any (winner, loser) match
    * table (string player keys); returns (player, n_matches, n_wins,
    * strength_fx). The player set must be BOUNDED (driver round-trips
    * one row per player per iteration). */
  def fitMatches(matchesDf: DataFrame, winner: String, loser: String,
                 iters: Int = MmIters): DataFrame = graft.Frames.scope {
    val spark = matchesDf.sparkSession
    val ms = graft.Frames.shared(matchesDf
      .select(col(winner).as("w_src"), col(loser).as("l_src")))
    // per-player strengths, updated on the driver each iteration
    var s = Map.empty[String, Long].withDefaultValue(FxOne)
    var last: Array[(String, Long, Long, Long)] = Array.empty
    var it = 0
    while (it < iters) {
      // first iteration: strengths are uniformly FxOne, so the MM term
      // is the constant 2⁴⁰ div 2²¹ — no strength joins, no seed scan
      // (the oracle's s0 joins produce the same constant)
      val withS =
        if (s.isEmpty) ms.withColumn("d", lit(FxNum / (2 * FxOne)))
        else {
          val sDf = spark.createDataFrame(s.toSeq).toDF("p", "s")
          ms.join(broadcast(sDf.withColumnRenamed("p", "w_src").withColumnRenamed("s", "sw")), "w_src")
            .join(broadcast(sDf.withColumnRenamed("p", "l_src").withColumnRenamed("s", "sl")), "l_src")
            .withColumn("d", expr(s"$FxNum div (sw + sl)"))
        }
      // one pass, not a self-union: the union's two sides each re-scan
      // (and on iters ≥ 2 re-JOIN) the withS subtree — exploding the
      // (winner, loser) contributions as a 2-element array keeps the
      // scan and the strength joins single-shot (guide §2: don't
      // compute the same subtree twice). All aggregates are integer
      // (sum/max/count over longs), so the row-order change is
      // hash-invisible.
      val perPlayer = withS
        .select(explode(array(
          struct(col("w_src").as("p"), col("d"), lit(1L).as("win")),
          struct(col("l_src").as("p"), col("d"), lit(0L).as("win")))).as("e"))
        .select(col("e.p").as("p"), col("e.d").as("d"), col("e.win").as("win"))
        .groupBy(col("p"))
        .agg(sum(col("d")).as("dsum"), sum(col("win")).as("wins"),
          max(col("d")).as("mx"), count(lit(1)).as("c"))
        .collect() // bounded: one row per source
      last = perPlayer.map { r =>
        val (p, dsum, wins, mx, c) = (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))
        require(mx == 0L || mx <= Long.MaxValue / c,
          s"BradleyTerry denominator overflow risk for player $p: " +
            s"max d=$mx over $c contributions exceeds the int64 bound " +
            "(contributions * max d must stay < 2^63); fit per-batch and merge")
        val sNew = ((BigInt(wins) << 40) / BigInt(dsum))
          .max(BigInt(FxLo)).min(BigInt(FxHi)).toLong
        (p, c, wins, sNew)
      }
      s = last.map(t => (t._1, t._4)).toMap.withDefaultValue(FxOne)
      it += 1
    }
    spark.createDataFrame(last.toSeq)
      .toDF("player", "n_matches", "n_wins", "strength_fx")
  }

  /** Gate binding: arena strengths of the fixture's 20 sources from
    * adjacent-document quality matches, 3 MM iterations. */
  def qBtStrength(spark: SparkSession, dir: String): DataFrame =
    fit(Tables.documents(spark, dir))

  /** DuckDB replay of [[qBtStrength]]: the match construction and all
    * three MM iterations unrolled as CTE stages over the bounded
    * player table — every boundary number is an exact integer. */
  val btStrengthOracle: String = {
    def iter(k: Int): String = {
      val (sIn, d, agg, sOut) = (s"s$k", s"d${k + 1}", s"i${k + 1}", s"s${k + 1}")
      s"""$d AS (
         |  SELECT m.w_src, m.l_src, $FxNum // (sw.s + sl.s) AS d
         |  FROM matches m
         |  JOIN $sIn sw ON sw.p = m.w_src
         |  JOIN $sIn sl ON sl.p = m.l_src
         |), $agg AS (
         |  SELECT p, sum(d)::BIGINT AS dsum, sum(win)::BIGINT AS wins,
         |         count(*)::BIGINT AS c
         |  FROM (SELECT w_src AS p, d, 1 AS win FROM $d
         |        UNION ALL SELECT l_src, d, 0 FROM $d)
         |  GROUP BY p
         |), $sOut AS (
         |  SELECT p, least(${FxHi}::HUGEINT, greatest(${FxLo}::HUGEINT,
         |      (wins::HUGEINT * ${FxNum}::HUGEINT) // dsum))::BIGINT AS s,
         |    wins, c
         |  FROM $agg
         |)""".stripMargin
    }
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    (100 * len(list_filter(list_transform(
       |       list_filter(string_split(coalesce(text, ''), ' '), w -> w <> ''), w -> lower(w)),
       |       w -> w IN ('the','a','an','and','of','to','in','is','on','for')))
       |     + len(list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '')))::BIGINT AS q
       |  FROM documents
       |), pairs AS (
       |  SELECT doc_id // 2 AS m,
       |    max(CASE WHEN doc_id % 2 = 0 THEN source END) AS src_a,
       |    max(CASE WHEN doc_id % 2 = 1 THEN source END) AS src_b,
       |    max(CASE WHEN doc_id % 2 = 0 THEN q END) AS qa,
       |    max(CASE WHEN doc_id % 2 = 1 THEN q END) AS qb
       |  FROM scored GROUP BY 1
       |), matches AS (
       |  SELECT m,
       |    CASE WHEN qa >= qb THEN src_a ELSE src_b END AS w_src,
       |    CASE WHEN qa >= qb THEN src_b ELSE src_a END AS l_src
       |  FROM pairs
       |  WHERE src_a IS NOT NULL AND src_b IS NOT NULL AND src_a <> src_b
       |), s0 AS (
       |  SELECT p, ${FxOne}::BIGINT AS s FROM (
       |    SELECT DISTINCT w_src AS p FROM matches
       |    UNION SELECT DISTINCT l_src FROM matches)
       |), ${iter(0)}, ${iter(1)}, ${iter(2)}
       |SELECT p AS source, c AS n_matches, wins AS n_wins, s AS strength_fx
       |FROM s3""".stripMargin
  }
}

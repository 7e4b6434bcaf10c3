package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Graft

/** Distributed binary logistic regression over hashed token features —
  * the trainable quality classifier one step up from Naive Bayes
  * (fastText-shaped: bag of hashed tokens, linear model, sigmoid).
  *
  * Training is full-batch gradient descent: per epoch, one corpus pass
  * computes every document's margin under the broadcast weight vector
  * and aggregates the per-feature gradient with a keyed sum whose key
  * space is bounded by numFeatures — the corpus itself never shuffles,
  * and the weight vector (numFeatures+1 doubles, bias last) round-trips
  * through the driver once per epoch. That is the classic distributed
  * LR shape: epochs × (broadcast + bounded keyed agg), no per-row
  * state on the driver.
  *
  * Determinism: gradients are float sums over a shuffle — bit-identical
  * only per plan, so train() is reproducible but not
  * partitioning-invariant in the last ulp; tests compare against a
  * local reference within 1e-6. */
object LogReg {

  /** Hashed tf feature pairs of one document: (featureIdx, tf), bias
    * NOT included. */
  private def featurize(text: String, numFeatures: Int): Array[(Int, Double)] = {
    val counts = scala.collection.mutable.HashMap.empty[Int, Double]
    text.split(" ").foreach { w =>
      if (w.nonEmpty) {
        val f = java.lang.Math.floorMod(Graft.polyHash(w), numFeatures.toLong).toInt
        counts.update(f, counts.getOrElse(f, 0.0) + 1.0)
      }
    }
    counts.toArray.sortBy(_._1)
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Train `epochs` full-batch GD steps from w = 0. `label` must be
    * 0/1 (castable to double). Returns numFeatures+1 weights, bias
    * last. */
  def train(df: DataFrame, label: String, text: String,
            numFeatures: Int = 256, epochs: Int = 3,
            learningRate: Double = 0.5): Array[Double] = graft.Frames.scope {
    val data = graft.Frames.shared(df.select(col(label).cast("double"),
      coalesce(col(text), lit(""))))
    val n = data.count().toDouble
    val sc = df.sparkSession.sparkContext
    val w = new Array[Double](numFeatures + 1)
    val enc = Encoders.row(StructType(Seq(
      StructField("f", IntegerType), StructField("g", DoubleType))))
    var epoch = 0
    while (epoch < epochs) {
      val bw = sc.broadcast(w.clone())
      val grad = data.mapPartitions { rows =>
        val wv = bw.value
        rows.flatMap { r =>
          val y = r.getDouble(0)
          val fs = featurize(r.getString(1), numFeatures)
          var z = wv(numFeatures)
          fs.foreach { case (f, tf) => z += wv(f) * tf }
          val resid = sigmoid(z) - y
          fs.iterator.map { case (f, tf) => Row(f, resid * tf) } ++
            Iterator(Row(numFeatures, resid)) // bias gradient
        }
      }(enc)
        .groupBy(col("f")).agg(sum(col("g")).as("g"))
        .collect() // bounded: numFeatures+1 rows
      grad.foreach { r =>
        w(r.getInt(0)) -= learningRate * r.getDouble(1) / n
      }
      epoch += 1
    }
    w
  }

  /** Score with a trained weight vector: (id, prob rounded to 4 dp,
    * pred 0/1 at the 0.5 boundary). Broadcast weights + per-row
    * kernel — shuffle-free over a wide corpus ([[Spread.widen]]). */
  def score(df: DataFrame, id: String, text: String,
            weights: Array[Double], numFeatures: Int = 256): DataFrame = {
    require(weights.length == numFeatures + 1,
      s"weights.length ${weights.length} != numFeatures+1 ${numFeatures + 1}")
    val bw = df.sparkSession.sparkContext.broadcast(weights)
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType), StructField("prob", DoubleType),
      StructField("pred", LongType))))
    Spread.widen(df.select(col(id).cast("long"), coalesce(col(text), lit(""))))
      .mapPartitions { rows =>
        val wv = bw.value
        rows.map { r =>
          val fs = featurize(r.getString(1), numFeatures)
          var z = wv(wv.length - 1)
          fs.foreach { case (f, tf) => z += wv(f) * tf }
          val p = sigmoid(z)
          Row(r.getLong(0),
            BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            if (p >= 0.5) 1L else 0L)
        }
      }(enc)
  }

  /** Gate binding: is-English classifier trained on the fixture's lang
    * tag (en vs rest), 256 hashed features, 3 epochs — then the whole
    * corpus scored. Rows-only gate (iterative float training has no
    * SQL oracle); LogRegSpec pins local-reference parity + separable
    * accuracy. The hash-oracled sibling is [[qLrClassifyFixed]]. */
  def qLrClassify(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      // when/otherwise, not a bare cast: a NULL lang must label 0.0
      // (=== yields NULL and train's getDouble would NPE), matching
      // the oracle's CASE WHEN on the fixed sibling
      .select(col("doc_id"), col("text"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val w = train(docs, "y", "text", numFeatures = 256, epochs = 3)
    score(docs, "doc_id", "text", w, numFeatures = 256)
  }

  // ---------- fixed-point (hash-oracle-able) training ----------

  /** Fixed-point scale: weights and quantized residuals live in units
    * of 2⁻²⁰. A power of two, so int→double scaling is EXACT (only the
    * exponent moves) — the telescoped-integer argument applied to
    * gradient descent. */
  private[ops] val FixedScale = 1048576.0 // 2^20
  private[ops] val FixedFeatures = 256
  private[ops] val FixedEpochs = 3

  /** Base-31 polynomial token hash mod 2³¹, mod numFeatures — THE
    * shared engine-replicable rule ([[graft.api.Graft]]'s polyExtend,
    * replayed by every selection oracle as
    * `list_reduce(..., (acc,c) -> (acc*31 + c) % 2147483648)`; its
    * BMP replay scope is documented there, not re-stated here). */
  private def fixedFeature(w: String, numFeatures: Int): Int =
    (graft.api.Graft.polyExtend(0L, w) % numFeatures).toInt

  /** Per-doc (feature, tf) pairs under [[fixedFeature]], tf integral. */
  private def featurizeFixed(text: String, numFeatures: Int): Array[(Int, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[Int, Long]
    text.split(" ").foreach { w =>
      if (w.nonEmpty) {
        val f = fixedFeature(w, numFeatures)
        counts.update(f, counts.getOrElse(f, 0L) + 1L)
      }
    }
    counts.toArray.sortBy(_._1)
  }

  /** The squashing function of the fixed path: σ̂(z) = ½ + ½·z/(1+|z|)
    * — a RATIONAL sigmoid surrogate (same shape, same fixpoint at ½,
    * same monotonicity). Rational because IEEE-754 specifies +,×,÷,abs
    * exactly, so any engine computing this expression tree on the same
    * double gets the same bits — unlike exp(), whose libm differs
    * across engines in ulps and would break the oracle. */
  @inline private def fastSigmoid(z: Double): Double =
    0.5 + 0.5 * (z / (1.0 + math.abs(z)))

  /** Integer-weight full-batch GD — every cross-engine-visible number
    * exact or single-IEEE-op deterministic, which is what puts the
    * trained CLASSIFIER (not just its scores) under the DuckDB hash
    * oracle:
    *
    *  - weights are LONGS in 2⁻²⁰ units; the per-doc margin
    *    Z = w_bias + Σ w_f·tf_f is exact integer arithmetic, and
    *    z = Z/2²⁰ is an exact double (power-of-two scaling);
    *  - the residual σ̂(z) − y is one division + adds (deterministic),
    *    then micro-quantized to the integer rq = ⌊resid·2²⁰ + ½⌋, so
    *    the per-feature gradient Σ rq·tf is a sum of exact integers —
    *    order-free, partitioning-invariant, engine-identical (the
    *    q_pass_at_k telescoping argument). The exactness bound is
    *    n_contributions(f) · max|rq·tf| < 2⁶³ per feature (|rq| ≤ 2²⁰,
    *    tf = the doc's term count in bucket f): int64 sums would wrap
    *    silently past it while the oracle's HUGEINT doesn't, so each
    *    epoch ASSERTS the bound from the aggregated per-feature
    *    max/count — a scale-up fails loudly instead of diverging;
    *  - the update Δw_f = ⌊lr·G_f/n + ½⌋ is two exact steps (lr = ½ is
    *    a power of two; G_f, n exact) around one IEEE division.
    *
    * Same 100 TB shape as [[train]]: epochs × (broadcast weights +
    * bounded keyed agg); the corpus never shuffles. */
  def trainFixed(df: DataFrame, label: String, text: String,
                 numFeatures: Int = FixedFeatures,
                 epochs: Int = FixedEpochs): Array[Long] = graft.Frames.scope {
    val data = graft.Frames.shared(df.select(col(label).cast("double"),
      coalesce(col(text), lit(""))))
    val n = data.count()
    val sc = df.sparkSession.sparkContext
    val w = new Array[Long](numFeatures + 1)
    val enc = Encoders.row(StructType(Seq(
      StructField("f", IntegerType), StructField("g", LongType))))
    var epoch = 0
    while (epoch < epochs) {
      val bw = sc.broadcast(w.clone())
      val grad = data.mapPartitions { rows =>
        val wv = bw.value
        rows.flatMap { r =>
          val y = r.getDouble(0)
          val fs = featurizeFixed(r.getString(1), numFeatures)
          var zi = wv(numFeatures)
          fs.foreach { case (f, tf) => zi += wv(f) * tf }
          val z = zi.toDouble / FixedScale
          val rq = math.floor((fastSigmoid(z) - y) * FixedScale + 0.5).toLong
          fs.iterator.map { case (f, tf) => Row(f, rq * tf) } ++
            Iterator(Row(numFeatures, rq)) // bias gradient
        }
      }(enc)
        // g plus the overflow witness: every partial sum of c values
        // each ≤ mx in magnitude is ≤ mx·c, so mx·c < 2⁶³ proves the
        // int64 sum never wrapped in ANY accumulation order
        .groupBy(col("f")).agg(sum(col("g")).as("g"),
          max(abs(col("g"))).as("mx"), count(lit(1)).as("c"))
        .collect() // bounded: numFeatures+1 rows
      grad.foreach { r =>
        val mx = r.getLong(2); val c = r.getLong(3)
        require(mx == 0L || mx <= Long.MaxValue / c,
          s"trainFixed gradient overflow risk at feature ${r.getInt(0)}: " +
            s"max|rq*tf|=$mx over $c contributions exceeds the int64 bound " +
            "(n_contributions * max|rq*tf| must stay < 2^63); reduce corpus " +
            "size per batch or cap per-doc term frequency")
        w(r.getInt(0)) -= math.floor(0.5 * r.getLong(1).toDouble / n.toDouble + 0.5).toLong
      }
      epoch += 1
    }
    w
  }

  /** Score with fixed-point weights: (id, prob, pred). prob is the
    * rational sigmoid rounded by ⌊p·10⁴ + ½⌋/10⁴ (both engines run
    * the identical float steps, so the rounding is bit-stable); pred
    * is the sign of the exact integer margin. */
  def scoreFixed(df: DataFrame, id: String, text: String,
                 weights: Array[Long],
                 numFeatures: Int = FixedFeatures): DataFrame = {
    require(weights.length == numFeatures + 1,
      s"weights.length ${weights.length} != numFeatures+1 ${numFeatures + 1}")
    val bw = df.sparkSession.sparkContext.broadcast(weights)
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType), StructField("prob", DoubleType),
      StructField("pred", LongType))))
    Spread.widen(df.select(col(id).cast("long"), coalesce(col(text), lit(""))))
      .mapPartitions { rows =>
        val wv = bw.value
        rows.map { r =>
          val fs = featurizeFixed(r.getString(1), numFeatures)
          var zi = wv(wv.length - 1)
          fs.foreach { case (f, tf) => zi += wv(f) * tf }
          val p = fastSigmoid(zi.toDouble / FixedScale)
          Row(r.getLong(0),
            math.floor(p * 10000.0 + 0.5) / 10000.0,
            if (zi >= 0L) 1L else 0L)
        }
      }(enc)
  }

  /** The hash-oracled classifier gate: same task as [[qLrClassify]]
    * (is-English on the fixture lang tag, 256 features, 3 epochs) with
    * [[trainFixed]]'s integer-quantized arithmetic, so DuckDB replays
    * the ENTIRE training trajectory — three unrolled epochs of
    * margin → residual → gradient → update — and the scored corpus
    * hash-matches. The float path keeps the production-default role;
    * LogRegSpec pins the two paths' prediction agreement. */
  def qLrClassifyFixed(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      // NULL lang labels 0.0 — identical to the oracle's CASE WHEN
      // (a bare === cast would yield NULL y and NPE in trainFixed)
      .select(col("doc_id"), col("text"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val w = trainFixed(docs, "y", "text")
    scoreFixed(docs, "doc_id", "text", w)
  }

  /** DuckDB replay of [[qLrClassifyFixed]]: the three GD epochs
    * unrolled as CTE stages over a dense 257-row weight table. Every
    * boundary number is either an exact integer (margins, gradients,
    * weights, tf) or one IEEE op away from exact inputs — see
    * [[trainFixed]]. */
  val lrClassifyFixedOracle: String = {
    val F = FixedFeatures
    val S = "1048576.0::DOUBLE"
    // one epoch: weights w{k} -> margins z{k+1} -> residuals r{k+1} ->
    // gradients g{k+1} -> weights w{k+1}
    def epoch(k: Int): String = {
      val (wIn, z, r, g, wOut) = (s"w$k", s"z${k + 1}", s"r${k + 1}", s"g${k + 1}", s"w${k + 1}")
      s"""$z AS (
         |  SELECT d.doc_id, d.y,
         |    ((SELECT wv FROM $wIn WHERE f = $F)
         |      + coalesce(sum(fe.tf * w.wv), 0))::BIGINT AS zi
         |  FROM docs d
         |  LEFT JOIN feats fe ON fe.doc_id = d.doc_id
         |  LEFT JOIN $wIn w ON w.f = fe.f
         |  GROUP BY d.doc_id, d.y
         |), $r AS (
         |  SELECT doc_id,
         |    floor(((0.5::DOUBLE + 0.5::DOUBLE * (z / (1.0::DOUBLE + abs(z)))) - y)
         |      * $S + 0.5::DOUBLE)::BIGINT AS rq
         |  FROM (SELECT doc_id, y, zi::DOUBLE / $S AS z FROM $z)
         |), $g AS (
         |  SELECT f, sum(gg)::BIGINT AS g FROM (
         |    SELECT fe.f AS f, r.rq * fe.tf AS gg FROM $r r JOIN feats fe USING (doc_id)
         |    UNION ALL
         |    SELECT $F AS f, rq AS gg FROM $r)
         |  GROUP BY f
         |), $wOut AS (
         |  SELECT w.f,
         |    (w.wv - floor(0.5::DOUBLE * coalesce(g.g, 0)::DOUBLE
         |      / (SELECT n FROM nn) + 0.5::DOUBLE)::BIGINT)::BIGINT AS wv
         |  FROM $wIn w LEFT JOIN $g g USING (f)
         |)""".stripMargin
    }
    val epochs = (0 until FixedEpochs).map(epoch).mkString(", ")
    val wFinal = s"w$FixedEpochs"
    s"""WITH docs AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
       |  FROM documents
       |), feats AS (
       |  SELECT doc_id,
       |    (list_reduce(
       |      list_prepend(0::BIGINT, list_transform(string_split(w, ''), c -> ascii(c)::BIGINT)),
       |      (acc, c) -> (acc * 31 + c) % 2147483648) % $F)::INT AS f,
       |    count(*)::BIGINT AS tf
       |  FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(coalesce(text, ''), ' '), t -> t <> '')) AS w
       |    FROM documents)
       |  GROUP BY 1, 2
       |), nn AS (SELECT count(*)::DOUBLE AS n FROM docs),
       |w0 AS (SELECT unnest(range(0, ${F + 1}))::INT AS f, 0::BIGINT AS wv),
       |$epochs
       |SELECT doc_id,
       |  floor((0.5::DOUBLE + 0.5::DOUBLE * (z / (1.0::DOUBLE + abs(z))))
       |    * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE AS prob,
       |  (CASE WHEN zi >= 0 THEN 1 ELSE 0 END)::BIGINT AS pred
       |FROM (
       |  SELECT doc_id, zi, zi::DOUBLE / $S AS z FROM (
       |    SELECT d0.doc_id,
       |      ((SELECT wv FROM $wFinal WHERE f = $F)
       |        + coalesce(sum(fe.tf * w.wv), 0))::BIGINT AS zi
       |    FROM docs d0
       |    LEFT JOIN feats fe ON fe.doc_id = d0.doc_id
       |    LEFT JOIN $wFinal w ON w.f = fe.f
       |    GROUP BY d0.doc_id))""".stripMargin
  }
}

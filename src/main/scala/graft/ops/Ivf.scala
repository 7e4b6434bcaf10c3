package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecMath.{dot, norm}

/** Deterministic IVF (inverted-file) index over `array<float>` vector
  * columns — the 100 TB shape for similarity search and embedding
  * near-dedup (north star; the reference has no vector surface).
  *
  * Centroids are trained by spherical k-means on a deterministic,
  * bounded sample: driver memory is O(sampleCap × dim) — constant in
  * corpus size — which is the standard centroid-training pattern (one
  * sample scan + a local Lloyd loop beats nlist×iters distributed jobs
  * for an index whose whole point is that nlist ≪ n). Everything is
  * order-fixed (sample sorted by id, accumulation in index order, ties
  * broken on cell id) so the index is bit-reproducible across runs,
  * partitionings and cluster sizes.
  *
  * Cell assignment is a map-only kernel (no shuffle): each row computes
  * cosine to the ≤nlist unit-norm centroids carried in the task closure
  * and emits its `nprobe` nearest cells. Downstream consumers join on
  * the cell id — an equi-join, never a cross product.
  */
object Ivf {

  /** @param nlist      number of Voronoi cells; ≤0 (the default) derives
    *                    ≈√n at train time — clamp(⌈√n⌉, 16, sampleCap) —
    *                    the standard IVF sizing that keeps both the
    *                    per-row assignment scan (O(nlist)) and the mean
    *                    cell population (O(n/nlist)) at O(√n). A fixed
    *                    nlist would make the cell join O(n²/nlist) at
    *                    10⁹ vectors.
    * @param nprobe     cells probed per query; ≤0 (the default) derives
    *                    max(4, ⌈nlist/3⌉) so the probed fraction of the
    *                    corpus stays fixed as nlist scales instead of
    *                    collapsing to 4/√n. Clustered production
    *                    embeddings tolerate a much smaller explicit
    *                    nprobe; the default is sized so recall ≥ 0.8
    *                    holds even on isotropic (worst-case) vectors.
    * @param corpusAssign index replication: each corpus vector is
    *                    stored in its `corpusAssign` nearest cells
    *                    (FAISS-style spilled assignment). ×2 storage
    *                    buys back the recall lost to Voronoi boundary
    *                    effects (measured 0.56 → 0.84+ at fixed nprobe
    *                    on isotropic 64-d fixtures) without touching
    *                    per-query probe cost.
    * @param sampleCap  max vectors collected for centroid training
    *                    (driver memory is O(sampleCap × dim), constant
    *                    in corpus size)
    * @param lloydIters spherical k-means refinement iterations */
  final case class Params(
      nlist: Int = 0,
      nprobe: Int = 0,
      corpusAssign: Int = 2,
      sampleCap: Int = 4096,
      lloydIters: Int = 5) {

    /** Effective cell count for a corpus of n vectors. */
    def resolveNlist(n: Long): Int =
      if (nlist > 0) nlist
      else math.max(16, math.min(sampleCap,
        math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt))

    /** Effective probe count given the trained cell count. */
    def resolveNprobe(cells: Int): Int =
      if (nprobe > 0) math.min(nprobe, cells)
      else math.min(cells, math.max(4, (cells + 2) / 3))
  }

  /** A trained, persistable IVF index: unit-norm centroids plus the
    * per-cell max member angle ("radius", radians) measured over the
    * corpus the index covers. Production recurring dedup trains once
    * and amortizes the index across crawls ([[save]]/[[load]]); the
    * radius-rule probing ([[assignWithinRadii]]) stays COMPLETE under a
    * stale index as long as `radii` still bounds every covered vector —
    * consumers joining new data against an indexed corpus must take the
    * max with the new members' measured angles (see
    * [[graft.api.Graft.embedNearDup]] and
    * [[graft.streaming.IncrementalEmbedDedup]]). */
  final case class Index(centroids: Array[Array[Double]], radii: Array[Double]) {
    require(centroids.length == radii.length,
      s"index has ${centroids.length} centroids but ${radii.length} radii")
    def nlist: Int = centroids.length
  }

  /** Train a persistable index on `df`: centroids by spherical k-means
    * on the bounded sample, radii from every row's home assignment (one
    * map-only pass + an nlist-sized aggregate). */
  def train(df: DataFrame, id: String, vec: String, p: Params = Params()): Index = {
    val centroids = trainCentroids(df, id, vec, p)
    Index(centroids, measureRadii(df, id, vec, centroids))
  }

  /** Per-cell max home-assignment angle of `df`'s rows — the measured
    * cell radii the completeness proof of [[assignWithinRadii]] needs.
    * Never-populated cells get radius 0 (an empty cell holds no
    * qualifying partner, so probing it is never required). The result
    * is nlist-sized (≤ sampleCap) — driver-safe by construction. */
  def measureRadii(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]]): Array[Double] = {
    val radii = new Array[Double](centroids.length)
    assign(df, id, vec, centroids, 1)
      .groupBy(col("cell")).agg(max(col("cell_angle")).as("r"))
      .collect().foreach(r => radii(r.getInt(0)) = r.getDouble(1))
    radii
  }

  /** Persist an index as one tiny parquet of (cell, centroid, radius) —
    * nlist rows, a single file; readable by any engine. Overwrites. */
  def save(spark: SparkSession, dir: String, index: Index): Unit = {
    val rows = index.centroids.indices.map(c =>
      (c, index.centroids(c).toSeq, index.radii(c)))
    spark.createDataFrame(rows).toDF("cell", "centroid", "radius")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Load an index written by [[save]]. Bit-identical round-trip:
    * centroids and radii are stored as the same doubles they held in
    * memory, so a saved-then-loaded index reproduces exactly the pairs
    * a fresh train on the same corpus would. */
  def load(spark: SparkSession, dir: String): Index = {
    val rows = spark.read.parquet(dir).select("cell", "centroid", "radius").collect()
    val centroids = new Array[Array[Double]](rows.length)
    val radii = new Array[Double](rows.length)
    rows.foreach { r =>
      val c = r.getInt(0)
      require(c >= 0 && c < rows.length, s"index at $dir has cell id $c out of range")
      centroids(c) = r.getSeq[Double](1).toArray
      radii(c) = r.getDouble(2)
    }
    require(!centroids.contains(null), s"index at $dir is missing cells")
    Index(centroids, radii)
  }

  /** A fully ENGINE-REPLICABLE index: centroids are the unit-normalized
    * corpus vectors with `id ≡ 0 (mod s)`, s = max(1, n / ⌈√n⌉), cell =
    * rank in id order — no k-means, so any SQL engine can reconstruct
    * the identical cell geometry from the data alone (`WHERE id % s = 0
    * ORDER BY id`) and replay an IVF query bit-for-bit. This is what
    * lets the IVF-path gate queries (q_hard_negatives_ivf,
    * q_knn_classify_ivf) sit under the full DuckDB hash oracle instead
    * of a rows-only check: the approximation itself is deterministic
    * and portable. nlist still scales as ≈√n, so the equi-join-on-cell
    * plan shape and its cost curve match [[train]]'s; Lloyd-refined
    * centroids only tighten cells (better recall at equal cost).
    * Driver memory is O(√n · dim) — for corpora past ~10⁸ vectors use
    * [[train]] (sampleCap-bounded) and give up oracle replay. */
  def strideIndex(df: DataFrame, id: String, vec: String): Index = {
    val n = df.count()
    require(n > 0, "strideIndex needs a non-empty corpus")
    val s = math.max(1L, n / math.ceil(math.sqrt(n.toDouble)).toLong)
    val centroids = df.filter(pmod(col(id), lit(s)) === 0)
      .sort(col(id)).select(col(vec)).collect()
      .map(r => unit(r.getSeq[Float](0).toArray.map(_.toDouble)))
    // ids need not be dense, but SOME id must hit the stride — assign
    // over zero centroids would silently emit zero rows downstream
    // (semDedup would drop the whole corpus), the loud-failure sibling
    // of trainCentroids' non-empty-sample require
    require(centroids.nonEmpty,
      s"strideIndex: no $id ≡ 0 (mod $s) over $n rows — ids too sparse " +
        "for the stride rule; densify ids or use train()")
    Index(centroids, new Array[Double](centroids.length))
  }

  /** Unit-normalized centroids from a deterministic stride sample of the
    * corpus (ids `≡ 0 (mod ⌈n/sampleCap⌉)`, sorted), refined by
    * `lloydIters` spherical Lloyd steps. Empty clusters keep their
    * previous centroid. Returns ≤ nlist rows of (cellId, unit vector). */
  def trainCentroids(df: DataFrame, id: String, vec: String, p: Params): Array[Array[Double]] = {
    val n = df.count()
    val step = math.max(1L, n / math.max(p.sampleCap, 1))
    val sample: Array[Array[Double]] = df
      .filter(pmod(col(id), lit(step)) === 0)
      .sort(col(id))
      .limit(p.sampleCap)
      .select(col(vec))
      .collect()
      .map(r => unit(r.getSeq[Float](0).toArray.map(_.toDouble)))
    require(sample.nonEmpty, "IVF training sample is empty")
    val k = math.min(p.resolveNlist(n), sample.length)

    // seed: k sample vectors spread evenly across the (id-sorted) sample
    var centroids = Array.tabulate(k)(i => sample((i.toLong * sample.length / k).toInt).clone())

    var iter = 0
    while (iter < p.lloydIters) {
      val sums = Array.fill(k)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestCell(v, 1.0, centroids)
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) else unit(sums(c))
      }
      iter += 1
    }
    centroids
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val nrm = norm(v)
    if (nrm == 0.0) v else v.map(_ / nrm)
  }

  /** Index of the centroid with max cos(v, c) = dot(v, c)/|v| (centroids
    * are unit vectors); ties break on the lower cell id (strict `>`). */
  private def nearestCell(v: Array[Double], vnrm: Double, centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestCos = -2.0
    var c = 0
    while (c < centroids.length) {
      val cos = dot(v, centroids(c)) / vnrm
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  private def assignSchema(id: String, vec: String,
      extraFields: Seq[StructField]): StructType = StructType(Seq(
    StructField(id, LongType),
    StructField(vec, ArrayType(FloatType)),
    StructField("nrm", DoubleType),
    StructField("cell", IntegerType),
    StructField("cell_rank", IntegerType),
    StructField("cell_angle", DoubleType)) ++ extraFields)

  /** Explode each row to its `nprobe` nearest cells:
    * (id, vec, nrm, cell, cell_rank) with cell_rank 0 = nearest.
    * Map-only (the centroid array rides in the task closure);
    * shuffle-free on a wide input — only a narrow (single-split) input
    * is first spread across the cluster ([[Spread.widen]]).
    * `extra` columns of `df` are carried through opaquely (e.g. a
    * label riding alongside the vector), so consumers that need them
    * avoid a corpus-scale join back on the id. */
  def assign(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]], nprobe: Int,
      extra: Seq[String] = Nil): DataFrame =
    assignImpl(df, id, vec, centroids, cells =>
      cells.sortBy(cellRank).take(math.min(nprobe, cells.length)), extra)

  /** Explode each row to every cell within angular MARGIN of its nearest
    * cell: cells with θ(v,c) ≤ θ(v, nearest) + marginRad, nearest first.
    *
    * This is the provably-complete probing rule for near-dup blocking at
    * cosine threshold t with marginRad = 2·acos(t): for any qualifying
    * pair (a,b), spherical triangle inequality gives
    *   θ(b, home(a)) ≤ θ(b,a) + θ(a, home(a))
    *                 ≤ θ(b,a) + θ(a, home(b)) ≤ 2·θ(a,b) + θ(b, home(b)),
    * so a's home cell is always inside b's probe radius. Tight
    * thresholds probe few cells (subquadratic candidates); loose ones
    * degrade gracefully toward probing all cells — still an equi-join,
    * never a nested loop. */
  def assignWithin(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]], marginRad: Double): DataFrame =
    assignImpl(df, id, vec, centroids, { cells =>
      // sorted by (-cos, cell) ⇒ angles are non-decreasing (acos is
      // monotone non-increasing), so takeWhile on the angle is exact
      val sorted = cells.sortBy(cellRank)
      val cut = sorted.head._2 + marginRad + 1e-9 // FP fuzz on the boundary
      sorted.takeWhile(_._2 <= cut)
    })

  /** Explode each row to every cell c with θ(v, centroid_c) ≤
    * radii(c) + maxPairRad — the per-cell-radius probing rule, tighter
    * than [[assignWithin]] on clustered data and equally COMPLETE: a
    * qualifying partner b homed in cell c gives, by the triangle
    * inequality, θ(v, c) ≤ θ(v, b) + θ(b, c) ≤ maxPairRad + radii(c).
    * Tight clusters (small radii) probe ≈ the cells within acos(t) of
    * v; diffuse cells (radii → 90°) degrade to the same
    * exhaustive-but-distributed fallback as the margin rule — never a
    * nested loop. `radii` is nlist-sized (≤ sampleCap), safely in the
    * task closure. */
  def assignWithinRadii(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]], radii: Array[Double], maxPairRad: Double): DataFrame =
    assignImpl(df, id, vec, centroids, { cells =>
      cells.filter { case (_, a, c) => a <= radii(c) + maxPairRad + 1e-9 }
        .sortBy(cellRank)
    })

  /** Cell ordering key: raw cosine DESC, cell id ASC — the SAME
    * comparison key the hash oracles use (`ORDER BY ccos DESC, cell`),
    * so the engine and the oracle can never diverge on a tie. The
    * + 0.0 collapses a -0.0 cosine to +0.0 (IEEE-equal values must
    * tie-break by cell, not by sign bit). Ranking by the acos'd angle
    * instead would be monotone but NOT injective: near cos ≈ 0 the
    * angle ulp (~2.2e-16 at π/2) is about twice the cos ulp, so two
    * adjacent cos doubles can round to the SAME angle and the engine
    * would tie-break by cell where the oracle orders by cos. */
  private def cellRank(cell: (Double, Double, Int)): (Double, Int) =
    (-(cell._1 + 0.0), cell._3)

  private def assignImpl(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]],
      pick: Array[(Double, Double, Int)] => Array[(Double, Double, Int)],
      extra: Seq[String] = Nil): DataFrame = {
    val extraFields = extra.map(c => df.schema(c))
    val enc = Encoders.row(assignSchema(id, vec, extraFields))
    val nExtra = extra.length
    Spread.widen(df.select((Seq(col(id), col(vec)) ++ extra.map(col)): _*))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val vf = r.getSeq[Float](1).toArray
          val v = vf.map(_.toDouble)
          val nrm = norm(v)
          // (cos to cell, angle to cell, cell id): centroids are unit
          // vectors, so cos = dot/|v|. Ranking uses the RAW cos
          // ([[cellRank]]); the angle exists only for the radius
          // rules, clamped for acos domain safety.
          val cells = Array.tabulate(centroids.length) { c =>
            val cos = if (nrm == 0.0) 0.0 else dot(v, centroids(c)) / nrm
            (cos, math.acos(math.max(-1.0, math.min(1.0, cos))), c)
          }
          val extras = Array.tabulate[Any](nExtra)(k => r.get(2 + k))
          pick(cells).iterator.zipWithIndex.map { case ((_, a, c), rank) =>
            Row.fromSeq(Seq(r.getLong(0), vf.toSeq, nrm, c, rank, a) ++ extras)
          }
        }
      }(enc)
  }
}

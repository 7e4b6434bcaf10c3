package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecMath.{norm, round12}

/** Deterministic product quantization (PQ) over `array<float>` vector
  * columns — the COMPRESSED-vector ANN path (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", the IVFADC family).
  *
  * Why it exists at 100 TB: raw float embeddings are the widest column
  * in a training corpus (64-d float = 256 B/row; production 1024-d =
  * 4 KB/row). PQ stores one BYTE per subspace (m=8 → 32× compression
  * here), so the similarity scan reads code bytes instead of vectors,
  * and the asymmetric-distance computation (ADC) scores a corpus row
  * with m table lookups instead of a dim-length dot product. Exactness
  * is recovered where it matters: the PQ scan only builds a per-query
  * SHORTLIST, which is reranked with exact cosine on the (tiny) set of
  * fetched original vectors — errors in the code approximation can
  * only cost recall, never wrong scores in the output.
  *
  * Determinism: training samples by id stride (sorted), k-means
  * accumulates in sample order, assignment ties break on the lower
  * code, shortlists tie-break on (score, id) — the whole pipeline is
  * reproducible across runs, partitionings and cluster sizes.
  */
object Pq {

  /** @param m          subspaces (vector dim must divide evenly;
    *                    code bytes per vector = m)
    * @param ksub       centroids per subspace (≤ 256 — codes are bytes)
    * @param sampleCap  max vectors collected for codebook training
    *                    (driver memory O(sampleCap × dim), constant in
    *                    corpus size — same contract as [[Ivf]])
    * @param lloydIters k-means refinement iterations per subspace */
  final case class Params(
      m: Int = 8,
      ksub: Int = 256,
      sampleCap: Int = 4096,
      lloydIters: Int = 8) {
    require(ksub >= 1 && ksub <= 256, s"ksub must fit one byte, got $ksub")
    require(m >= 1, s"m must be >= 1, got $m")
  }

  /** Trained codebooks: `books(s)(j)` = centroid j of subspace s. */
  final case class Codebooks(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ksub: Int = books(0).length
    def dsub: Int = books(0)(0).length
    def dim: Int = m * dsub
  }

  /** Train per-subspace codebooks on a deterministic stride sample
    * (ids ≡ 0 mod ⌈n/sampleCap⌉, sorted) — one sample scan + m local
    * Lloyd loops; driver memory constant in corpus size. */
  def train(df: DataFrame, id: String, vec: String, p: Params = Params()): Codebooks = {
    val n = df.count()
    val step = math.max(1L, n / math.max(p.sampleCap, 1))
    val sample: Array[Array[Double]] = df
      .filter(pmod(col(id), lit(step)) === 0)
      .sort(col(id))
      .limit(p.sampleCap)
      .select(col(vec))
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample(0).length
    require(dim % p.m == 0, s"dim $dim is not divisible by m=${p.m}")
    val dsub = dim / p.m
    val books = Array.tabulate(p.m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      kmeansL2(sub, math.min(p.ksub, sub.length), p.lloydIters)
    }
    Codebooks(books)
  }

  /** Plain (L2) Lloyd on a local sample: seeds spread evenly across the
    * id-sorted sample, empty clusters keep their previous centroid —
    * the [[Ivf.trainCentroids]] recipe minus the sphere projection
    * (subvectors are not unit vectors). */
  private def kmeansL2(xs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    var cents = Array.tabulate(k)(i => xs((i.toLong * xs.length / k).toInt).clone())
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(k)(new Array[Double](cents(0).length))
      val counts = new Array[Long](k)
      xs.foreach { v =>
        val c = nearestCode(v, 0, cents)
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }
      iter += 1
    }
    cents
  }

  /** Index of the L2-nearest centroid to `v(off until off+dsub)`; ties
    * break on the lower code (strict `<`). */
  private def nearestCode(v: Array[Double], off: Int, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var d = 0.0
      var i = 0
      while (i < cv.length) {
        val diff = v(off + i) - cv(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Map-only encode: (id, code binary[m], nrm double). The norm rides
    * with the code so ADC can report approximate COSINE without ever
    * re-reading the vector. A narrow (single-split) input is spread
    * across the cluster before the CPU-bound kernel; a wide input
    * encodes where it lives, shuffle-free ([[Spread.widen]]). */
  def encode(df: DataFrame, id: String, vec: String, cb: Codebooks): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType),
      StructField("code", BinaryType),
      StructField("nrm", DoubleType))))
    val books = cb.books
    val dsub = cb.dsub
    Spread.widen(df.select(col(id).cast("long"), col(vec)))
      .mapPartitions { rows =>
        rows.map { r =>
          val v = r.getSeq[Float](1).toArray.map(_.toDouble)
          val code = new Array[Byte](books.length)
          var s = 0
          while (s < books.length) {
            code(s) = nearestCode(v, s * dsub, books(s)).toByte
            s += 1
          }
          Row(r.getLong(0), code, norm(v))
        }
      }(enc)
  }

  /** ADC scan with per-partition bounded shortlists: for each query,
    * the per-partition top-`shortlist` corpus rows by approximate
    * cosine `Σ_s lut(s)(code_s) / (|q||v|)`. The m×ksub lookup tables
    * are built ONCE per (partition, query) — O(ksub·dim) — after which
    * each corpus row costs m byte-indexed adds instead of a dim-length
    * dot product. Emits ≤ partitions × |queries| × shortlist rows (the
    * global top-`shortlist` per query is a subset of the union of the
    * per-partition ones); self-matches (id == query id) are skipped,
    * and a zero vector on either side scores 0.0 (the
    * [[graft.functions.VecMath]] zero-vector rule, so a full shortlist
    * still equals exact kNN).
    * Output: (query_id, neighbor_id, adc), with `adc` ROUND-12 (the
    * gate's tie-proofing: duplicate corpus vectors produce exactly
    * equal ADC, and an unrounded (adc, id) cut at the shortlist
    * boundary would depend on the other engine's grouped-sum
    * accumulation order — round(12) makes both engines tie-break such
    * rows by id). The heap evicts on the SAME rounded key, so the
    * subset property above survives the rounding (a per-partition
    * eviction under a different key could drop a row the global
    * rounded cut keeps). */
  def adcShortlist(codes: DataFrame, id: String, cb: Codebooks,
      queries: Array[(Long, Array[Double])], shortlist: Int): DataFrame = {
    require(shortlist >= 1, s"shortlist must be >= 1, got $shortlist")
    val enc = Encoders.row(StructType(Seq(
      StructField("query_id", LongType),
      StructField("neighbor_id", LongType),
      StructField("adc", DoubleType))))
    val books = cb.books
    val m = cb.m
    val dsub = cb.dsub
    codes.select(col(id).cast("long"), col("code"), col("nrm"))
      .mapPartitions { rows =>
        val luts: Array[Array[Array[Double]]] = queries.map { case (_, q) =>
          Array.tabulate(m, books(0).length) { (s, j) =>
            var d = 0.0
            var i = 0
            while (i < dsub) { d += q(s * dsub + i) * books(s)(j)(i); i += 1 }
            d
          }
        }
        val qnrm = queries.map { case (_, q) => norm(q) }
        // eviction order: worst first = lower adc, then HIGHER id (so the
        // kept set ties toward lower ids — matching the global tiebreak)
        val worstFirst = Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))
        val heaps = Array.fill(queries.length)(new mutable.PriorityQueue[(Double, Long)]()(worstFirst))
        rows.foreach { r =>
          val nid = r.getLong(0)
          val code = r.getAs[Array[Byte]](1)
          val nrm = r.getDouble(2)
          var qi = 0
          while (qi < queries.length) {
            if (queries(qi)._1 != nid) {
              var adc = 0.0
              var s = 0
              while (s < m) { adc += luts(qi)(s)(code(s) & 0xff); s += 1 }
              // Spark round(x, 12) semantics — the same pairing every
              // round-12 oracle in the gate uses
              val cos = if (nrm == 0.0 || qnrm(qi) == 0.0) 0.0
                else round12(adc / (qnrm(qi) * nrm))
              val h = heaps(qi)
              if (h.size < shortlist) h.enqueue((cos, nid))
              else {
                val (wAdc, wId) = h.head
                if (cos > wAdc || (cos == wAdc && nid < wId)) {
                  h.dequeue()
                  h.enqueue((cos, nid))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (adc, nid) => Row(queries(qi)._1, nid, adc) }
        }
      }(enc)
  }

  /** Persist codebooks as one tiny parquet of (sub, code, centroid) —
    * m×ksub rows; readable by any engine. Overwrites. */
  def save(spark: SparkSession, dir: String, cb: Codebooks): Unit = {
    val rows = for (s <- cb.books.indices; j <- cb.books(s).indices)
      yield (s, j, cb.books(s)(j).toSeq)
    spark.createDataFrame(rows).toDF("sub", "code", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Load codebooks written by [[save]] — bit-identical round-trip. */
  def load(spark: SparkSession, dir: String): Codebooks = {
    val rows = spark.read.parquet(dir).select("sub", "code", "centroid").collect()
    require(rows.nonEmpty, s"no PQ codebooks at $dir")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    require(books.forall(_.forall(_ != null)), s"PQ codebooks at $dir are missing entries")
    Codebooks(books)
  }
}

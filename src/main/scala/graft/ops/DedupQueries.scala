package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection over `documents` — the dedup family a
  * 100 TB training-data pipeline needs (north star; the reference's
  * own dedup surface is only exact offset-based exactly-once,
  * dis/DISUtils.scala:43-45).
  *
  * Scale design:
  *  - MinHash+LSH: signatures are fixed-width (128 longs/doc) however
  *    large the doc; candidate generation is an equi-join on
  *    (band, bandHash) — shuffle ∝ docs × bands, never O(n²). The
  *    exact-Jaccard verify only touches candidate pairs.
  *  - SimHash: one 62-bit fingerprint per doc; bucket-join on the
  *    fingerprint prefix would shard hamming search at scale (here we
  *    emit fingerprints + close pairs).
  *  - n-gram Jaccard: inverted-index join on shingles (exact, for
  *    moderate corpora / gold labels).
  * All hashing is arithmetic expressible in ANSI SQL so every operator
  * here is DuckDB-oracle-checkable end to end.
  */
object DedupQueries {

  // ---- shared tokenization ----

  private def tokens(c: Column): Column = filter(split(c, " "), t => t =!= "")

  /** SQL-replicable 31-bit token hash: position-weighted char sum mixed
    * by an LCG step (`(poly * 48271) % 2147483647`). Weaker than
    * xxhash64 but bit-identical in any engine — production would swap
    * in xxhash64. Scala kernel: the Catalyst HOF formulation of this
    * (aggregate∘zip_with) is evaluated interpreted and, nested inside
    * per-permutation lambdas, was re-evaluated ~128× per shingle —
    * minutes at sf0.1. Plain Scala inside mapPartitions computes each
    * hash exactly once. */
  private[graft] def polyHashS(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) { acc += (i + 1).toLong * s.charAt(i).toLong; i += 1 }
    java.lang.Math.floorMod(acc * 48271L, 2147483647L)
  }

  private[ops] def shinglesOf(text: String): Array[String] = {
    val w = text.split(" ").filter(_.nonEmpty)
    val raw =
      if (w.length < 3) Array(text)
      else Array.tabulate(w.length - 2)(i => w(i) + " " + w(i + 1) + " " + w(i + 2))
    raw.distinct
  }

  private val MinHashK = 128
  private val Bands = 32
  private val RowsPerBand = 4 // P(candidate | J=0.8) = 1-(1-0.8^4)^32 ≈ 1-5e-8
  private val P = 1000000007L

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(StringType)),
    StructField("sig", ArrayType(LongType))))

  /** (doc_id, shingles, 128-perm MinHash signature), computed in a
    * single batched per-partition pass: sig_i = min over shingles of
    * ((2i+1)*h + i²+13) mod P with h = polyHashS(shingle). Shuffle-free
    * on a wide input; only a narrow (single-split) input is first
    * spread across the cluster ([[Spread.widen]]). */
  private[graft] def signatures(df: DataFrame, id: String, text: String): DataFrame = {
    val enc = Encoders.row(sigSchema)
    Spread.widen(df.select(col(id), col(text)))
      .mapPartitions { rows =>
        rows.map { r =>
          val sh = shinglesOf(r.getString(1))
          val hs = sh.map(polyHashS)
          val sig = new Array[Long](MinHashK)
          var i = 0
          while (i < MinHashK) {
            var min = Long.MaxValue
            var j = 0
            while (j < hs.length) {
              val v = ((2L * i + 1) * hs(j) + i.toLong * i + 13) % P
              if (v < min) min = v
              j += 1
            }
            sig(i) = min
            i += 1
          }
          Row(r.getLong(0), sh.toSeq, sig.toSeq)
        }
      }(enc)
  }

  /** Exact Jaccard on a pair of shingle arrays (set semantics). */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Near-duplicate pairs via MinHash → LSH banding → bucket join →
    * exact-Jaccard verify. Output: (id_a, id_b, jaccard) — generalized
    * entry used by [[graft.api.Graft.minhashDupes]]. */
  /** LSH band rows of a [[signatures]] frame: (doc_id, band, bandhash);
    * bandhash folds the band's signature slice so the join key is one
    * long, not an array. */
  private[graft] def bandsOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)), b =>
        aggregate(slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)),
          lit(0L), (acc, x) => pmod(acc * 31 + x, lit(P))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")

  /** Exact Jaccard on shingle arrays — shared by the self-join and the
    * incremental (batch-vs-history) verify. */
  private[graft] def jaccardCol(a: Column, b: Column): Column = jaccard(a, b)

  /** Shingle arrays for an (id, text) frame — used to verify candidates
    * against a history store without recomputing full signatures. */
  private[graft] def shingleFrame(df: DataFrame, id: String, text: String): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField("doc_id", LongType), StructField("sh", ArrayType(StringType)))))
    df.select(col(id), col(text)).mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), shinglesOf(r.getString(1)).toSeq))
    }(enc)
  }

  def minhashDupesOn(df: DataFrame, id: String, text: String, threshold: Double): DataFrame = {
    // the signature frame feeds the band self-join and both shingle
    // lookups: materialize it once (eager checkpoint beat both lazy
    // persist and recompute in an interleaved in-JVM A/B)
    val docs = signatures(df, id, text).localCheckpoint(true)
    val bands = bandsOf(docs)

    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bandhash") === col("y.bandhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    candidates
      .join(docs.select(col("doc_id"), col("sh").as("sh_a")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(docs.select(col("doc_id"), col("sh").as("sh_b")), col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("jaccard"))
  }

  def qMinhashDupes(spark: SparkSession, dir: String): DataFrame =
    minhashDupesOn(Tables.documents(spark, dir), "doc_id", "text", 0.8)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))

  val minhashOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, unnest(
      |    CASE WHEN len(w) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(w) - 1),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS s
      |  FROM tok
      |), n AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  count(*)::DOUBLE / (any_value(na.cnt) + any_value(nb.cnt) - count(*))::DOUBLE AS jaccard
      |FROM sh a
      |JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |JOIN n na ON na.doc_id = a.doc_id
      |JOIN n nb ON nb.doc_id = b.doc_id
      |GROUP BY a.doc_id, b.doc_id
      |HAVING count(*)::DOUBLE / (any_value(na.cnt) + any_value(nb.cnt) - count(*))::DOUBLE >= 0.8""".stripMargin

  /** Duplicate-cluster resolution over the MinHash near-dup pairs:
    * connected components, cluster_id = min doc id of the component —
    * the step that turns pairwise detection into one-kept-per-cluster
    * dedup ([[graft.api.Graft.dupClusters]]). */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.dupClusters(
      minhashDupesOn(Tables.documents(spark, dir), "doc_id", "text", 0.8),
      "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))

  /** Reachability fixpoint via recursive CTE = the oracle for
    * distributed hash-min label propagation. */
  val dupClustersOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashOracle}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
       |)
       |SELECT id AS doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY id""".stripMargin

  /** The full dedup TRANSFORM over the whole corpus
    * ([[graft.api.Graft.clusterDedup]]): minhash pairs → connected
    * components → one kept canonical (min id) per cluster, singletons
    * kept as themselves. */
  def qClusterDedup(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.clusterDedup(
      Tables.documents(spark, dir), "doc_id",
      minhashDupesOn(Tables.documents(spark, dir), "doc_id", "text", 0.8),
      "id_a", "id_b")

  /** [[dupClustersOracle]]'s reachability fixpoint, left-joined back
    * over the full corpus with the keep-min rule. */
  val clusterDedupOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashOracle}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
       |), cc AS (
       |  SELECT id, min(r)::BIGINT AS cid FROM reach GROUP BY id
       |)
       |SELECT d.doc_id, coalesce(cc.cid, d.doc_id)::BIGINT AS cluster_id,
       |  (d.doc_id = coalesce(cc.cid, d.doc_id)) AS kept
       |FROM documents d LEFT JOIN cc ON d.doc_id = cc.id""".stripMargin

  private val SimBits = 62

  /** 62-bit SimHash fingerprint per document: bit b set iff the sum of
    * ±1 votes (token-hash bit b) is positive. Everything is small-int
    * arithmetic so the oracle reproduces it bit-for-bit. */
  def simhashOn(df: DataFrame, id: String, text: String): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType), StructField("simhash", LongType))))
    Spread.widen(df.select(col(id), col(text)))
      .mapPartitions { rows =>
        rows.map { r =>
          val hs = r.getString(1).split(" ").filter(_.nonEmpty).map(polyHashS)
          var fp = 0L
          var b = 0
          while (b < SimBits) {
            var votes = 0L
            var j = 0
            while (j < hs.length) {
              votes += (hs(j) * (2L * b + 17)) % 1000003L % 2 * 2 - 1
              j += 1
            }
            if (votes > 0) fp |= 1L << b
            b += 1
          }
          Row(r.getLong(0), fp)
        }
      }(enc)
  }

  /** Near-duplicate pairs BETWEEN two corpora — [[graft.api.Graft.crossNearDup]].
    * Signatures per side, band equi-join across sides (no self-join, no
    * `<` dedup — orientation comes from which side is which), exact
    * Jaccard verify on candidates only. */
  def crossDupesOn(newDf: DataFrame, refDf: DataFrame, id: String,
                   text: String, threshold: Double): DataFrame = {
    val sn = signatures(newDf, id, text)
    val sr = signatures(refDf, id, text)
    val candidates = bandsOf(sn).as("x").join(bandsOf(sr).as("y"),
        col("x.band") === col("y.band") &&
        col("x.bandhash") === col("y.bandhash"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("ref_id"))
      .distinct()
    candidates
      .join(sn.select(col("doc_id"), col("sh").as("sh_a")), col("new_id") === col("doc_id")).drop("doc_id")
      .join(sr.select(col("doc_id"), col("sh").as("sh_b")), col("ref_id") === col("doc_id")).drop("doc_id")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("ref_id"), col("jaccard"))
  }

  /** Cross-corpus dedup on the fixtures: odd doc_ids play the "new
    * crawl", even ones the "admitted corpus". */
  def qCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    crossDupesOn(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text", 0.8)
  }

  /** Same exact-Jaccard formulation as [[minhashOracle]] restricted to
    * odd × even pairs (LSH recall at J ≥ 0.8 is 1 − 5e-8, so the band
    * path and the exact join agree on these fixtures). */
  val crossDedupOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, unnest(
      |    CASE WHEN len(w) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(w) - 1),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS s
      |  FROM tok
      |), n AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY doc_id)
      |SELECT a.doc_id AS new_id, b.doc_id AS ref_id,
      |  count(*)::DOUBLE / (any_value(na.cnt) + any_value(nb.cnt) - count(*))::DOUBLE AS jaccard
      |FROM sh a
      |JOIN sh b ON a.s = b.s AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |JOIN n na ON na.doc_id = a.doc_id
      |JOIN n nb ON nb.doc_id = b.doc_id
      |GROUP BY a.doc_id, b.doc_id
      |HAVING count(*)::DOUBLE / (any_value(na.cnt) + any_value(nb.cnt) - count(*))::DOUBLE >= 0.8""".stripMargin

  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashOn(Tables.documents(spark, dir), "doc_id", "text")

  val simhashOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
      |  FROM documents
      |), th AS (
      |  SELECT doc_id,
      |    (list_sum(list_transform(string_split(t, ''), (c, i) -> i * ascii(c)))
      |      * 48271) % 2147483647 AS h
      |  FROM tok
      |), votes AS (
      |  SELECT doc_id, b.b AS b,
      |    sum((h * (b.b * 2 + 17)) % 1000003 % 2 * 2 - 1) AS v
      |  FROM th, (SELECT unnest(range(0, 62)) AS b) b
      |  GROUP BY doc_id, b.b
      |)
      |SELECT doc_id,
      |  sum(CASE WHEN v > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT AS simhash
      |FROM votes GROUP BY doc_id""".stripMargin

  /** Exact character-16-gram Jaccard pairs at ≥ 0.7: candidates from an
    * inverted-index join over RARE grams only (document frequency ≤
    * dfCap), then exact Jaccard verification over each candidate's full
    * gram set — the same candidates+verify shape as MinHash, but with a
    * deterministic blocking key.
    *
    * Why the df-cap is the 100 TB linchpin: a single ubiquitous gram in
    * a plain posting join produces df² candidate pairs (quadratic in
    * corpus growth); capping df bounds every gram's fanout at dfCap².
    * It is a candidate-generation filter only — verification uses the
    * complete gram sets, so reported Jaccards are exact. A qualifying
    * pair is missed only if it shares NO gram of df ≤ dfCap; at J ≥ 0.7
    * the pair shares ≥ 41% of its union, making an all-common-gram
    * overlap pathological (this corpus's qualifying pairs all share a
    * df ≤ 4 gram — 2× margin, audited cross-scale by
    * graft.drive.NgramDrive and pinned vs the exhaustive SQL oracle at
    * the gate).
    *
    * Gram width matters too: this corpus has a ~40-word vocabulary, so
    * 5-char grams are near-universal (measured 1.5e9 intermediate pairs
    * at sf0.1); 16-char grams span 2-3 words. The length-ratio
    * predicate (J ≥ t ⟹ t·|B| ≤ |A| ≤ |B|/t) is a lossless pair prune
    * inside the candidate join. Bayardo-style prefix filtering was
    * implemented and measured SLOWER here (19s vs 14s at sf0.1): with a
    * tiny vocabulary the df-join + per-doc window sort costs more than
    * it prunes. */
  /** FNV-1a 64-bit over a string — the gram fingerprint. 64 bits keep
    * the corpus-wide collision expectation ≪ 1 (vs ~85 expected for a
    * 31-bit hash at 600k distinct grams); set arithmetic on hashes is
    * then exact in practice and an order of magnitude cheaper than on
    * the strings themselves. */
  private[graft] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** (id, n, sorted distinct gram hashes) per doc, one batched Scala
    * pass — Catalyst HOF gram expansion (transform∘substr) is
    * interpreted and was the dominant cost of the declarative variant. */
  private def hashedGramDocs(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField("__id", LongType),
      StructField("n", IntegerType),
      StructField("h", ArrayType(LongType)))))
    Spread.widen(df.select(col(id), col(text)))
      .mapPartitions { rows =>
        rows.map { r =>
          val t = r.getString(1)
          val grams =
            if (t.length < n) Array(fnv64(t))
            else Array.tabulate(t.length - n + 1)(i => fnv64(t.substring(i, i + n)))
          java.util.Arrays.sort(grams)
          // in-place dedup of the sorted array (set semantics)
          var w = 0
          var i = 0
          while (i < grams.length) {
            if (w == 0 || grams(i) != grams(w - 1)) { grams(w) = grams(i); w += 1 }
            i += 1
          }
          val h = java.util.Arrays.copyOf(grams, w)
          Row(r.getLong(0), w, h.toSeq)
        }
      }(enc)
  }

  /** Sorted-merge intersection size of two sorted long arrays — O(n+m),
    * allocation-free (vs array_intersect's per-pair hash set). */
  private[graft] def mergeIntersect(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  def ngramJaccardOn(df: DataFrame, id: String, text: String, n: Int, threshold: Double,
      dfCap: Int = 8): DataFrame = {
    // Shingle ONCE: the hashed-gram table feeds six downstream scans
    // (posting ×2 self-join sides, the df-cap aggregate, and both
    // verify joins), and mapPartitions subtrees never exchange-reuse —
    // without materialization the corpus is re-hashed per scan
    // (measured: 6 MapPartitions of the full corpus in the r18 before
    // plan). The eager localCheckpoint stores ~8 bytes/char
    // (MEMORY_AND_DISK, spillable) and recomputes per invocation —
    // nothing persists across runs.
    // eager ckpt beats a lazy persist HERE (r19 A/B: 2.71 vs 4.33 s):
    // six consumers re-analyze this large subtree per use when only
    // cached, while the checkpoint truncates the plan they all carry
    val docs = hashedGramDocs(df, id, text, n).localCheckpoint(true)
    val posting = docs.select(col("__id"), col("n"), explode(col("h")).as("s"))
    val rare = posting.groupBy(col("s")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select(col("s"))
    val capped = posting.join(rare, "s")
    val cand = capped.as("a").join(capped.as("b"),
        col("a.s") === col("b.s") && col("a.__id") < col("b.__id") &&
        col("a.n").cast("double") >= col("b.n") * threshold &&
        col("b.n").cast("double") >= col("a.n") * threshold)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    // verify: attach each side's sorted gram hashes via equi-joins on
    // doc id. The gram table is docs-sized, so no broadcast hint — the
    // joins shuffle on doc id at scale, and AQE still picks broadcast
    // when the table is genuinely small. The pair's arrays are then
    // merge-counted in a Scala kernel.
    val withGrams = cand
      .join(docs.select(col("__id"), col("h").as("h_a")),
        col("id_a") === col("__id")).drop("__id")
      .join(docs.select(col("__id"), col("h").as("h_b")),
        col("id_b") === col("__id")).drop("__id")
    val enc = Encoders.row(StructType(Seq(
      StructField("id_a", LongType),
      StructField("id_b", LongType),
      StructField("jaccard", DoubleType))))
    withGrams.mapPartitions { rows =>
      rows.flatMap { r =>
        val ha = r.getSeq[Long](2).toArray
        val hb = r.getSeq[Long](3).toArray
        val c = mergeIntersect(ha, hb)
        val j = c.toDouble / (ha.length + hb.length - c).toDouble
        if (j >= threshold) Some(Row(r.getLong(0), r.getLong(1), j)) else None
      }
    }(enc)
  }

  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOn(Tables.documents(spark, dir), "doc_id", "text", 16, 0.7)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))

  val ngramOracle: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 15, 1) + 1),
      |    i -> substr(text, i, 16))) AS s
      |  FROM documents
      |), n AS (SELECT doc_id, count(*) AS cnt FROM g GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  count(*)::DOUBLE / (any_value(na.cnt) + any_value(nb.cnt) - count(*))::DOUBLE AS jaccard
      |FROM g a
      |JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
      |JOIN n na ON na.doc_id = a.doc_id
      |JOIN n nb ON nb.doc_id = b.doc_id
      |GROUP BY a.doc_id, b.doc_id
      |HAVING count(*)::DOUBLE / (any_value(na.cnt) + any_value(nb.cnt) - count(*))::DOUBLE >= 0.7""".stripMargin

  // ----- PassJoin edit-distance near-dup -----

  private val EdK = 2
  private val EdPrefix = 64
  private val EdMinLen = 8

  /** Typo-level near-dup pairs: lowercased 64-char prefixes within 2
    * Levenshtein edits (Graft.editDupes — PassJoin pigeonhole
    * blocking, exact verify on candidates only). */
  def qEditDupes(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.editDupes(Tables.documents(spark, dir), "doc_id", "text",
      EdK, EdPrefix, EdMinLen)
      .select(col("a_id"), col("b_id"), col("dist"))

  /** Quadratic reference formulation (fine at the gate's sf0.01; the
    * engine side never materializes the cross product). */
  val editDupesOracle: String =
    s"""WITH n AS (
       |  SELECT doc_id, lower(substr(text, 1, $EdPrefix)) AS s FROM documents
       |  WHERE length(lower(substr(text, 1, $EdPrefix))) >= $EdMinLen
       |)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  levenshtein(a.s, b.s)::BIGINT AS dist
       |FROM n a JOIN n b ON a.doc_id < b.doc_id
       |WHERE abs(length(a.s) - length(b.s)) <= $EdK
       |  AND levenshtein(a.s, b.s) <= $EdK""".stripMargin

  // ----- content-defined chunking -----

  private val CdcW = 16
  private val CdcM = 64L

  /** Gear-hash content-defined chunking with global chunk-text dup
    * counts (Graft.cdcChunks): window 16, target chunk ≈ 64 chars. */
  def qCdcChunks(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.cdcChunks(Tables.documents(spark, dir), "doc_id", "text", CdcW, CdcM)

  /** The gear-CDC chunk table CTE — (doc_id, chunk_idx, ctext) in
    * table `c` — shared by [[cdcChunksOracle]] and the streaming
    * chunk-store arm's oracle: per-position windowed gear hashes via
    * list arithmetic (the winnowOracle pattern) → cut set → chunk
    * reassembly with lag. */
  private[graft] val cdcChunkTextCte: String =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE length(text) >= $CdcW
       |), g AS (
       |  SELECT doc_id, text, unnest(range($CdcW, length(text) + 1)) AS pos FROM d
       |), h AS (
       |  SELECT doc_id, pos,
       |    list_sum(list_transform(string_split(substr(text, pos - ${CdcW - 1}, $CdcW), ''),
       |      (c, i) -> (ascii(c) * 2654435761) * (1::BIGINT << ($CdcW - i)))) AS hv
       |  FROM g
       |), cuts AS (
       |  -- hash defined mod 2^63 on both engines (HUGEINT keeps the sum
       |  -- exact here; the Scala side masks its wrapped Long identically)
       |  SELECT doc_id, pos FROM h
       |  WHERE (hv::HUGEINT % 9223372036854775808) % $CdcM = 0
       |  UNION
       |  SELECT doc_id, length(text) FROM d
       |), b AS (
       |  SELECT doc_id, pos AS cend,
       |    lag(pos, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos) AS cstart,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos)::INT AS chunk_idx
       |  FROM cuts
       |), c AS (
       |  SELECT b.doc_id, chunk_idx, substr(d.text, cstart + 1, cend - cstart) AS ctext
       |  FROM b JOIN d ON b.doc_id = d.doc_id
       |)""".stripMargin

  val cdcChunksOracle: String =
    s"""$cdcChunkTextCte
       |SELECT doc_id, chunk_idx, length(ctext)::BIGINT AS chunk_len,
       |  ((list_sum(list_transform(string_split(ctext, ''), (c2, i) -> i * ascii(c2)))
       |    * 48271) % 2147483647)::BIGINT AS chunk_hash,
       |  (count(*) OVER (PARTITION BY ctext))::BIGINT AS dup_cnt
       |FROM c""".stripMargin
}

package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecMath.{cos12, float_dot, norm}

/** Dedup, similarity search & relational extensions — one slice of the [[Graft]] facade, split from a single
  * 3,300-line object purely to keep source files reviewable. All
  * operators remain accessible ONLY as `Graft.<op>` (the self-type
  * pins the mixin to the facade object); see [[Graft]] for the API
  * conventions and SparkEntry for the graded fixture bindings. */
trait GraftDedupOps { this: Graft.type =>

  // ---------- hashing kernels (SQL-replicable arithmetic) ----------

  /** 31-bit position-weighted char hash with an LCG mix — weak but
    * engine-portable; see DedupQueries.polyHashS. */
  def polyHash(s: String): Long = graft.ops.DedupQueries.polyHashS(s)

  // ---------- dedup ----------

  /** Exact dedup: distinct on the given columns. */
  def exactDedup(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** Canonical-keeper dedup: one row per key set, keeping the row with
    * the minimum `orderCol` (deterministic, unlike dropDuplicates). */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** CORPUS-level line/paragraph dedup — the C4 pipeline's "any
    * three-sentence span occurring more than once is dropped" rule,
    * generalized to `delim`-separated units: every unit keeps exactly
    * its globally FIRST occurrence (smallest (id, position)); all
    * later occurrences, across documents or within one, are removed
    * and the documents reassembled in original unit order. Returns
    * (id, cleaned, n_removed). Deterministic: the keeper is defined by
    * ids, not by scan order.
    *
    * Scale shape: one posexplode, a keeper agg `min(struct(id, pos))`
    * keyed on the unit — a HASH agg with map-side partial combine, so
    * a unit repeated 10⁹ times (the empty line, a cookie banner)
    * collapses per-task before the shuffle instead of hot-spotting one
    * reducer the way a row_number window would — then one equi-join of
    * occurrences against keepers on the same unit key (co-partitioned
    * with the agg's exchange) and a per-doc positional re-agg. No
    * pairwise step anywhere: a unit duplicated k times costs k rows. */
  def lineDedup(df: DataFrame, id: String, text: String,
      delim: String = "\n"): DataFrame = {
    val units = df.select(col(id),
      posexplode(split(col(text), java.util.regex.Pattern.quote(delim))))
      .toDF(id, "pos", "unit")
    val keepers = units.groupBy(col("unit"))
      .agg(min(struct(col(id), col("pos"))).as("__k"))
      .select(col("unit"), col("__k")(id).as("__kid"), col("__k")("pos").as("__kpos"))
    val kept = units.join(keepers, Seq("unit"))
      .filter(col(id) === col("__kid") && col("pos") === col("__kpos"))
    val keptAgg = kept.groupBy(col(id)).agg(
      concat_ws(delim, transform(
        array_sort(collect_list(struct(col("pos"), col("unit")))),
        x => x("unit"))).as("cleaned"),
      count(lit(1)).as("__kept"))
    val totals = units.groupBy(col(id)).agg(count(lit(1)).as("__units"))
    df.select(col(id)).join(totals, Seq(id), "left").join(keptAgg, Seq(id), "left")
      .select(col(id),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        (coalesce(col("__units"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification
    * (word 3-gram shingles). Output: (id_a, id_b, jaccard). Never
    * materializes O(n²): candidates come from an equi-join on LSH
    * band hashes. */
  def minhashDupes(df: DataFrame, id: String, text: String, threshold: Double = 0.8): DataFrame =
    graft.ops.DedupQueries.minhashDupesOn(df, id, text, threshold)

  /** 62-bit SimHash fingerprint per row. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame =
    graft.ops.DedupQueries.simhashOn(df, id, text)

  /** SimHash near-dup pairs at hamming distance ≤ maxHamming, bucketed
    * by fingerprint bands so the self-join is an equi-join (the
    * pigeonhole trick: distance ≤ k ⇒ some one of k+1 bands equal). */
  def simhashDupes(df: DataFrame, id: String, text: String, maxHamming: Int = 3): DataFrame = {
    val fp = simhash(df, id, text)
    val bands = maxHamming + 1
    val width = 62 / bands
    val banded = fp.select(col(id), col("simhash"),
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("simhash"), b * width) % (1L << width)
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandkey")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandkey") === col("b.bandkey") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact char-n-gram Jaccard pairs via inverted-index join. */
  def ngramJaccard(df: DataFrame, id: String, text: String,
      n: Int = 16, threshold: Double = 0.7): DataFrame =
    graft.ops.DedupQueries.ngramJaccardOn(df, id, text, n, threshold)

  /** Production-path 64-bit content fingerprint: Spark's built-in
    * xxhash64 (codegen'd) — the fast exact-dedup key. (The SQL-oracle
    * fingerprint lives in TextQueries; this is what you'd run at
    * 100 TB.) */
  def fingerprint64(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), xxhash64(col(text)).as("fp64"))

  /** Scale-grade SQL-oracle fingerprint: the base-31 polynomial over
    * code points in native mod-2⁶⁴ long arithmetic —
    * h = Σ cpᵢ·31^(n−i) mod 2⁶⁴, emitted as the signed long the wrap
    * produces. 64-bit width puts birthday collisions at ~2³² distinct
    * texts (the 31-bit [[graft.ops.CoreQueries]] LCG/poly family
    * collides from ~600k — fine for bucketing, not for a dedup KEY),
    * while staying engine-replicable: an external engine folds the
    * same recurrence in 128-bit integers —
    * `list_reduce(list_transform(string_split(text,''),
    * c -> ascii(c)::HUGEINT), (a,b) -> (a*31+b) % 2^64)` — and maps
    * the result to signed. Unlike [[fingerprint64]]'s xxhash64
    * (engine-private constants, rows-only check), the VALUES here sit
    * under the DuckDB hash oracle.
    *
    * Both sides iterate CODE POINTS (the kernel steps by
    * `Character.charCount`), so the replay is exact on ALL text,
    * supplementary planes included — stricter than polyExtend's
    * BMP-scoped UTF-16 contract. Null/empty text → null fp. Same
    * shuffle-free mapPartitions kernel shape as [[charFingerprint]]
    * (the expression/HOF form re-splits per char and interprets the
    * lambda — the measured 9×/100×-sensitive family). */
  def polyFingerprint64(df: DataFrame, id: String, text: String): DataFrame = {
    val projected = df.select(col(id), col(text))
    val enc = Encoders.row(StructType(Seq(
      projected.schema.head, StructField("fp64", LongType))))
    projected.mapPartitions { rows =>
      rows.map { r =>
        val idVal = if (r.isNullAt(0)) null else r.get(0)
        if (r.isNullAt(1) || r.getString(1).isEmpty) Row(idVal, null)
        else {
          val s = r.getString(1)
          var i = 0
          var acc = 0L // Java long wrap IS mod 2^64
          while (i < s.length) {
            val cp = s.codePointAt(i)
            acc = acc * 31L + cp
            i += Character.charCount(cp)
          }
          Row(idVal, acc)
        }
      }
    }(enc)
  }

  /** SQL-oracle document fingerprint: Σᵢ i·codepoint(charᵢ) (1-based,
    * rolling-hash family) — exists to pin exact cross-engine hash
    * arithmetic (DuckDB: `list_transform(string_split(text,''),
    * (c,i) -> i*ascii(c))`). Computed in a mapPartitions Scala kernel:
    * the expression form is a nested interpreted HOF
    * (aggregate∘zip_with∘filter∘split — per-char lambda interpretation),
    * the measured ~100×-sensitive family; the kernel is a tight
    * per-row char loop, shuffle-free and contention-immune.
    * Null/empty text → null fp, matching both the HOF null propagation
    * and DuckDB's `list_sum([]) = NULL`. The id column is carried
    * opaquely in its original type (nulls included) — no cast, no
    * assumption that ids are numeric. */
  def charFingerprint(df: DataFrame, id: String, text: String): DataFrame = {
    val projected = df.select(col(id), col(text))
    val enc = Encoders.row(StructType(Seq(
      projected.schema.head, StructField("fp", LongType))))
    projected.mapPartitions { rows =>
      rows.map { r =>
        val idVal = if (r.isNullAt(0)) null else r.get(0)
        if (r.isNullAt(1) || r.getString(1).isEmpty) Row(idVal, null)
        else {
          val s = r.getString(1)
          var i = 0
          var pos = 0L
          var acc = 0L
          while (i < s.length) {
            val cp = s.codePointAt(i)
            pos += 1
            acc += pos * cp
            i += Character.charCount(cp)
          }
          Row(idVal, acc)
        }
      }
    }(enc)
  }

  /** Approximate distinct count per key (HLL++, mergeable sketches). */
  def approxDistinct(df: DataFrame, keys: Seq[String], valueCol: String, rsd: Double = 0.01): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** TF-IDF top terms per document: tf = term count in doc, idf =
    * ln(N/df) over whitespace tokens, top `topK` terms per doc ranked
    * by (rounded score desc, term asc). Plan: one explode + two hash
    * aggregates + a broadcast of the df table's aggregate (terms-sized,
    * not corpus-sized) + a per-doc window — every data-sized step is
    * keyed and shuffles once. Scores round to 6 decimals: ln() differs
    * in the last ulp across engines. */
  def tfIdf(df: DataFrame, id: String, text: String, topK: Int = 3): DataFrame = {
    val terms = df.select(col(id), explode(tokens(col(text))).as("term"))
    val tf = terms.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    // N rides in the plan as a broadcast 1-row aggregate: construction
    // stays lazy (no corpus scan just to build the DataFrame)
    val nDf = df.select(countDistinct(col(id)).as("__n"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(nDf))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
      .drop("__n")
    val w = Window.partitionBy(col(id)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(id), col("term"), col("tf"), col("df"), col("tfidf"),
        col("rank").cast("long").as("rank"))
  }

  /** BM25 top terms per document (Robertson idf, Lucene +1 form):
    * score = ln(1 + (N−df+0.5)/(df+0.5)) · tf·(k1+1) /
    * (tf + k1·(1−b+b·dl/avgdl)). Same plan shape as [[tfIdf]] plus the
    * per-doc length dl (one aggregate) and the corpus scalars N/avgdl
    * riding as a broadcast 1-row aggregate. dl sums are over longs
    * (order-exact); only the final score is FP, rounded to 6. */
  def bm25(df: DataFrame, id: String, text: String, topK: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = df.select(col(id), explode(tokens(col(text))).as("term"))
    val tf = terms.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    // dl = Σ tf per doc: derived from the tf aggregate instead of a
    // second full explode over the corpus
    val dl = tf.groupBy(col(id)).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = dl.agg(count(lit(1)).as("__n"), avg(col("dl")).as("__avgdl"))
    val scored = tf.join(dfreq, "term").join(dl, id).crossJoin(broadcast(corpus))
      .withColumn("idf", log(lit(1.0) +
        (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("bm25", round(
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))), 6))
    val w = Window.partitionBy(col(id)).orderBy(col("bm25").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(id), col("term"), col("tf"), col("df"), col("dl").cast("long").as("dl"),
        col("bm25"), col("rank").cast("long").as("rank"))
  }

  /** Ordered funnel: for each entity, the earliest time each stage can
    * be reached given all previous stages happened strictly earlier
    * (first stage = min ts of its event type; stage k = min ts of its
    * type strictly after stage k−1, and within `maxGap` of it when
    * set — the conversion window). Returns one row per entity that
    * entered the funnel: (entity, stage_reached = number of completed
    * stages). Each stage is one filtered aggregate + an equi-join on
    * the entity key — no window over event history, no self-join on
    * time ranges. */
  def funnel(df: DataFrame, entity: String, ts: String, typeCol: String,
      stages: Seq[String], maxGap: Option[String] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val first = df.filter(col(typeCol) === stages.head)
      .groupBy(col(entity)).agg(min(col(ts)).as("__t"))
      .withColumn("__stage", lit(1L))
    stages.drop(1).zipWithIndex.foldLeft(first) { case (acc, (stage, i)) =>
      // only entities that completed every previous stage may advance —
      // a stage-k dropout must not "skip ahead" by matching stage k+1
      // against its stage-(k−1) time
      val eligible = acc.filter(col("__stage") === (i + 1).toLong)
        .select(col(entity), col("__t").as("__prev"))
      val inWindow = maxGap match {
        case Some(g) => col(ts) > col("__prev") &&
          col(ts) <= col("__prev") + expr(s"INTERVAL '$g'")
        case None => col(ts) > col("__prev")
      }
      val nextT = df.filter(col(typeCol) === stage)
        .join(eligible, entity)
        .filter(inWindow)
        .groupBy(col(entity)).agg(min(col(ts)).as("__tnext"))
      acc.join(nextT, Seq(entity), "left")
        .withColumn("__stage",
          when(col("__tnext").isNotNull, col("__stage") + 1L).otherwise(col("__stage")))
        .withColumn("__t", coalesce(col("__tnext"), col("__t")))
        .drop("__tnext")
    }.select(col(entity), col("__stage").as("stage_reached"))
  }

  // ---------- similarity search ----------

  /** One side of a cosine join: the id, the vector and its norm under
    * the names the operator ranks on, then passthrough `extra` columns.
    * `dot` is `int_dot` for int8 codes. */
  private[graft] def normedSide(df: DataFrame, id: Column, vec: String, v: String,
      nrm: String, extra: Seq[Column] = Nil,
      dot: (Column, Column) => Column = float_dot): DataFrame =
    df.select((id +: col(vec).as(v) +: extra): _*).withColumn(nrm, norm(col(v), dot))

  /** The query-side × corpus-side cosine of the kNN kernels: the
    * [[normedSide]]s named (`__q`, `__qnrm`) and (`__v`, `__nrm`). */
  private def sideCos: Column =
    cos12(float_dot(col("__q"), col("__v")), col("__qnrm"), col("__nrm"))

  /** The per-group top-k: `rank` = row_number per `group` on
    * (`score` desc, `member` asc), rows with rank ≤ k. A filter on the
    * raw row_number, so the plan keeps its WindowGroupLimit. */
  private[graft] def topK(df: DataFrame, group: String, score: String, member: String,
      k: Int, rank: String = "rank"): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col(score).desc, col(member).asc)
    df.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** kNN label vote over (query_id, __l) neighbor rows: the label with
    * the most votes per query, ties to the smaller label. */
  private def vote(neighbors: DataFrame): DataFrame = {
    val votes = neighbors.groupBy(col("query_id"), col("__l")).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__n").desc, col("__l").asc)
    votes.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("__l").as("label_pred"), col("__n").cast("long").as("votes"))
  }

  /** The IVF operators' train-then-call step: trains `ivf`'s centroids
    * on `corpus` and hands the index overload an index with zero stored
    * radii and `ivf`'s resolved probe and replication counts. */
  private def withTrainedIndex[T](corpus: DataFrame, id: String, vec: String,
      ivf: graft.ops.Ivf.Params)(f: (graft.ops.Ivf.Index, Int, Int) => T): T = {
    val centroids = graft.ops.Ivf.trainCentroids(corpus, id, vec, ivf)
    f(graft.ops.Ivf.Index(centroids, new Array[Double](centroids.length)),
      ivf.resolveNprobe(centroids.length), ivf.corpusAssign)
  }

  /** Exact cosine top-k: for each row of `queries`, the k nearest rows
    * of `corpus` (queries are broadcast; corpus never shuffles).
    * Output: (query_id, neighbor_id, rank, cos). */
  def knn(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int = 5): DataFrame = {
    val c = normedSide(corpus, col(id).as("neighbor_id"), vec, "__v", "__nrm")
    val q = normedSide(queries, col(queryId).as("query_id"), queryVec, "__q", "__qnrm")
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", sideCos)
    topK(scored, "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"), col("cos"))
  }

  /** Absmax int8 encoding of a float-vector column (adds `codes`,
    * array<int> in [−127, 127]) — the 4×-smaller scan representation
    * for [[sq8Knn]]. */
  def sq8Encode(df: DataFrame, vec: String, codes: String = "codes"): DataFrame =
    graft.ops.SimilarityQueries.sq8Encode(df, vec, codes)

  /** Scalar-quantized top-k over int8 codes: exact integer dot
    * products (no float-determinism caveats), queries broadcast, the
    * corpus never shuffles. Output: (query_id, neighbor_id, rank,
    * score). Encode both sides with [[sq8Encode]] first. */
  def sq8Knn(corpus: DataFrame, id: String, codes: String,
             queries: DataFrame, queryId: String, queryCodes: String,
             k: Int = 5): DataFrame =
    graft.ops.SimilarityQueries.sq8Knn(corpus, id, codes, queries, queryId, queryCodes, k)

  /** Contrastive hard-negative mining — the data prep for retrieval /
    * embedding training: for each anchor, the k corpus vectors MOST
    * similar to it whose label DIFFERS (the near-miss impostors a
    * contrastive loss learns the most from; random negatives are
    * trivially separable). Output: (anchor_id, rank, neg_id,
    * neg_label, cos), rank 1 = hardest. Ties/FP: rank on
    * round(cos, 12) then neg_id, same bit-stable contract as [[knn]].
    *
    * Scale shape: identical to [[knn]] — anchors broadcast, the corpus
    * never shuffles, the per-anchor top-k is a WindowGroupLimit-bounded
    * rank filter on the anchor id. The label-mismatch predicate runs
    * inside the broadcast join, so same-label rows never reach the
    * scorer. Anchors must be broadcast-small AND fixed-size (the
    * [[knn]] contract — a panel proportional to the corpus makes both
    * join sides grow and the plan quadratic); for anchor sets at
    * corpus scale, mine per-cell via the IVF path instead
    * ([[hardNegativesIvf]] — a shuffled equi-join on cell ids).
    *
    * NULL labels are null-SAFE mismatches: a NULL-labeled corpus row
    * is a valid negative for any non-NULL-labeled anchor (and vice
    * versa); only NULL-vs-NULL is treated as "same label" and
    * excluded. A null-REJECTING `=!=` here would silently drop every
    * NULL-labeled row and anchors could emit fewer than k negatives
    * with no signal. */
  def hardNegatives(corpus: DataFrame, id: String, vec: String, label: String,
      anchors: DataFrame, anchorId: String, anchorVec: String,
      anchorLabel: String, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // labels keep their source type (string categories are as valid as
    // int classes) — a cast here would null out non-numeric labels and
    // silently emit nothing
    val c = normedSide(corpus, col(id).as("neg_id"), vec, "__v", "__nrm",
      Seq(col(label).as("neg_label")))
    val a = normedSide(anchors, col(anchorId).as("anchor_id"), anchorVec, "__q", "__qnrm",
      Seq(col(anchorLabel).as("__albl")))
    val scored = c.join(broadcast(a), !(col("neg_label") <=> col("__albl")))
      .withColumn("cos", sideCos)
    topK(scored, "anchor_id", "cos", "neg_id", k)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("neg_label"), col("cos"))
  }

  /** Product-quantized approximate top-k with exact rerank (the
    * IVFADC-family scan, [[graft.ops.Pq]]): corpus vectors are encoded
    * to m one-byte codes (32× smaller than 64-d float here), queries
    * scan the CODES with per-query lookup tables (m adds per corpus
    * row instead of a dim-length dot product), and each query's
    * `rerank·k` shortlist is reranked with exact cosine on the fetched
    * original vectors. Output schema matches [[knn]]
    * (query_id, neighbor_id, rank, cos) and the reported `cos` IS the
    * exact cosine — the code approximation can only cost recall, never
    * score error. With `rerank·k ≥ |corpus|` the result equals [[knn]]
    * exactly (pinned in ApproxOpsSpec).
    *
    * Scale shape: encode is map-only; the ADC scan reads only
    * (id, m bytes, norm) — the original vectors never shuffle and are
    * touched again only for the Q×rerank·k shortlist rows (an
    * AQE-broadcast equi-join against the corpus). Per-partition
    * bounded shortlists cap the scan output at
    * partitions × |queries| × rerank·k rows. `queries` is collected to
    * the driver (same small-side contract as [[knn]]'s broadcast). */
  def pqKnn(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int = 5,
      rerank: Int = 4, pq: graft.ops.Pq.Params = graft.ops.Pq.Params()): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    import graft.ops.Pq
    val cb = Pq.train(corpus, id, vec, pq)
    val codes = Pq.encode(corpus, id, vec, cb)
    val qArr = queries.select(col(queryId).cast("long"), col(queryVec)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val shortlist = math.max(k * rerank, k)
    val cand = topK(Pq.adcShortlist(codes, id, cb, qArr, shortlist),
        "query_id", "adc", "neighbor_id", shortlist, "__r")
      .select(col("query_id"), col("neighbor_id"))
    val c = normedSide(corpus, col(id).cast("long").as("neighbor_id"), vec, "__v", "__nrm")
    val q = normedSide(queries, col(queryId).cast("long").as("query_id"), queryVec, "__q", "__qnrm")
    val exact = cand.join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id"))
      .withColumn("cos", sideCos)
    topK(exact, "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cos"))
  }

  /** Embedding near-duplicate pairs at cosine ≥ threshold, blocked
    * through the IVF index so the plan is an equi-join on cell ids —
    * never an all-pairs nested-loop join.
    *
    * Candidate generation is EXACT (lossless): every vector lives in
    * its home cell, and the probe side visits every cell c with
    * θ(v, centroid_c) ≤ radius_c + acos(threshold), where radius_c is
    * the cell's measured max member angle ([[graft.ops.Ivf
    * .assignWithinRadii]] — the triangle inequality through the
    * partner's home membership guarantees no qualifying pair is
    * missed). The pair is then normalized, deduped, and exact-verified
    * with the codegen'd FloatVecDot on candidates only.
    *
    * Cost scales with the CORPUS's geometry, not a fixed margin:
    * clustered embeddings give small radii, so a production dedup cut
    * (t ≥ 0.9) probes ≈ the cells within 26° of v → candidates ≪ n²;
    * diffuse/isotropic data pushes radii toward 90° and the rule
    * degrades gracefully toward an exhaustive search that is STILL a
    * shuffled equi-join spreading over executors — never a broadcast
    * nested loop. The fixture gate cross-checks against the exhaustive
    * SQL oracle; GraftApiSpec pins brute parity on caller data (incl. a
    * clustered corpus where probe sets are asserted small) and
    * graft.drive.EmbedDrive audits it on the fixtures at two scales. */
  def embedNearDup(df: DataFrame, id: String, vec: String, threshold: Double,
      ivf: graft.ops.Ivf.Params = graft.ops.Ivf.Params()): DataFrame = {
    // all-zero stored radii: the indexed overload measures df's own
    // per-cell radii and takes the max, so this trains per call and
    // probes exactly as this method always did
    withTrainedIndex(df, id, vec, ivf)((index, _, _) => embedNearDup(df, id, vec, threshold, index))
  }

  /** [[embedNearDup]] against a PREBUILT index ([[graft.ops.Ivf.train]]
    * / [[graft.ops.Ivf.load]]): skips centroid training — the amortized
    * path for recurring dedup over a slowly-drifting corpus. Probing
    * stays complete under a stale index because the effective per-cell
    * radius is the max of the index's stored radius and the radius
    * measured from `df`'s own home assignment (which this method
    * computes anyway for the join's home side). */
  def embedNearDup(df: DataFrame, id: String, vec: String, threshold: Double,
      index: graft.ops.Ivf.Index): DataFrame = {
    import graft.ops.Ivf
    val centroids = index.centroids
    val maxPairRad = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    // per-cell radii from the home assignment: one map-only pass + an
    // nlist-sized aggregate (≤ sampleCap rows — driver-safe by
    // construction, constant in corpus size)
    val home = Ivf.assign(df, id, vec, centroids, 1)
      .select(col(id), col(vec).as("__v"), col("nrm"), col("cell"), col("cell_angle"))
      .localCheckpoint(true) // reused below; one kernel pass, not two
    val radii = index.radii.clone()
    home.groupBy(col("cell")).agg(max(col("cell_angle")).as("r"))
      .collect().foreach(r => radii(r.getInt(0)) = math.max(radii(r.getInt(0)), r.getDouble(1)))
    // probe side: every cell whose radius-expanded cap can hold a
    // qualifying partner ([[Ivf.assignWithinRadii]] — complete, and far
    // tighter than the fixed 2·acos(t) margin when cells are tight)
    val probed = Ivf.assignWithinRadii(df, id, vec, centroids, radii, maxPairRad)
      .select(col(id), col(vec).as("__v"), col("nrm"), col("cell"))
    // One guaranteed generation path per unordered pair: for a
    // qualifying (x, y) the triangle inequality puts y in x's home
    // cell's probe set AND x in y's — both directions always exist, so
    // keeping only (home = lower id, probe = higher id) is still
    // COMPLETE, skips the cosine verify for half the enumerated
    // candidates, and each pair appears exactly once (the home side
    // has one row per vector; the probe side has the partner at most
    // once per cell) — no least/greatest normalization, no distinct().
    // In the exhaustive-fallback regime the join's pair ENUMERATION
    // dominates and is unchanged by the residual predicate, so the
    // sf10 wall time is flat there (BASELINE.md round 14) — the win is
    // correctness-shaped (strictly less work, simpler output contract).
    home.as("a").join(probed.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$id") < col(s"b.$id"))
      .withColumn("cos", cos12(float_dot(col("a.__v"), col("b.__v")), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"), col("cos"))
  }

  /** IVF approximate top-k cosine search: corpus vectors live in their
    * `ivf.corpusAssign` nearest cells (map-only spilled assignment —
    * FAISS-style replication that recovers Voronoi-boundary neighbors),
    * queries probe their `ivf.nprobe` nearest cells, and scoring is an
    * equi-join on cell id — compute drops ~nlist/(nprobe·corpusAssign)
    * vs the exact scan. Output schema matches [[knn]]. */
  def ivfKnn(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      ivf: graft.ops.Ivf.Params = graft.ops.Ivf.Params()): DataFrame =
    withTrainedIndex(corpus, id, vec, ivf)(
      ivfKnn(corpus, id, vec, queries, queryId, queryVec, k, _, _, _))

  /** [[ivfKnn]] against a PREBUILT index ([[graft.ops.Ivf.train]] /
    * [[graft.ops.Ivf.load]] / [[graft.ops.Ivf.strideIndex]]) with
    * explicit probe/replication counts — the amortized path for
    * recurring search over a slowly-drifting corpus, and the
    * oracle-replicable path when the index is a [[graft.ops.Ivf
    * .strideIndex]]. */
  def ivfKnn(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      index: graft.ops.Ivf.Index, nprobe: Int, corpusAssign: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(corpusAssign >= 1, s"corpusAssign must be >= 1, got $corpusAssign")
    import graft.ops.Ivf
    val assigned = Ivf.assign(corpus, id, vec, index.centroids, corpusAssign)
      .select(col(id).as("neighbor_id"), col(vec).as("__v"), col("nrm").as("__nrm"), col("cell"))
    val probes = Ivf.assign(queries, queryId, queryVec, index.centroids, nprobe)
      .select(col(queryId).as("query_id"), col(queryVec).as("__q"), col("nrm").as("__qnrm"), col("cell"))
    // no broadcast hint: Catalyst/AQE broadcasts a small query side on
    // its own; a huge query set must shuffle-join on cell or it would
    // blow the broadcast limit
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", sideCos)
      // replication + multi-probe surface the same (query, neighbor)
      // pair through several cells: collapse before ranking or row_number
      // would count the duplicate. cos is a pure function of the pair, so
      // dedup on the keys alone is exact.
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    topK(scored, "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"), col("cos"))
  }

  /** [[hardNegatives]] for anchor sets at CORPUS scale, mined through
    * the IVF index so the plan is a shuffled equi-join on cell ids —
    * never a broadcast of a corpus-proportional panel and never a
    * nested-loop cross product (the 100 TB shape the broadcast
    * kernel's contract points here for). Both sides run the map-only
    * cell assignment ([[graft.ops.Ivf.assign]], labels riding through
    * as passthrough columns — no corpus-scale join back on the id);
    * candidates are the different-label pairs sharing a probed cell,
    * exact-verified with the codegen'd cosine on candidates only and
    * ranked per anchor under the [[hardNegatives]] bit-stable contract
    * (round(cos, 12), neg_id ties). Output schema matches
    * [[hardNegatives]]; the result is approximate — an anchor's true
    * k-th negative can hide in an unprobed cell — with recall governed
    * by nprobe × corpusAssign vs nlist (RlSpec pins floors vs the
    * exact kernel, incl. ≥0.9 on a clustered corpus). NULL labels
    * follow [[hardNegatives]]'s null-SAFE mismatch semantics. */
  def hardNegativesIvf(corpus: DataFrame, id: String, vec: String, label: String,
      anchors: DataFrame, anchorId: String, anchorVec: String,
      anchorLabel: String, k: Int = 3,
      ivf: graft.ops.Ivf.Params = graft.ops.Ivf.Params()): DataFrame =
    withTrainedIndex(corpus, id, vec, ivf)(hardNegativesIvf(corpus, id, vec, label,
      anchors, anchorId, anchorVec, anchorLabel, k, _, _, _))

  /** [[hardNegativesIvf]] against a prebuilt index with explicit
    * probe/replication counts (see the [[ivfKnn]] index overload). */
  def hardNegativesIvf(corpus: DataFrame, id: String, vec: String, label: String,
      anchors: DataFrame, anchorId: String, anchorVec: String,
      anchorLabel: String, k: Int, index: graft.ops.Ivf.Index,
      nprobe: Int, corpusAssign: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(corpusAssign >= 1, s"corpusAssign must be >= 1, got $corpusAssign")
    import graft.ops.Ivf
    val c = Ivf.assign(corpus, id, vec, index.centroids, corpusAssign, extra = Seq(label))
      .select(col(id).as("neg_id"), col(vec).as("__v"),
        col("nrm").as("__nrm"), col("cell"), col(label).as("neg_label"))
    val a = Ivf.assign(anchors, anchorId, anchorVec, index.centroids, nprobe,
        extra = Seq(anchorLabel))
      .select(col(anchorId).as("anchor_id"), col(anchorVec).as("__q"),
        col("nrm").as("__qnrm"), col("cell"), col(anchorLabel).as("__albl"))
    val scored = c.join(a, Seq("cell"))
      .filter(!(col("neg_label") <=> col("__albl")))
      .withColumn("cos", sideCos)
      // replication + multi-probe dedup, the ivfKnn argument: cos is a
      // pure function of the (anchor, neg) pair
      .select(col("anchor_id"), col("neg_id"), col("neg_label"), col("cos"))
      .dropDuplicates("anchor_id", "neg_id")
    topK(scored, "anchor_id", "cos", "neg_id", k)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("neg_label"), col("cos"))
  }

  /** k-NN label propagation: classify each `unlabeled` row by the
    * majority label among its `k` nearest `labeled` neighbors by
    * cosine (the embedding-space analog of [[nbScore]]'s token-space
    * classification — pseudo-labeling / label spreading for corpus
    * annotation). Vote ties break to the smallest label, neighbor
    * rank ties to the smallest neighbor id (on `round(cos, 12)`, the
    * [[knn]] contract), so the prediction is bit-stable across
    * engines and partitionings. Output: (query_id, label_pred, votes).
    *
    * Scale shape: inherits [[knn]]'s broadcast-queries/corpus-stays-put
    * contract — the labeled corpus is scanned once and never shuffled;
    * the vote resolution runs over |queries|·k rows, which AQE
    * broadcasts back against nothing (it is the final frame). The
    * query panel must be broadcast-small and FIXED-SIZE; for query
    * sets that grow with the corpus use [[knnClassifyIvf]] — same
    * voting logic over the IVF cell equi-join. */
  def knnClassify(labeled: DataFrame, id: String, vec: String, label: String,
      unlabeled: DataFrame, queryId: String, queryVec: String, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    vote(knn(labeled, id, vec, unlabeled, queryId, queryVec, k)
      .join(labeled.select(col(id).as("neighbor_id"), col(label).as("__l")), Seq("neighbor_id")))
  }

  /** [[knnClassify]] for query sets at CORPUS scale — the swap the
    * broadcast kernel's contract prescribes: neighbors come from the
    * IVF cell equi-join instead of a broadcast of the query panel, so
    * BOTH sides may grow with the data (pseudo-labeling a whole crawl
    * against a labeled seed corpus). Labels ride through the map-only
    * assignment as passthrough columns — no corpus-scale join back on
    * the id — and the voting logic is identical to [[knnClassify]]
    * (votes desc, label asc; neighbor ranks on round(cos, 12), id
    * ties). Approximate: a true neighbor can hide in an unprobed cell,
    * flipping a vote — GraftApiSpec pins agreement floors vs the exact
    * form and exact equality when the probe covers every cell. */
  def knnClassifyIvf(labeled: DataFrame, id: String, vec: String, label: String,
      unlabeled: DataFrame, queryId: String, queryVec: String, k: Int = 5,
      ivf: graft.ops.Ivf.Params = graft.ops.Ivf.Params()): DataFrame =
    withTrainedIndex(labeled, id, vec, ivf)(
      knnClassifyIvf(labeled, id, vec, label, unlabeled, queryId, queryVec, k, _, _, _))

  /** [[knnClassifyIvf]] against a prebuilt index with explicit
    * probe/replication counts (see the [[ivfKnn]] index overload). */
  def knnClassifyIvf(labeled: DataFrame, id: String, vec: String, label: String,
      unlabeled: DataFrame, queryId: String, queryVec: String, k: Int,
      index: graft.ops.Ivf.Index, nprobe: Int, corpusAssign: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(corpusAssign >= 1, s"corpusAssign must be >= 1, got $corpusAssign")
    import graft.ops.Ivf
    val c = Ivf.assign(labeled, id, vec, index.centroids, corpusAssign, extra = Seq(label))
      .select(col(id).as("neighbor_id"), col(vec).as("__v"),
        col("nrm").as("__nrm"), col("cell"), col(label).as("__l"))
    val q = Ivf.assign(unlabeled, queryId, queryVec, index.centroids, nprobe)
      .select(col(queryId).as("query_id"), col(queryVec).as("__q"),
        col("nrm").as("__qnrm"), col("cell"))
    val nn = c.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", sideCos)
      // label is a pure function of the neighbor, so key-only dedup
      // stays exact (the ivfKnn argument)
      .select(col("query_id"), col("neighbor_id"), col("__l"), col("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    vote(topK(nn, "query_id", "cos", "neighbor_id", k, "__r"))
  }

  /** Skew-resistant aggregation: two-phase sum/count with an explicit
    * salt derived from a high-cardinality column. A hot key's rows
    * spread over `buckets` reducers in phase 1; phase 2 combines the
    * per-salt partials (tiny: keys × buckets rows). The two-phase
    * split changes double summation ORDER vs a direct sum, so the
    * result is rounded to `roundTo` decimals (exact when the true sum
    * has fewer decimals, as with currency). Output: keys...,
    * sum_value, cnt. */
  def saltedAgg(df: DataFrame, keys: Seq[String], valueCol: String,
      saltSource: String, buckets: Int = 16, roundTo: Int = 4): DataFrame = {
    val partial = df
      .withColumn("__salt", pmod(col(saltSource), lit(buckets.toLong)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial.groupBy(keys.map(col): _*)
      .agg(round(sum(col("__psum")), roundTo).as("sum_value"),
        sum(col("__pcnt")).as("cnt"))
  }

  // ---------- joins / relational extensions ----------

  /** As-of join: each left row picks the single most recent right row
    * with the same key and `right.ts < left.ts` (strict; `<=` when
    * strict=false). Ties on right ts break on the highest `tiebreak`
    * value, so the result is deterministic. Unmatched left rows keep
    * nulls in the right payload columns (left-join semantics).
    *
    * Scale shape: NOT a non-equi join (which Spark can only plan as a
    * nested loop). Both sides are unioned and shuffled ONCE on the key;
    * a per-key sort orders rows by (ts, side, tiebreak) and
    * `last_value(ignoreNulls)` carries each right payload forward — the
    * same single-shuffle cost as any groupBy on the key, independent of
    * how many right rows precede each left row.
    *
    * `right` must expose the same `key` and `ts` column names; its
    * remaining columns are the payload and must not collide with left
    * column names (pre-rename on the caller side). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      tiebreak: String, strict: Boolean = true): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = right.columns.filterNot(c => c == key || c == ts).toSeq
    require(payload.nonEmpty, "asofJoin: right side has no payload columns")
    require(payload.intersect(leftCols).isEmpty,
      s"asofJoin: right payload ${payload.mkString(",")} collides with left columns")
    require(right.columns.contains(tiebreak), "asofJoin: tiebreak must be a right column")

    // side order at equal ts decides strictness: left-before-right
    // excludes equal-ts right rows (strict <); right-before-left
    // includes them (<=)
    val leftSide = if (strict) 0 else 1
    // the right payload travels as ONE struct so the carried value is
    // atomic — per-column last_value could stitch together columns from
    // different right rows when payload values are themselves null.
    // __tie keeps the tiebreak's own (orderable) type: casting to long
    // would silently null out string ids and void determinism
    val tieType = right.schema(tiebreak).dataType
    val lPadded = left
      .withColumn("__side", lit(leftSide))
      .withColumn("__tie", lit(null).cast(tieType))
      .withColumn("__p", lit(null).cast(StructType(
        payload.map(c => StructField(c, right.schema(c).dataType)))))
    val rPadded = leftCols.filterNot(c => c == key || c == ts).foldLeft(
      right
        .withColumn("__side", lit(1 - leftSide))
        .withColumn("__tie", col(tiebreak))
        .withColumn("__p", struct(payload.map(col): _*)))((df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val outCols = leftCols ++ Seq("__p", "__side", "__tie")
    val unioned = lPadded.select(outCols.map(col): _*)
      .unionByName(rPadded.select(outCols.map(col): _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__side").asc, col("__tie").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === leftSide)
      .select(leftCols.map(col) ++ payload.map(c => col("__p").getField(c).as(c)): _*)
  }

  // ---------- duplicate-cluster resolution ----------

  /** Connected components over a near-duplicate pair list: every node
    * reachable through pairs gets the component's minimum id as
    * `cluster_id` — the step that turns pairwise dup detection
    * (minhash/simhash/embedding) into keep-one-per-cluster dedup.
    *
    * Algorithm: distributed hash-min label propagation with pointer
    * jumping — each round every node takes the min label among itself
    * and its neighbors (one shuffle over the undirected edge list),
    * then labels are composed through themselves (label ← label of
    * label), which doubles the propagation distance per round. Rounds
    * are O(log diameter), so even an adversarial million-node chain
    * converges in ~20 rounds instead of a million. Both steps only
    * ever move a node's label to a smaller id within its own component
    * (neighbors share a component; composing through a component
    * member stays inside it), so correctness is unchanged — pinned
    * against a local union-find on random graphs in GraftApiSpec.
    * Each round's result is checkpointed: iterative lineage otherwise
    * grows exponentially in planning cost.
    *
    * `reliable = false` (default) uses `localCheckpoint` — fastest, but
    * blocks live on executors, so on a real cluster a lost executor
    * kills the job mid-iteration instead of recomputing. For long
    * chains on preemptible/large clusters pass `reliable = true` to
    * write rounds to the reliable checkpoint dir (the caller must have
    * set `sparkContext.setCheckpointDir` to durable storage); each
    * round then survives executor loss at the cost of a distributed
    * write per round.
    *
    * Small pair lists (≤ [[LocalEdgeCap]] rows, `reliable = false`)
    * take a DRIVER union-find fast path: the distributed loop costs
    * ~8-10 Spark jobs PER ROUND (joins, checkpoints, the convergence
    * aggregate — AQE runs each stage as its own job), a fixed ~1-2 s
    * floor per round that dwarfs tiny graphs; one bounded collect
    * (≤ 50k edges ≈ 800 KB) replaces all of it with a single job. The
    * union-find is [[componentMins]], which the near-dup stores'
    * within-batch keeper step shares.
    * The labels are identical by the GraftApiSpec union-find pinning;
    * per-micro-batch ingest dedup (IncrementalDedup, whose within-batch
    * pair lists are small by construction) is the shape this exists
    * for. `reliable = true` always runs distributed — durable rounds
    * are the caller's explicit request.
    *
    * Id columns must be integral (byte/short/int/long — they are
    * widened to long so the two paths share one edge frame and the
    * "min id" keeper is well-defined); any other type fails fast here
    * rather than silently becoming NULL under a long cast. Hash string
    * ids to 64 bits first (`xxhash64`) if needed. */
  def dupClusters(pairs: DataFrame, idA: String, idB: String,
      reliable: Boolean = false): DataFrame =
    dupClustersCounted(pairs, idA, idB, reliable)._1

  /** Edge-count bound for [[dupClusters]]'s driver fast path — below
    * the adversarial-topology sizes GraftApiSpec pins the distributed
    * round bounds on, far above any realistic per-batch pair list. */
  private[graft] val LocalEdgeCap = 50000

  /** [[dupClusters]] plus the number of label-propagation rounds it
    * took (0 = the driver fast path) — the observable that lets tests
    * (and capacity planning) pin the pointer-jumping O(log diameter)
    * bound on adversarial topologies instead of trusting the comment. */
  private[graft] def dupClustersCounted(pairs: DataFrame, idA: String, idB: String,
      reliable: Boolean = false): (DataFrame, Int) = {
    import org.apache.spark.sql.types._
    // fail fast on non-integral ids: cast("long") below would turn a
    // string id into NULL — collapsing all such nodes into one null
    // cluster on the distributed path and NPE-ing in the driver fast
    // path's getLong. Fractional/decimal ids would silently truncate.
    for (c <- Seq(idA, idB)) {
      val dt = pairs.schema(c).dataType
      require(dt.isInstanceOf[ByteType] || dt.isInstanceOf[ShortType] ||
        dt.isInstanceOf[IntegerType] || dt.isInstanceOf[LongType],
        s"dupClusters: id column '$c' is $dt — integral ids required " +
          "(hash other types to 64 bits first, e.g. xxhash64)")
    }
    // the (possibly expensive) pair pipeline is evaluated EXACTLY once,
    // into this checkpoint — both paths read it from there. (A
    // limit(cap).collect() probe would be wrong here: CollectLimit
    // executes incrementally, re-running the pipeline with growing
    // partition counts until the limit fills — measured 1.8x on
    // q_dup_clusters when the pair count sits far below the cap.)
    val edges = checkpointed(reliable)(pairs
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      .unionAll(pairs.select(col(idB).cast("long").as("src"),
        col(idA).cast("long").as("dst")))
      .distinct())
    if (!reliable) {
      // both directions counted: 2 rows per undirected pair
      val nEdges = edges.count()
      if (nEdges <= 2L * LocalEdgeCap) {
        val spark = pairs.sparkSession
        import spark.implicits._
        val rows = componentMins(edges.collect().iterator.map(r => (r.getLong(0), r.getLong(1))))
        return (rows.toDF("id", "cluster_id"), 0)
      }
    }
    dupClustersDistributed(edges, reliable)
  }

  /** The driver union-find behind [[dupClusters]]' fast path and the
    * near-dup stores' within-batch keepers
    * ([[graft.streaming.Admission.nonKeepers]]): (node, its component's
    * min id) for every node of the `edges` list. Union by min root, so
    * a label only ever decreases and ends at the component minimum —
    * [[clusterDedup]]'s keeper is the node whose label is itself. */
  private[graft] def componentMins(edges: Iterator[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min root: labels only ever decrease
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(k => rows += ((k, find(k))))
    rows.toSeq
  }

  /** Eager truncation for [[dupClusters]]: a reliable checkpoint when
    * `reliable`, else a local one. */
  private def checkpointed(reliable: Boolean)(df: DataFrame): DataFrame =
    if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

  /** The distributed label-propagation + pointer-jumping loop behind
    * [[dupClustersCounted]], over the pre-materialized undirected
    * `edges` (src, dst) frame. */
  private def dupClustersDistributed(edges: DataFrame,
      reliable: Boolean): (DataFrame, Int) = {
    var labels = checkpointed(reliable)(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")))
    // labels only ever decrease, so the label sum is a strictly
    // decreasing convergence witness: one cheap aggregate per round
    // instead of a join-and-count diff
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("cluster_id")), lit(0L))).collect()(0).getLong(0)
    var prevSum = labelSum(labels)
    // empty pair list: no nodes, nothing to propagate
    var converged = edges.isEmpty
    var rounds = 0
    while (!converged) {
      rounds += 1
      val propagated = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .select(col("src").as("id"), col("cluster_id"))
        .unionAll(labels)
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
      // pointer jumping: follow each label to ITS label (left join —
      // a label that is already a root labels itself)
      labels = checkpointed(reliable)(propagated
        .join(propagated.select(col("id").as("__lid"), col("cluster_id").as("__lparent")),
          col("cluster_id") === col("__lid"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__lparent"), col("cluster_id"))).as("cluster_id")))
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
    }
    (labels, rounds)
  }

  /** End-to-end near-duplicate corpus dedup: resolve `pairs` (any
    * near-dup detector's output — minhash/simhash/embedding) into
    * connected components via [[dupClusters]], then mark one canonical
    * keeper per cluster — the smallest id, matching every other
    * keep-first rule in this API. Docs that appear in no pair are
    * their own singleton cluster and are kept. Output:
    * (id, cluster_id, kept) over the FULL corpus, so the caller
    * filters `kept` to dedup or joins `cluster_id` to group.
    *
    * Scale shape: the component label table is bounded by the
    * DUPLICATED doc count (nodes that appear in some pair), ≪ corpus
    * for any real near-dup rate, so the left join back is an
    * AQE-broadcast and the corpus itself never shuffles; the expensive
    * parts (candidate generation, CC rounds) happen on the pair/label
    * tables, never all-pairs. */
  def clusterDedup(df: DataFrame, id: String,
      pairs: DataFrame, idA: String, idB: String): DataFrame = {
    val cc = dupClusters(pairs, idA, idB)
      .select(col("id").as("__ccid"), col("cluster_id").as("__cc"))
    df.select(col(id))
      .join(cc, col(id) === col("__ccid"), "left")
      .select(col(id), coalesce(col("__cc"), col(id).cast("long")).as("cluster_id"))
      .withColumn("kept", col(id) === col("cluster_id"))
  }

  /** [[clusterDedup]] with a caller-supplied keeper priority: the kept
    * canonical is the cluster's min `(orderCol, id)` — e.g. highest
    * source quality (encode as ascending rank), earliest crawl date,
    * shortest URL — with the id as the deterministic tiebreak, the
    * [[dedupKeepFirst]] rule applied at cluster granularity.
    * `cluster_id` stays the component's min id (a stable label
    * independent of the priority), `kept` marks the priority winner.
    *
    * Scale shape: identical to [[clusterDedup]] plus one map-side
    * partial min(struct) over the duplicated-docs frame — the keeper
    * table stays bounded by the duplicated count and broadcasts. */
  def clusterDedup(df: DataFrame, id: String,
      pairs: DataFrame, idA: String, idB: String, orderCol: String): DataFrame = {
    val cc = dupClusters(pairs, idA, idB)
      .select(col("id").as("__ccid"), col("cluster_id").as("__cc"))
    // inner join: only docs that sit in some cluster carry a keeper
    // race — the agg below therefore stays bounded by the DUPLICATED
    // doc count, never the corpus
    val members = df.select(col(id), col(orderCol))
      .join(cc, col(id) === col("__ccid"))
      .select(col(id), col(orderCol), col("__cc"))
    val keepers = members
      .groupBy(col("__cc"))
      .agg(min(struct(col(orderCol), col(id))).as("__k"))
      .select(col("__cc").as("__kc"), col("__k")(id).as("__keep"))
    val resolved = members.join(keepers, col("__cc") === col("__kc"))
      .select(col(id), col("__cc"), (col(id) === col("__keep")).as("__kept"))
    df.select(col(id))
      .join(resolved, Seq(id), "left")
      .select(col(id),
        coalesce(col("__cc"), col(id).cast("long")).as("cluster_id"),
        coalesce(col("__kept"), lit(true)).as("kept"))
  }

  // ---------- sampling ----------

  /** The engine-replicable 31-bit LCG, `(x' · 1103515245 + 12345) mod m`
    * on a long column. The id is folded into 31 bits (x' = x mod 2^31)
    * BEFORE the multiply: 2^31·1103515245 stays under 2^62, so the
    * arithmetic never overflows Long (ANSI mode would fail the query;
    * non-ANSI would wrap and diverge from the verifying engine). */
  private[graft] def lcg(x: Column, m: Long): Column =
    pmod(pmod(x, lit(2147483648L)) * lit(1103515245L) + lit(12345L), lit(m))

  /** Deterministic stratified sampling: keep a row iff
    * LCG(hashCol) mod 10000 < rate(stratum)·10000. No RNG state —
    * the decision is pure integer arithmetic on the row's own id, so
    * the sample is reproducible across engines, runs, partitionings
    * and retries (what `sample()`'s seeded-per-partition RNG is not),
    * and any engine can verify it. Strata absent from `rates` are
    * dropped (rate 0). */
  def hashSample(df: DataFrame, stratumCol: String, hashCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0), "rates must be in [0,1]")
    val bucket = lcg(col(hashCol), 10000L)
    // integer thresholds (basis points): no FP boundary ambiguity
    val rateExpr = rates.foldLeft(lit(0L)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(math.round(r * 10000))).otherwise(acc)
    }
    df.filter(bucket < rateExpr)
  }

  /** Deterministic TOKEN-BUDGET sampling per stratum — the mixture-
    * construction step ("x tokens of web, y of code, z of math"): walk
    * each stratum's docs in reproducible pseudo-random order (the same
    * overflow-safe 31-bit LCG as [[hashSample]], id tiebreak) and keep
    * docs while the stratum's RUNNING token total stays within its
    * budget. Budgets are tokens, not documents, so long docs spend the
    * budget faster — what a mixture spec actually means. Returns every
    * row with its running total and a 0/1 `kept`. The running total is
    * the per-stratum prefix sum of the [[graft.ops.StratifiedRank]]
    * kernel over the LCG key. Deterministic across engines,
    * partitionings and retries by the hashSample argument. A stratum
    * absent from `budgets` keeps nothing (budget 0). */
  def tokenBudgetSample(df: DataFrame, id: String, stratumCol: String,
      tokensCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.values.forall(_ >= 0L), "budgets must be non-negative")
    val order = lcg(col(id), 2147483648L)
    val budgetExpr = budgets.foldLeft(lit(0L)) { case (acc, (s, b)) =>
      when(col(stratumCol) === s, lit(b)).otherwise(acc)
    }
    graft.ops.StratifiedRank.stratifiedRank(
        df.select(col(id), col(stratumCol), col(tokensCol)),
        Seq(stratumCol), order, Seq(col(id).asc),
        weight = Some(col(tokensCol)), psumName = "__below", uniformKey = true)
      .withColumn("__cum", col("__below") + col(tokensCol))
      .select(col(id), col(stratumCol), col(tokensCol),
        col("__cum").cast("long").as("cum_tokens"),
        (col("__cum") <= budgetExpr).cast("long").as("kept"))
  }

  /** Deterministic epoch shuffle + sharding — the "globally shuffle
    * the corpus, then write N shard files" step before training.
    * Every row gets a pseudo-random key from the same overflow-safe
    * 31-bit LCG as [[hashSample]]; its shard is `key mod nShards` and
    * its position is its rank inside the shard (key order, id
    * tiebreak). Returns (id, shard, pos) — 0-based, dense per shard.
    * Pure integer arithmetic on the row's own id: the permutation is
    * reproducible across engines, partitionings and retries, and any
    * engine can verify it (what a seeded `orderBy(rand())` is not).
    *
    * Scale shape: NO global sort — one hash exchange on `shard`
    * followed by per-shard sorts (pinned in PlanSpec: exactly one
    * exchange, no rangepartitioning). Each shard sorts independently
    * in its own partition, so the job scales out with nShards instead
    * of funneling 100 TB through a global range partitioner. Unlike a
    * fixed-cardinality stratum key, nShards is the op's PARALLELISM
    * parameter — it names physical shard files, so at 100 TB a caller
    * sets it to data / shard-file-size (thousands), and each per-shard
    * sort stays shard-file-sized by construction. */
  def epochShuffle(df: DataFrame, id: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val key = lcg(col(id), 2147483648L)
    val w = Window.partitionBy(col("shard")).orderBy(col("__key").asc, col(id).asc)
    df.select(col(id), key.as("__key"),
        pmod(key, lit(nShards.toLong)).cast("long").as("shard"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col(id), col("shard"), col("pos"))
  }

}

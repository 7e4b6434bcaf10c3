package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecMath.{cos12, dot, norm}

/** Quality signals, gating & retrieval — one slice of the [[Graft]] facade, split from a single
  * 3,300-line object purely to keep source files reviewable. All
  * operators remain accessible ONLY as `Graft.<op>` (the self-type
  * pins the mixin to the facade object); see [[Graft]] for the API
  * conventions and SparkEntry for the graded fixture bindings. */
trait GraftSignalOps { this: Graft.type =>

  // ---------- pairwise preference strength ----------

  /** Bradley–Terry strengths from a (winner, loser) match table via
    * fixed-point MM iterations — every visible number exact integer,
    * so the fitted model is engine-replayable. Player set must be
    * bounded (one driver row per player per iteration). Output:
    * (player, n_matches, n_wins, strength_fx in 2⁻²⁰ units).
    * See [[graft.ops.BradleyTerry]]. */
  def btStrength(matches: DataFrame, winner: String, loser: String,
                 iters: Int = 3): DataFrame =
    graft.ops.BradleyTerry.fitMatches(matches, winner, loser, iters)

  /** Binned calibration table (Naeini et al. 2015's ECE, binary form)
    * over an EXACT milli-confidence column (0..1000 integer) and a 0/1
    * label: per bin (conf div 100, capped at 9) the count, positives,
    * confidence mass, and the exact gap numerator
    * |1000·Σy − Σconf_milli|. ECE = Σ gap_num / (1000·N). One bounded
    * keyed agg with map-side combine. */
  def calibrationBins(df: DataFrame, confMilli: String, label: String): DataFrame =
    df.select(col(label).cast("long").as("y"),
        col(confMilli).cast("long").as("conf_milli"))
      .withColumn("bin", least(lit(9L), expr("conf_milli div 100")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("conf_milli")).as("conf_milli_sum"))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_milli_sum"),
        abs(lit(1000L) * col("n_pos") - col("conf_milli_sum")).as("gap_num"))

  // ---------- graph authority ----------

  /** Distributed PageRank over an edge list — the domain/page
    * authority signal crawl curation ranks sources by. Fixed
    * `iters` power iterations of r ← (1−d)/N + d·Σ_in r/outdeg from a
    * uniform start. With `redistributeDangling` (the standard sink
    * completion) the mass held by nodes without out-edges is spread
    * uniformly each iteration — Σ rank stays exactly 1 on graphs with
    * sinks; off (the default, matching the pinned gate fixture) such
    * nodes simply leak their mass, and a symmetrized edge list is the
    * cheap alternative. Output: (node, rank rounded to 7 dp — in-sums
    * are float-order-sensitive in the last bits).
    *
    * Scale shape: the textbook distributed formulation — edges joined
    * to ranks on src (both hash-partitioned on the join key), partial
    * map-side aggregation of contributions per dst, broadcast of
    * nothing but the 1-row node count and (when redistributing) the
    * 1-row dangling-mass aggregate. Per iteration: one shuffle on
    * src + one on dst; lineage is truncated by an eager
    * localCheckpoint every `checkpointEvery` iterations so deep runs
    * (iters = 50) don't build a 100-join plan tree. Hub skew is
    * AQE's skew-join territory; d and iters are the usual 0.85/3. */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iters: Int = 3, damping: Double = 0.85,
               redistributeDangling: Boolean = false,
               checkpointEvery: Int = 10): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = edges.select(col(src).as("__src"), col(dst).as("__dst"))
    val nodes = graft.Frames.shared(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct())
    val nN = nodes.count().toDouble
    // The rank vector is |nodes| rows of (key, double). When that fits
    // an executor hash relation, broadcasting it turns EVERY
    // per-iteration edge join (and the nodes-side outer join) into a
    // BroadcastHashJoin — the edge table is never sorted or shuffled
    // again after the one outdeg join. The threshold derives from the
    // MEASURED node count (≈ 2M rows ≈ tens of MB framed), not from
    // the local core count; a billion-node graph takes the shuffle
    // path unchanged.
    val bcastRanks = nN <= 2e6
    def rankSide(df: DataFrame): DataFrame = if (bcastRanks) broadcast(df) else df
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).cast("double").as("__deg"))
    // outdeg is nodes-sized like the rank vector: under the same gate,
    // broadcasting it spares the edge table the sort+exchange of a
    // sort-merge join when filling the per-iteration cache
    val withDeg = graft.Frames.shared(e.join(rankSide(outdeg), "__src"))
    // sinks: nodes that appear only as destinations (no out-edges)
    lazy val dangling = graft.Frames.shared(nodes
      .join(outdeg.select(col("__src").as("node")), Seq("node"), "left_anti"))
    var ranks = nodes.select(col("node"), lit(1.0 / nN).as("rank"))
    var it = 0
    while (it < iters) {
      // redistribution reads `ranks` TWICE per iteration (contributions
      // + the dangling-mass aggregate): without truncation the plan
      // tree would DOUBLE per iteration. An eager per-iteration
      // localCheckpoint keeps it flat — and materializing the rank
      // vector each round is what distributed PageRank does anyway.
      if (redistributeDangling) ranks = ranks.localCheckpoint(true)
      val rs = rankSide(ranks)
      val contribs = withDeg
        .join(rs, withDeg("__src") === rs("node"))
        .groupBy(col("__dst"))
        .agg(sum(col("rank") / col("__deg")).as("__in"))
      // per-node uniform share of this iteration's dangling mass — a
      // 1-row aggregate cross-joined in (broadcast), never a collect
      val base =
        if (redistributeDangling)
          nodes.crossJoin(broadcast(dangling.join(ranks, "node")
            .agg((coalesce(sum(col("rank")), lit(0.0)) / nN).as("__dshare"))))
        else nodes.withColumn("__dshare", lit(0.0))
      val cs = rankSide(contribs)
      ranks = base
        .join(cs, base("node") === cs("__dst"), "left")
        .select(base("node"),
          (lit((1.0 - damping) / nN) +
            lit(damping) * (coalesce(col("__in"), lit(0.0)) + col("__dshare")))
            .as("rank"))
      it += 1
      // single-read path: lineage grows one join per iteration — a
      // periodic truncation is enough
      if (!redistributeDangling && it % checkpointEvery == 0 && it < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("node"), round(col("rank"), 7).as("rank"))
  }

  // ---------- perplexity bucketing (CCNet) ----------

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus-trained bigram LM ([[lmScore]]) and, PER LANGUAGE, split
    * into head/middle/tail at the ⅓ and ⅔ bits-per-token quantiles —
    * the standard "keep the head, sample the middle, drop the tail"
    * curation split. Output: (id, lang, bits_per_token, bucket).
    *
    * Scale shape: the cutpoints come from one per-language quantile
    * AGGREGATION (languages × 2 values, broadcast back), never a
    * per-language global sort or single-partition window — the
    * corpus-sized side only ever sees a broadcast join on the language
    * key. Docs with < 2 tokens carry no LM evidence and are omitted,
    * as in [[lmScore]]. */
  def perplexityBuckets(df: DataFrame, id: String, text: String,
                        lang: String): DataFrame = {
    // one row per doc, but fed by the whole lmScore pipeline: the
    // quantile agg and the bucket join below each re-ran it
    // unmaterialized (half the r18 ccnet plan's 36 exchanges). Shared
    // lazily ([[graft.Frames]]).
    val scored = graft.Frames.shared(lmScore(df, id, text, Seq(lang)))
    val cuts = scored.groupBy(col(lang))
      .agg(round(expr(s"percentile(bits_per_token, ${1.0 / 3})"), 6).as("__c1"),
           round(expr(s"percentile(bits_per_token, ${2.0 / 3})"), 6).as("__c2"))
    scored.join(broadcast(cuts), lang)
      .select(col(id), col(lang), col("bits_per_token"),
        when(col("bits_per_token") <= col("__c1"), "head")
          .when(col("bits_per_token") <= col("__c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  // ---------- embedding-space decontamination ----------

  /** Benchmark decontamination in EMBEDDING space — the semantic
    * sibling of the n-gram [[graft.ops.TextQueries]] decontaminate:
    * flag every corpus vector whose cosine to ANY benchmark vector
    * reaches `tau` (paraphrased eval questions that share no 8-gram
    * still land next to the benchmark in embedding space). Output:
    * (id, max_cos rounded to 12 dp, nearest_id — ties on the lower
    * benchmark id, contaminated 0/1).
    *
    * Exact, not approximate: benchmark suites are 10³–10⁵ vectors —
    * they broadcast, and each corpus vector scans them in a per-row
    * kernel (dot products in index order, so the arithmetic is
    * bit-reproducible). The corpus side is touched exactly once where
    * it lives; only a narrow test input is first spread
    * ([[graft.ops.Spread.widen]]). For benchmark sets too large to
    * broadcast, prune with [[graft.ops.Ivf]] cells first. */
  def embedDecontaminate(corpus: DataFrame, id: String, vec: String,
                         bench: DataFrame, benchId: String, benchVec: String,
                         tau: Double): DataFrame = {
    val b = bench.select(col(benchId).cast("long"), col(benchVec)).collect()
      .map { r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)) }
      .sortBy(_._1)
    val bNorms = b.map { case (_, v) => norm(v) }
    val bc = corpus.sparkSession.sparkContext.broadcast((b, bNorms))
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType), StructField("max_cos", DoubleType),
      StructField("nearest_id", LongType), StructField("contaminated", LongType))))
    graft.ops.Spread.widen(corpus.select(col(id).cast("long"), col(vec)))
      .mapPartitions { rows =>
        val (benchVecs, norms) = bc.value
        rows.map { r =>
          val v = r.getSeq[Float](1).toArray.map(_.toDouble)
          val vn = norm(v)
          var bestCos = Double.NegativeInfinity
          var bestId = -1L
          var bi = 0
          while (bi < benchVecs.length) {
            val (bid, bv) = benchVecs(bi)
            val cos = cos12(dot(bv, v), vn, norms(bi))
            if (cos > bestCos) { bestCos = cos; bestId = bid } // ties: lower id wins (sorted)
            bi += 1
          }
          Row(r.getLong(0), bestCos, bestId, if (bestCos >= tau) 1L else 0L)
        }
      }(enc)
  }

  // ---------- rule-based quality gating (Gopher) ----------

  /** Gopher-style rule gate — the deterministic keep/drop decision
    * every crawl runs before the statistical filters: word-count
    * bounds, mean-word-length bounds, alphabetic-word ratio, and a
    * minimum stopword count. Emits (id, n_words, mean_word_len,
    * alpha_frac, stop_hits, keep 0/1, reason) where reason names the
    * FIRST failing rule ('' when kept) — flag-not-drop so rejects can
    * be quarantined or sampled, and the reason column doubles as the
    * funnel report. Pure per-row projection, shuffle-free.
    *
    * Defaults are the Gopher paper's shape scaled to short web docs;
    * every bound is a parameter because real pipelines sweep them. */
  def qualityGate(df: DataFrame, id: String, text: String,
                  minWords: Int = 30, maxWords: Int = 90,
                  minMeanLen: Double = 4.8, maxMeanLen: Double = 6.0,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
                  stopwords: Seq[String] =
                    Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    // Project the token array to an attribute ONCE (the codeDetect
    // pattern): lambda subtrees defeat subexpression elimination, so
    // inlining tokens(...) into each HOF re-splits the text per
    // sibling expression.
    val base = df.select(col(id), tokens(coalesce(col(text), lit(""))).as("__ts"))
    val ts = col("__ts")
    val nWords = size(ts).cast("long")
    val meanLen = when(nWords > 0L,
      aggregate(ts, lit(0L), (acc, w) => acc + length(w).cast("long"))
        .cast("double") / nWords.cast("double"))
    val alphaFrac = when(nWords > 0L,
      size(filter(ts, w => w.rlike("[a-zA-Z]"))).cast("double") /
        nWords.cast("double"))
    val stopHits = size(filter(ts, w => w.isin(stopwords: _*))).cast("long")
    val reason =
      when(nWords < minWords || nWords > maxWords, "word_count")
        .when(meanLen.isNull || meanLen < minMeanLen || meanLen > maxMeanLen,
          "word_length")
        .when(alphaFrac < minAlphaFrac, "alpha_ratio")
        .when(stopHits < minStopHits, "stopwords")
        .otherwise("")
    base.select(col(id), nWords.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(alphaFrac, 6).as("alpha_frac"), stopHits.as("stop_hits"),
      when(reason === "", 1L).otherwise(0L).as("keep"), reason.as("reason"))
  }

  // ---------- code / prose routing ----------

  /** Code-vs-prose detection — the mixture-routing signal that sends a
    * document to the code pipeline (different dedup granularity,
    * different quality rules) or the prose one. Pure surface signals,
    * all SQL-replicable: code-symbol density (`{}();=[]<>` per char),
    * indented-line ratio (2-space or tab starts), code-EOL ratio
    * (lines ending `;`/`{`/`}`), and reserved-word token hits. The
    * `is_code` rule (eol_ratio ≥ 0.5 AND symbol_ratio ≥ 0.02, OR ≥ 3
    * keyword hits) is deliberately simple — the signals are the
    * product; route on your own cut if the corpus needs one. Null or
    * empty text → all zeros, prose. Output: (id, n_lines,
    * symbol_ratio, indent_ratio, eol_ratio, keyword_hits, is_code).
    *
    * Scale shape: shuffle-free per-row projection; the line and token
    * arrays are projected to attributes once (the HOF re-evaluation
    * trap), then every ratio is a filter/size over the attribute. */
  def codeDetect(df: DataFrame, id: String, text: String): DataFrame = {
    val keywords = Seq("def", "class", "return", "import", "function",
      "var", "const", "if", "else", "for", "while")
    val t = coalesce(col(text), lit(""))
    val base = df.select(col(id), t.as("__t"))
      .withColumn("__lines", filter(split(col("__t"), "\n"), l => l =!= ""))
      .withColumn("__toks", tokens(regexp_replace(col("__t"), "\\s+", " ")))
    val nLines = size(col("__lines")).cast("long")
    val nChars = length(col("__t")).cast("long")
    val symbols = size(regexp_extract_all(col("__t"), lit("[{}();=\\[\\]<>]"), lit(0))).cast("long")
    val indented = size(filter(col("__lines"),
      l => l.startsWith("  ") || l.startsWith("\t"))).cast("long")
    val eol = size(filter(col("__lines"), l => l.rlike("[;{}]\\s*$"))).cast("long")
    val kw = size(filter(col("__toks"), w => w.isInCollection(keywords))).cast("long")
    base.select(col(id), nLines.as("n_lines"),
        cut4(symbols.cast("double") / greatest(nChars, lit(1L)).cast("double")).as("symbol_ratio"),
        cut4(indented.cast("double") / greatest(nLines, lit(1L)).cast("double")).as("indent_ratio"),
        cut4(eol.cast("double") / greatest(nLines, lit(1L)).cast("double")).as("eol_ratio"),
        kw.as("keyword_hits"))
      .withColumn("is_code",
        ((col("eol_ratio") >= 0.5 && col("symbol_ratio") >= 0.02) ||
          col("keyword_hits") >= 3).cast("long"))
  }

  // ---------- within-document entropy ----------

  /** Per-document Shannon entropy of the document's OWN unigram
    * distribution — the "word soup vs natural text" signal that
    * complements [[lmScore]] (which scores against the corpus model):
    * H = −Σ_w (c_w/n)·log2(c_w/n). Output: (id, n_tokens, entropy
    * rounded to 4 dp — the per-doc sum is float-order-sensitive).
    * Docs with no tokens are omitted.
    *
    * Shuffle-free per-row kernel: each doc's histogram fits in hand
    * (docs are ≤ MBs, vocab per doc ≪ corpus vocab) and the sum runs
    * in sorted-word order so the kernel is bit-deterministic under any
    * partitioning. */
  def tokenEntropy(df: DataFrame, id: String, text: String): DataFrame = {
    val projected = df.select(col(id), coalesce(col(text), lit("")).as("t"))
    val enc = Encoders.row(StructType(Seq(
      projected.schema.head, StructField("n_tokens", LongType),
      StructField("entropy", DoubleType))))
    projected.mapPartitions { rows =>
      rows.flatMap { r =>
        val idVal = if (r.isNullAt(0)) null else r.get(0)
        val toks = r.getString(1).split(" ").filter(_.nonEmpty)
        if (toks.isEmpty) Iterator.empty
        else {
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          toks.foreach(w => counts.update(w, counts.getOrElse(w, 0L) + 1L))
          val n = toks.length.toDouble
          var h = 0.0
          counts.toArray.sortBy(_._1).foreach { case (_, c) =>
            val p = c / n
            h -= p * (math.log(p) / math.log(2.0))
          }
          val rounded = BigDecimal(h)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator(Row(idVal, toks.length.toLong, rounded))
        }
      }
    }(enc)
  }

  // ---------- mixture weighting ----------

  /** Temperature-weighted source mixing — the sampling-weight table of
    * an LLM data recipe (LLaMA-style): per source s with token count
    * t_s, weight_s ∝ (t_s/Σt)^alpha normalized to 1, and the expected
    * epochs over that source when drawing `budgetTokens` total:
    * budget·weight_s/t_s (>1 ⇒ the source repeats; α<1 upweights
    * small sources). Output: (source, n_docs, n_tokens, weight,
    * epochs).
    *
    * One corpus-pass keyed aggregation (map-side partial sums), then
    * arithmetic on the sources-sized table — the corpus never
    * shuffles, the totals ride two broadcast 1-row frames. The
    * per-source aggregate is persisted (sources-bounded, tiny) so the
    * total/normalizer derivations reuse it instead of re-scanning the
    * corpus per reference. */
  def mixtureWeights(df: DataFrame, source: String, text: String,
                     alpha: Double = 0.5,
                     budgetTokens: Long = 1000000L): DataFrame = {
    val perSource = graft.Frames.shared(df.groupBy(col(source))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(coalesce(col(text), lit(""))))).cast("long").as("n_tokens")))
    val total = perSource.agg(sum(col("n_tokens")).as("__total"))
    val raw = perSource.crossJoin(broadcast(total))
      .withColumn("__sraw",
        pow(col("n_tokens").cast("double") / col("__total").cast("double"), alpha))
    val z = raw.agg(sum(col("__sraw")).as("__z"))
    raw.crossJoin(broadcast(z))
      .select(col(source), col("n_docs"), col("n_tokens"),
        round(col("__sraw") / col("__z"), 6).as("weight"),
        round(lit(budgetTokens.toDouble) * (col("__sraw") / col("__z")) /
          col("n_tokens").cast("double"), 4).as("epochs"))
  }

  // ---------- length profiling ----------

  /** Power-of-two length histogram per group — the doc-length
    * distribution table every crawl report carries. Buckets on the
    * BIT LENGTH of the value (bucket b covers [2^(b−1), 2^b)), which
    * is exact integer arithmetic — no float log2 edge cases at the
    * bucket boundaries. Output: (group, bucket, n_docs, total_len).
    * One partially-aggregated groupBy: shuffle bounded at groups ×
    * buckets rows. */
  def lengthHistogram(df: DataFrame, group: String, value: String): DataFrame =
    df.select(col(group), col(value).cast("long").as("__v"))
      .filter(col("__v") >= 0L)
      .groupBy(col(group), length(bin(col("__v"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__v")).as("total_len"))

  // ---------- corpus admission caps ----------

  /** Per-domain document cap — the crawl-mix balancing rule (no single
    * host may contribute more than `k` documents to the corpus). Keeps
    * the `k` rows with the smallest `orderCol` per `domain` (ties are
    * impossible when `orderCol` is a row id, the intended use) and
    * returns the input columns plus the 1-based `rank` within the
    * domain. Deterministic: the kept set depends only on values, never
    * on scan or partition order.
    *
    * Scale shape: Catalyst rewrites the rank-filter window into
    * WindowGroupLimit — every map task prunes its local rows to the
    * top-k per domain BEFORE the exchange, so a monster domain with
    * 10⁸ rows ships only tasks×k rows to its reducer instead of
    * hot-spotting it. One shuffle on the domain key. */
  def domainCap(df: DataFrame, domain: String, orderCol: String, k: Int): DataFrame = {
    require(k >= 1, s"domain cap must be >= 1, got $k")
    val w = Window.partitionBy(col(domain)).orderBy(col(orderCol).asc)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Canonical-URL dedup — [[urlNormalize]] composed with a keep-first
    * rule: one row per normalized URL (the smallest `id` wins), so two
    * crawls of `HTTP://Site.com/a?b=2&a=1#x` and `http://site.com/a?a=1&b=2`
    * collapse to one corpus row. Rows whose URL does not parse
    * (norm_url = "") are all kept — distinct junk strings are not
    * duplicates of each other. Output: (id, norm_url, kept).
    *
    * Scale shape: the normalizer is a shuffle-free projection; the
    * keeper is a hash agg `min(id)` keyed on norm_url (map-side
    * partial combine — a URL crawled 10⁹ times collapses per-task,
    * no hot reducer) plus one equi-join co-partitioned with it.
    * The malformed bypass never shuffles at all. */
  def urlDedup(df: DataFrame, id: String, url: String): DataFrame = {
    val n = urlNormalize(df, id, url).select(col(id), col("norm_url"))
    val parsed = n.filter(col("norm_url") =!= "")
    val keepers = parsed.groupBy(col("norm_url")).agg(min(col(id)).as("__kid"))
    val kept = parsed.join(keepers, Seq("norm_url"))
      .select(col(id), col("norm_url"), (col(id) === col("__kid")).as("kept"))
    kept.unionByName(
      n.filter(col("norm_url") === "").withColumn("kept", lit(true)))
  }

  // ---------- retrieval ----------

  /** BM25 top-k retrieval: score every document against a bag of query
    * terms (sum of per-term BM25, same arithmetic as [[bm25]]) and
    * return the `k` best. Output: (id, score, rank), rank 1 = best;
    * ties broken on id. Documents matching no query term score 0 and
    * are not returned.
    *
    * Scale shape: corpus statistics (df, dl, avgdl) are one token
    * aggregation; the posting list is then FILTERED to the query's
    * terms before anything else happens, so the scored frame is
    * |matching docs| rows, not |corpus|×|vocab|. Top-k is orderBy+limit
    * → TakeOrderedAndProject (per-partition heaps, no global sort);
    * the final rank window runs over k rows. */
  def bm25Search(df: DataFrame, id: String, text: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search needs at least one query term")
    // Only the QUERY terms' tf/df ever reach the scorer, and dl is just
    // the token count — so never build the full (id, term) tf table:
    // that groupBy shuffles one row per distinct (doc, term) of the
    // whole corpus to score a handful of terms. Instead: dl from
    // size(tokens) (one narrow (id, len) exchange), and tf/df from the
    // tokens FILTERED to the query terms before the explode (the
    // exchange carries only matching occurrences). Values are
    // identical: dl = Σ_term tf = token count; per-doc query-term
    // counts and their doc frequencies don't depend on the other terms.
    val toks = tokens(col(text))
    val dl = df.select(col(id), size(toks).cast("long").as("__len"))
      .filter(col("__len") > 0)
      .groupBy(col(id)).agg(sum(col("__len")).as("dl"))
    val qSet = queryTerms.toSet
    val qterms = df.select(col(id),
        explode(filter(toks, t => t.isin(qSet.toSeq: _*))).as("term"))
    val qtf = qterms.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25TopK(qtf, dfreq, dl, id, k, k1, b)
  }

  /** The shared BM25 scoring + top-k core behind [[bm25Search]] and the
    * streaming [[graft.streaming.IncrementalBm25]] index: takes the
    * already-built statistics frames — `qtf` (id, term, tf) restricted
    * to the query's terms, `dfreq` (term, df), `dl` (id, dl) — so the
    * batch path (stats from one corpus pass) and the incremental path
    * (stats from the persisted postings store) are numerically THE SAME
    * CODE, and the cross-path equality the spec pins cannot drift. */
  private[graft] def bm25TopK(qtf: DataFrame, dfreq: DataFrame, dl: DataFrame,
      id: String, k: Int, k1: Double, b: Double): DataFrame =
    // explicit sum/count, not avg(): engines disagree in the last ulp of
    // streaming means, and the per-term quantization below only removes
    // fp risk if the raw doubles are bit-identical cross-engine
    bm25TopKPre(qtf, dfreq, dl,
      dl.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__dlsum")), id, k, k1, b)

  /** [[bm25TopK]] with a PRECOMPUTED 1-row corpus aggregate
    * (`__n` = doc count, `__dlsum` = Σdl, both long) — lets the
    * incremental index feed its persisted stats deltas instead of
    * re-aggregating the full docstats history per query. */
  private[graft] def bm25TopKPre(qtf: DataFrame, dfreq: DataFrame, dl: DataFrame,
      corpus: DataFrame, id: String, k: Int, k1: Double, b: Double): DataFrame = {
    // Per-term score quantized to integer MICROS (floor(x*1e6 + 0.5) —
    // the tie-safe rounding form, see the verify notes), summed exactly
    // as longs (order-free), then cut to 4 decimals by integer
    // arithmetic: round-4 of a sum of rounded-6 terms used to diverge
    // from the oracle at the .00005 boundary once the sf1 corpus hit a
    // tie (max-abs-diff exactly 1e-4).
    val scored = qtf.join(dfreq, "term").join(dl, id).crossJoin(broadcast(corpus))
      .withColumn("__avgdl", col("__dlsum").cast("double") / col("__n").cast("double"))
      .withColumn("__sl", floor((
        log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
        ) * 1e6 + 0.5).cast("long"))
      .groupBy(col(id)).agg(sum(col("__sl")).as("__sum"))
      .select(col(id),
        (floor((col("__sum") + 50L) / 100L).cast("double") / 10000.0d).as("score"))
    val top = scored.orderBy(col("score").desc, col(id).asc).limit(k)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(id).asc)).cast("long"))
      .select(col(id), col("score"), col("rank"))
  }

  /** Positional phrase search: documents containing the EXACT
    * consecutive token sequence `phrase`, ranked by
    * phrase-frequency × ln(N/df_phrase) (micro-quantized, id
    * tiebreak), top `k`. The position index is built ONLY for the
    * phrase's terms (the postings filter runs before any join), and
    * adjacency is an equi-join on (doc, pos−offset) — the classic
    * positional-index intersection, never a scan of full documents
    * per candidate. */
  def phraseSearch(df: DataFrame, id: String, text: String,
      phrase: Seq[String], k: Int = 10): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val n = df.select(col(id)).agg(count(lit(1)).as("__n"))
    val pos = df
      .select(col(id), posexplode(tokens(col(text))))
      .toDF(id, "__p", "__t")
      .filter(col("__t").isin(phrase: _*))
    // occurrence = rows of term i at position start+i for every i:
    // chain equi-joins keyed on (id, aligned start position)
    val occ = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("__t") === t)
        .select(col(id), (col("__p") - i).as("__start"))
    }.reduce((a, b) => a.join(b, Seq(id, "__start")))
    val ptf = occ.groupBy(col(id)).agg(count(lit(1)).as("ptf"))
    val dfreq = ptf.agg(count(lit(1)).as("__df"))
    val scored = ptf.crossJoin(broadcast(dfreq)).crossJoin(broadcast(n))
      .withColumn("score",
        floor(col("ptf").cast("double") *
          log(col("__n").cast("double") / col("__df").cast("double")) * 1e6 + 0.5) / 1e6)
    scored
      .orderBy(col("score").desc, col(id).asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(id).asc)).cast("long"))
      .select(col(id), col("ptf"), col("score"), col("rank"))
  }

  // ---------- rank fusion (hybrid retrieval) ----------

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way
    * to combine heterogeneous retrieval lists (BM25 + dense kNN, or
    * any mix) without score calibration: fused score =
    * Σ_lists 1/(k + rank), missing-from-a-list contributes 0. The sum
    * folds in list order and is quantized to integer micros, and final
    * ranks tie-break on the id, so the fusion is bit-stable across
    * engines. Output: (id, rrf, rank) — the top `topK` fused ids.
    *
    * Scale shape: every input is already a top-N ranking (bounded by
    * its own retrieval cut), so the full-outer join chain runs over
    * list-sized frames that AQE broadcasts — nothing corpus-sized
    * enters this operator. */
  def rrfFuse(rankings: Seq[DataFrame], id: String, rank: String,
      k: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    val renamed = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(id).as("__id"), col(rank).as(s"__r$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq("__id"), "full_outer"))
    val score = renamed.indices.map(i =>
        coalesce(lit(1.0) / (lit(k.toDouble) + col(s"__r$i").cast("double")), lit(0.0)))
      .reduce(_ + _)
    val w = Window.orderBy(col("rrf").desc, col("__id").asc)
    joined.withColumn("rrf", floor(score * 1e6 + lit(0.5)) / 1e6)
      .orderBy(col("rrf").desc, col("__id").asc).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("__id").as(id), col("rrf"), col("rank"))
  }

}

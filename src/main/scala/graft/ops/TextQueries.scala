package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus — the
  * training-data-pipeline surface (north star): cleaning, token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * All of these are pure per-row expression pipelines: no shuffle at
  * all (except the fingerprint variant that aggregates per doc), fully
  * whole-stage-codegen'd, and scale linearly with input bytes — the
  * shape you want over 100 TB of text.
  */
object TextQueries {

  val StopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
  private val StopwordsDe = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit")
  private val StopwordsEs = Seq("el", "la", "los", "de", "y", "es", "un", "en", "que")
  private val StopwordsFr = Seq("le", "les", "des", "et", "est", "un", "une", "du", "que")

  /** Non-empty whitespace tokens of `text`. */
  private def tokens = graft.api.Graft.tokens(col("text"))

  /** Text normalization: strip non-alphanumerics, lowercase, length. */
  def qTextClean(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.cleanText(Tables.documents(spark, dir), "doc_id", "text")

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation marks — the classic
    * pre-tokenizer split). */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.tokenCounts(Tables.documents(spark, dir), "doc_id", "text")

  /** Corpus-adaptive boilerplate removal: tokens appearing in ≥ 50% of
    * all documents are template noise by definition — drop every
    * occurrence, preserving token order (the word-level analog of the
    * boilerplate-line filter, whose unit is '\n'; the fixtures are
    * single-line). */
  def qDropBoilerplate(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.dropBoilerplate(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", " ", 0.5)

  val dropBoilerplateOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), w AS (
      |  SELECT doc_id, unnest(ts) AS word,
      |    unnest(list_transform(ts, (x, i) -> i)) AS pos
      |  FROM toks
      |), freq AS (
      |  SELECT word FROM (SELECT DISTINCT doc_id, word FROM w)
      |  GROUP BY word
      |  HAVING count(*) >= (SELECT ceil(count(*) * 0.5) FROM documents)
      |), kept AS (
      |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS cleaned,
      |    count(*) AS n_kept
      |  FROM w WHERE word NOT IN (SELECT word FROM freq)
      |  GROUP BY doc_id
      |), tot AS (
      |  SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(k.cleaned, '') AS cleaned,
      |  (t.n_words - coalesce(k.n_kept, 0))::BIGINT AS n_removed
      |FROM documents d
      |JOIN tot t USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)""".stripMargin

  /** LINE-level boilerplate removal — the web-corpus shape: repeated
    * nav/footer/cookie-banner LINES dropped by corpus frequency, word
    * order inside surviving lines untouched. The fixtures are
    * single-line word streams, so the graded entry derives a multi-line
    * column by mapping the token "the" to a newline (literal
    * left-to-right replace — identical semantics in both engines), then
    * runs [[graft.api.Graft.dropBoilerplate]] with `delim = "\n"`. A
    * line must recur in ≥ 0.5% of documents verbatim to be dropped —
    * the line-keyed threshold regime (whole lines recur far less often
    * than words, so minDocFrac is 100× smaller than the word entry's). */
  def qDropBoilerplateLines(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.dropBoilerplate(
      Tables.documents(spark, dir).select(col("doc_id"),
        replace(col("text"), lit(" the "), lit("\n")).as("text")),
      "doc_id", "text", "\n", 0.005)

  val dropBoilerplateLinesOracle: String =
    """WITH lined AS (
      |  SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents
      |), toks AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS ts FROM lined
      |), w AS (
      |  SELECT doc_id, unnest(ts) AS word,
      |    unnest(list_transform(ts, (x, i) -> i)) AS pos
      |  FROM toks
      |), freq AS (
      |  SELECT word FROM (SELECT DISTINCT doc_id, word FROM w)
      |  GROUP BY word
      |  HAVING count(*) >= (SELECT ceil(count(*) * 0.005) FROM documents)
      |), kept AS (
      |  SELECT doc_id, string_agg(word, chr(10) ORDER BY pos) AS cleaned,
      |    count(*) AS n_kept
      |  FROM w WHERE word NOT IN (SELECT word FROM freq)
      |  GROUP BY doc_id
      |), tot AS (
      |  SELECT doc_id, count(*) AS n_lines FROM w GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(k.cleaned, '') AS cleaned,
      |  (t.n_lines - coalesce(k.n_kept, 0))::BIGINT AS n_removed
      |FROM documents d
      |JOIN tot t USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)""".stripMargin

  /** Benchmark decontamination over the fixtures: docs with
    * `doc_id % 97 == 0` play the eval suite, the rest are the training
    * corpus; a training doc is contaminated when it shares any word
    * 4-gram with the benchmark verbatim (4, not the production 13 —
    * fixture docs are ~20 words). */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    graft.api.Graft.decontaminate(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0), "doc_id", "text",
      docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", 4)
  }

  val decontaminateOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(ts) - 3, 0)),
      |    i -> array_to_string(ts[(i+1)::INT:(i+4)::INT], ' '))) AS g
      |  FROM toks
      |), bench AS (
      |  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
      |), hits AS (
      |  SELECT doc_id, count(DISTINCT g)::BIGINT AS n_hits
      |  FROM grams WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bench)
      |  GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
      |  (coalesce(h.n_hits, 0) > 0)::BIGINT AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 97 <> 0""".stripMargin

  /** Span-level decontamination ([[graft.api.Graft.exciseContamination]]):
    * every word position covered by a benchmark 4-gram is excised, the
    * rest of the document survives. Bench side = doc_id % 23 (31 of
    * 500 fixture docs carry a benchmark-overlapping span at sf0.01). */
  def qExcise(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    graft.api.Graft.exciseContamination(
      docs.filter(pmod(col("doc_id"), lit(23)) =!= 0), "doc_id", "text",
      docs.filter(pmod(col("doc_id"), lit(23)) === 0), "text", 4)
  }

  val exciseOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(ts) - 3, 0)),
      |    i -> array_to_string(ts[(i+1)::INT:(i+4)::INT], ' '))) AS g,
      |    unnest(range(0, greatest(len(ts) - 3, 0))) AS gpos
      |  FROM toks
      |), bench AS (
      |  SELECT DISTINCT g FROM grams WHERE doc_id % 23 = 0
      |), covered AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform([0,1,2,3], k -> gpos + k)) AS pos
      |  FROM grams WHERE doc_id % 23 <> 0 AND g IN (SELECT g FROM bench)
      |), words AS (
      |  SELECT doc_id, unnest(ts) AS word,
      |    unnest(list_transform(ts, (x, i) -> i - 1)) AS pos
      |  FROM toks WHERE doc_id % 23 <> 0
      |), kept AS (
      |  SELECT w.doc_id, string_agg(w.word, ' ' ORDER BY w.pos) AS cleaned,
      |    count(*) AS nk
      |  FROM words w
      |  WHERE NOT EXISTS (SELECT 1 FROM covered c
      |                    WHERE c.doc_id = w.doc_id AND c.pos = w.pos)
      |  GROUP BY w.doc_id
      |), totals AS (
      |  SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(k.cleaned, '') AS cleaned,
      |  (coalesce(t.nw, 0) - coalesce(k.nk, 0))::BIGINT AS n_removed
      |FROM documents d
      |LEFT JOIN totals t USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)
      |WHERE d.doc_id % 23 <> 0""".stripMargin

  /** Bloom-prefiltered decontamination — the identical gate to
    * [[qDecontaminate]] (same split, same 4-grams, bit-identical
    * output, same oracle) but with the corpus gram stream pruned
    * map-side against a broadcast Bloom filter of the benchmark grams
    * before any shuffle; false positives are removed by the exact
    * verify join. fpp = 0.05 so the fixture run genuinely exercises
    * the verify path. */
  def qDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    graft.api.Graft.decontaminateBloom(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0), "doc_id", "text",
      docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", 4, 0.05)
  }

  /** PII redaction over the fixtures. The word-soup corpus contains no
    * PII, so the graded entry derives it deterministically from doc_id
    * (identical integer/string arithmetic in both engines): every 3rd
    * doc gains an email, every 4th an IPv4, every 5th a phone number —
    * the moduli are coprime-ish so zero-, one- and multi-hit rows all
    * occur, and the untouched word soup pins "no false redactions". */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".com")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0."), pmod(col("doc_id"), lit(100)).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 2,
        concat(lit(" call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")))
    graft.api.Graft.piiRedact(
      Tables.documents(spark, dir).select(col("doc_id"), dirty.as("text")),
      "doc_id", "text")
  }

  val piiRedactOracle: String =
    """WITH dirty AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id
      |         || '@mail' || (doc_id % 7) || '.com' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 1 THEN ' from 10.' || (doc_id % 256)
      |         || '.0.' || (doc_id % 100) ELSE '' END
      |    || CASE WHEN doc_id % 5 = 2 THEN ' call 555-'
      |         || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
      |         || lpad((doc_id * 7 % 10000)::VARCHAR, 4, '0') ELSE '' END
      |    AS text
      |  FROM documents
      |)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
      |  len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
      |  len(regexp_extract_all(text,
      |    '\b\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phones,
      |  len(regexp_extract_all(text,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips
      |FROM dirty""".stripMargin

  /** Domain blocklist filtering over the fixtures: URLs derived
    * deterministically from doc_id (subK.siteN.com with 5×97 shapes),
    * blocklist = the ten siteN.com domains with N ≡ 0 (mod 10), built
    * as a real DataFrame so the graded plan exercises the broadcast
    * blocklist join; the oracle states host/domain/blocked directly
    * from the doc_id arithmetic, so the regex extraction is graded
    * against ground truth rather than a second regex. */
  def qDomainFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      concat(lit("https://sub"), pmod(col("doc_id"), lit(5)).cast("string"),
        lit(".site"), pmod(col("doc_id"), lit(97)).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string")).as("url"))
    val blocklist = spark.range(0, 97)
      .filter(pmod(col("id"), lit(10)) === 0)
      .select(concat(lit("site"), col("id").cast("string"), lit(".com")).as("domain"))
    graft.api.Graft.domainFilter(docs, "doc_id", "url", blocklist, "domain")
  }

  val domainFilterOracle: String =
    """SELECT doc_id,
      |  'sub' || (doc_id % 5) || '.site' || (doc_id % 97) || '.com' AS host,
      |  'site' || (doc_id % 97) || '.com' AS domain,
      |  ((doc_id % 97) % 10 = 0)::BIGINT AS blocked
      |FROM documents""".stripMargin

  /** Corpus-level line dedup (C4-style): lines derived from the
    * single-line fixtures the same way as [[qDropBoilerplateLines]]
    * (the token "the" becomes a newline), then every repeated line
    * keeps only its globally first occurrence. */
  def qLineDedup(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.lineDedup(
      Tables.documents(spark, dir).select(col("doc_id"),
        replace(col("text"), lit(" the "), lit("\n")).as("text")),
      "doc_id", "text", "\n")

  val lineDedupOracle: String =
    """WITH lined AS (
      |  SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents
      |), toks AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS ts FROM lined
      |), w AS (
      |  SELECT doc_id, unnest(ts) AS unit,
      |    unnest(list_transform(ts, (x, i) -> i)) AS pos
      |  FROM toks
      |), ranked AS (
      |  SELECT doc_id, unit, pos,
      |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
      |  FROM w
      |), kept AS (
      |  SELECT doc_id, string_agg(unit, chr(10) ORDER BY pos) AS cleaned,
      |    count(*) AS n_kept
      |  FROM ranked WHERE rn = 1 GROUP BY doc_id
      |), tot AS (
      |  SELECT doc_id, count(*) AS n_units FROM w GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(k.cleaned, '') AS cleaned,
      |  (t.n_units - coalesce(k.n_kept, 0))::BIGINT AS n_removed
      |FROM documents d
      |JOIN tot t USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)""".stripMargin

  /** Exact-substring duplicate-span coverage over the fixtures
    * (20-char spans on ~100-char docs; production uses the paper's
    * 50). */
  def qDupSpans(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.dupSpans(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", 20)

  val dupSpansOracle: String =
    """WITH spans AS (
      |  SELECT doc_id, unnest(list_transform(range(0, greatest(length(text) - 19, 0)),
      |    i -> substr(text, (i+1)::INT, 20))) AS s
      |  FROM documents
      |), cnt AS (
      |  SELECT s, count(*) AS n FROM spans GROUP BY s
      |), hits AS (
      |  SELECT doc_id, count(*) AS dups
      |  FROM spans JOIN cnt USING (s) WHERE n > 1 GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  greatest(length(d.text) - 19, 0)::BIGINT AS n_spans,
      |  coalesce(h.dups, 0)::BIGINT AS dup_spans,
      |  round(coalesce(h.dups, 0) / greatest(length(d.text) - 19, 1), 4) AS dup_frac
      |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** Char-level duplicate-span removal over the fixtures — the
    * transform [[qDupSpans]] diagnoses: every corpus-duplicated
    * 20-char span keeps its globally-first occurrence, every other
    * occurrence is excised (overlaps merged). */
  def qExciseSpans(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.exciseDupSpans(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", 20)

  val exciseSpansOracle: String =
    """WITH spans AS (
      |  SELECT doc_id, unnest(list_transform(range(0, greatest(length(text) - 19, 0)),
      |    i -> substr(text, (i+1)::INT, 20))) AS s,
      |    unnest(range(0, greatest(length(text) - 19, 0))) AS pos
      |  FROM documents
      |), ranked AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
      |  FROM spans
      |), covered AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(0, 20), k -> pos + k)) AS cpos
      |  FROM ranked WHERE rn > 1
      |), chars AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch,
      |    unnest(list_transform(string_split(text, ''), (x, i) -> i - 1)) AS cpos
      |  FROM documents
      |), kept AS (
      |  SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.cpos) AS cleaned,
      |    count(*) AS nk
      |  FROM chars c
      |  WHERE NOT EXISTS (SELECT 1 FROM covered v
      |                    WHERE v.doc_id = c.doc_id AND v.cpos = c.cpos)
      |  GROUP BY c.doc_id
      |)
      |SELECT d.doc_id, coalesce(k.cleaned, '') AS cleaned,
      |  (length(d.text) - coalesce(k.nk, 0))::BIGINT AS n_removed
      |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin

  /** Compression-ratio quality signal over the fixtures (deflate bytes
    * / raw UTF-8 bytes per doc — engine-specific, rows-only gate;
    * bounds pinned in ApproxOpsSpec). */
  def qCompressRatio(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.compressionRatio(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text")

  /** Corpus-trained bigram-LM scoring over the fixtures (bits per
    * token, add-one smoothing; docs with < 2 tokens omitted). */
  def qLmBits(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.lmScore(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text")

  val lmBitsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |), uni AS (
      |  SELECT w1, count(*) AS c1 FROM (
      |    SELECT unnest(ts) AS w1 FROM toks
      |  ) GROUP BY w1
      |), v AS (SELECT count(*) AS v FROM uni),
      |bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(0, greatest(len(ts) - 1, 0)),
      |      i -> ts[(i+1)::INT])) AS w1,
      |    unnest(list_transform(range(0, greatest(len(ts) - 1, 0)),
      |      i -> ts[(i+2)::INT])) AS w2
      |  FROM toks
      |), bcnt AS (
      |  SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2
      |)
      |SELECT bi.doc_id,
      |  round(sum(-log2((bcnt.cb + 1) / (uni.c1 + v.v))) / count(*), 4)
      |    AS bits_per_token
      |FROM bi JOIN bcnt USING (w1, w2) JOIN uni USING (w1), v
      |GROUP BY bi.doc_id""".stripMargin

  /** Within-document repetition ratios (Gopher-family quality signal):
    * duplicated-word and duplicated-3-gram fractions per doc. */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.repetitionScore(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text")

  val repetitionOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, w,
      |    CASE WHEN len(w) >= 3 THEN list_transform(range(0, len(w) - 2),
      |      i -> w[(i+1)::INT] || ' ' || w[(i+2)::INT] || ' ' || w[(i+3)::INT])
      |    ELSE [] END AS gr
      |  FROM t
      |)
      |SELECT doc_id, len(w)::BIGINT AS n_words,
      |  round(CASE WHEN len(w) > 0
      |    THEN 1.0 - len(list_distinct(w))::DOUBLE / len(w)::DOUBLE
      |    ELSE 0.0 END, 6) AS word_rep_ratio,
      |  round(CASE WHEN len(gr) > 0
      |    THEN 1.0 - len(list_distinct(gr))::DOUBLE / len(gr)::DOUBLE
      |    ELSE 0.0 END, 6) AS gram3_rep_ratio
      |FROM g""".stripMargin

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean
    * word length — the standard cheap filters a pretraining pipeline
    * runs before anything expensive. Pure per-row FP arithmetic
    * (deterministic, no reduction-order effects). */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.qualityScore(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", StopwordsEn)

  /** Language ID via stopword-profile scoring (n-gram-heuristic family):
    * count stopword hits per language profile, argmax with a fixed
    * priority tiebreak so the result is deterministic. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    def score(words: Seq[String]) =
      size(filter(tokens, t => t.isin(words: _*))).cast("long")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang").as("lang_actual"),
        score(StopwordsEn).as("s_en"), score(StopwordsDe).as("s_de"),
        score(StopwordsEs).as("s_es"), score(StopwordsFr).as("s_fr"))
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .select(col("doc_id"), col("lang_actual"), col("lang_pred"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"))
  }

  /** TF-IDF top-3 terms per document over whitespace tokens — the
    * relevance/keyword-extraction member of the text family
    * ([[graft.api.Graft.tfIdf]]). */
  def qTfidf(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.tfIdf(Tables.documents(spark, dir), "doc_id", "text", 3)

  /** Fill-in-the-middle transform (Bavarian et al. 2022, public
    * recipe): deterministically cut each document at two
    * content-derived points and emit the PSM (prefix-suffix-middle)
    * reordering that FIM pretraining consumes, plus the cut geometry.
    * Cuts derive from the portable 31-bit content hash — reproducible
    * across engines, retries, and partitionings; docs shorter than 8
    * chars pass through unsplit (cut1 = cut2 = len). Shuffle-free
    * per-row projection. */
  def qFim(spark: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cut1",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cut2",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("psm_text",
          org.apache.spark.sql.types.StringType))))
    // content hash + cuts in a Scala kernel: the Catalyst HOF form of
    // polyHash is evaluated interpreted (the q_fingerprint 9× lesson)
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val s = if (r.isNullAt(1)) "" else r.getString(1)
          val n = s.length.toLong
          val h = DedupQueries.polyHashS(s)
          val (c1, c2) =
            if (n < 8) (n, n)
            else {
              val a = 1L + h % (n - 2)
              (a, a + 1L + (h * 31L + 7L) % (n - a))
            }
          val psm = "<PRE>" + s.substring(0, c1.toInt) +
            "<SUF>" + s.substring(c2.toInt) +
            "<MID>" + s.substring(c1.toInt, c2.toInt)
          org.apache.spark.sql.Row(id, c1, c2, psm)
        }
      }(enc)
  }

  /** T5-style span corruption (Raffel et al. 2020, public recipe):
    * token i of a doc is masked iff (h·31 + i) mod 7 == 0 (h = the
    * portable 31-bit content hash, i 1-based) — ~14 % of tokens;
    * consecutive masked tokens merge into one span. Emits the
    * corrupted text (each span replaced by its <Xn> sentinel) and the
    * target string (sentinels + the masked tokens), the encoder/
    * decoder pair denoising pretraining consumes. Shuffle-free
    * per-row kernel; deterministic across engines/partitionings. */
  def qSpanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("corrupted",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("target",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_masked",
          org.apache.spark.sql.types.LongType))))
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val s = if (r.isNullAt(1)) "" else r.getString(1)
          val w = s.split(" ").filter(_.nonEmpty)
          val h = DedupQueries.polyHashS(s)
          val corrupted = new StringBuilder
          val target = new StringBuilder
          var masked = 0L
          var run = -1
          var inRun = false
          var i = 0
          while (i < w.length) {
            val m = (h * 31L + (i + 1)) % 7L == 0L
            if (m) {
              masked += 1
              if (!inRun) {
                run += 1
                if (corrupted.nonEmpty) corrupted.append(' ')
                corrupted.append(s"<X$run>")
                if (target.nonEmpty) target.append(' ')
                target.append(s"<X$run>")
              }
              target.append(' ').append(w(i))
              inRun = true
            } else {
              if (corrupted.nonEmpty) corrupted.append(' ')
              corrupted.append(w(i))
              inRun = false
            }
            i += 1
          }
          org.apache.spark.sql.Row(id, corrupted.toString, target.toString, masked)
        }
      }(enc)
  }

  val spanCorruptOracle: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w,
      |    ((list_sum(list_transform(string_split(text, ''), (c, i) -> i * ascii(c)))
      |      * 48271) % 2147483647)::BIGINT AS h
      |  FROM documents
      |), tok AS (
      |  SELECT doc_id, i, w[i::INT] AS t,
      |    ((h * 31 + i) % 7 = 0) AS m
      |  FROM d, unnest(range(1, len(w) + 1)) AS u(i)
      |), runs AS (
      |  SELECT doc_id, i, t, m,
      |    CASE WHEN m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY i), false)
      |         THEN 1 ELSE 0 END AS b
      |  FROM tok
      |), rid AS (
      |  SELECT doc_id, i, t, m, b,
      |    sum(b) OVER (PARTITION BY doc_id ORDER BY i) - 1 AS run
      |  FROM runs
      |)
      |SELECT d.doc_id,
      |  coalesce(agg.corrupted, '') AS corrupted,
      |  coalesce(agg.target, '') AS target,
      |  coalesce(agg.n_masked, 0)::BIGINT AS n_masked
      |FROM d LEFT JOIN (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN NOT m THEN t
      |                    WHEN b = 1 THEN '<X' || run || '>' END, ' ' ORDER BY i)
      |      AS corrupted,
      |    string_agg(CASE WHEN m AND b = 1 THEN '<X' || run || '> ' || t
      |                    WHEN m THEN t END, ' ' ORDER BY i) AS target,
      |    sum(CASE WHEN m THEN 1 ELSE 0 END) AS n_masked
      |  FROM rid GROUP BY doc_id
      |) agg ON d.doc_id = agg.doc_id""".stripMargin

  val fimOracle: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text)::BIGINT AS len,
      |    ((list_sum(list_transform(string_split(text, ''), (c, i) -> i * ascii(c)))
      |      * 48271) % 2147483647)::BIGINT AS h
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, text, len,
      |    CASE WHEN len < 8 THEN len ELSE 1 + h % (len - 2) END AS cut1, h
      |  FROM d
      |), c2 AS (
      |  SELECT doc_id, text, len, cut1,
      |    CASE WHEN len < 8 THEN len ELSE cut1 + 1 + (h * 31 + 7) % (len - cut1) END AS cut2
      |  FROM c
      |)
      |SELECT doc_id, cut1, cut2,
      |  '<PRE>' || substr(text, 1, cut1::INT)
      |  || '<SUF>' || substr(text, (cut2 + 1)::INT, (len - cut2)::INT)
      |  || '<MID>' || substr(text, (cut1 + 1)::INT, (cut2 - cut1)::INT) AS psm_text
      |FROM c2""".stripMargin

  val tfidfOracle: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
      |SELECT doc_id, term, tf, df, tfidf, rank FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |    round(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) AS tfidf,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY round(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) DESC, tf.term ASC)::BIGINT AS rank
      |  FROM tf JOIN dfreq USING (term), n)
      |WHERE rank <= 3""".stripMargin

  /** BM25 top-3 terms per document — length-normalized relevance
    * ([[graft.api.Graft.bm25]], k1=1.2, b=0.75). */
  def qBm25(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.bm25(Tables.documents(spark, dir), "doc_id", "text", 3)

  val bm25Oracle: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), corpus AS (
      |  SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl
      |)
      |SELECT doc_id, term, tf, df, dl, bm25, rank FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl::BIGINT AS dl,
      |    round(
      |      ln(1.0 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |        * (tf.tf * 2.2)
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / corpus.avgdl)), 6) AS bm25,
      |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY
      |      round(
      |        ln(1.0 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |          * (tf.tf * 2.2)
      |          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / corpus.avgdl)), 6) DESC,
      |      tf.term ASC)::BIGINT AS rank
      |  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id, corpus)
      |WHERE rank <= 3""".stripMargin

  /** Concat-and-chunk sequence packing of the corpus into 1024-token
    * training sequences ([[graft.api.Graft.packSequences]]): global
    * token offsets via the distributed two-pass prefix sum. */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.packSequences(
      Tables.documents(spark, dir).select(col("doc_id"),
        size(tokens).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", 1024L)

  val packOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens
      |  FROM documents
      |), o AS (
      |  SELECT doc_id, n_tokens,
      |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS stream_off
      |  FROM t)
      |SELECT doc_id, n_tokens, stream_off,
      |  (stream_off // 1024)::BIGINT AS seq_id,
      |  (stream_off % 1024)::BIGINT AS seq_off,
      |  ((stream_off % 1024 + n_tokens - 1) // 1024 + 1)::BIGINT AS n_seqs
      |FROM o""".stripMargin

  /** Document fingerprint: position-weighted character hash
    * (rolling-hash family), oracle-checkable in plain SQL. The
    * high-throughput variant for production dedup is xxhash64(text)
    * (see DedupQueries) — this one exists to pin exact cross-engine
    * semantics. Shuffle-free mapPartitions kernel
    * ([[graft.api.Graft.charFingerprint]]) — the expression form was
    * the suite's last nested interpreted HOF and 9×-sensitive to CPU
    * contention (round-5 bench). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.charFingerprint(Tables.documents(spark, dir), "doc_id", "text")

  // ----- term blocklist filter -----

  /** Blocklist of two fixture-vocabulary words and two adjacent-pair
    * phrases, max 2 hits — "slow" is frequent in the synthesis, so
    * both kept=1 and kept=0 rows appear at every scale. */
  def qBlocklist(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.blocklistFilter(Tables.documents(spark, dir),
      "doc_id", "text", Seq("slow", "legacy", "big table", "full scan"), maxHits = 2L)

  val blocklistOracle: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
      |      w -> lower(w)) AS t
      |  FROM documents
      |)
      |SELECT doc_id, len(t)::BIGINT AS n_tokens,
      |  (len(list_filter(t, w -> w IN ('slow', 'legacy'))) +
      |   len(list_filter(
      |     list_transform(t, (x, i) ->
      |       CASE WHEN i < len(t) THEN x || ' ' || t[i + 1] END),
      |     v -> v IN ('big table', 'full scan'))))::BIGINT AS n_bad,
      |  ((len(list_filter(t, w -> w IN ('slow', 'legacy'))) +
      |    len(list_filter(
      |      list_transform(t, (x, i) ->
      |        CASE WHEN i < len(t) THEN x || ' ' || t[i + 1] END),
      |      v -> v IN ('big table', 'full scan')))) <= 2)::BIGINT AS kept
      |FROM tok""".stripMargin

  /** Deterministic messy-HTML synthesis for [[graft.api.Graft
    * .htmlExtract]]: comment, title, style and script blocks (the
    * script contains a BARE `<` that must vanish with the block, not
    * leak into the text), entity-encoded punctuation every 2nd doc,
    * an outbound link every 3rd doc, and the real fixture text as the
    * body paragraph. */
  private def messyHtml = concat(
    lit("<html><!-- crawl "), col("doc_id"), lit(" --><head><title>Doc "),
    col("doc_id"), lit("</title><style type=\"text/css\">p { color: red; }</style>"),
    lit("<script>var x = 1; if (x < 2) { x = 3; }</script></head><body><h1>Doc "),
    col("doc_id"), lit("</h1><p>"), col("text"), lit("</p>"),
    when(col("doc_id") % 2 === 0,
      lit("<p>a &amp; b &lt;tag&gt; &quot;q&quot;&nbsp;end</p>")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit("<a href=\"https://ex.com/"), col("doc_id"), lit("\">more</a>")))
      .otherwise(lit("")),
    lit("</body></html>"))

  def qHtmlExtract(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.htmlExtract(
      Tables.documents(spark, dir).select(col("doc_id"), messyHtml.as("html")),
      "doc_id", "html")

  /** The same synthesis and the same RE2-subset regex chain replayed
    * in SQL ('g' flag — DuckDB replaces first-match-only by default,
    * Spark replaces all). */
  val htmlExtractOracle: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><!-- crawl ' || doc_id || ' --><head><title>Doc ' || doc_id ||
      |    '</title><style type="text/css">p { color: red; }</style>' ||
      |    '<script>var x = 1; if (x < 2) { x = 3; }</script></head><body><h1>Doc ' ||
      |    doc_id || '</h1><p>' || text || '</p>' ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN '<p>a &amp; b &lt;tag&gt; &quot;q&quot;&nbsp;end</p>' ELSE '' END ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN '<a href="https://ex.com/' || doc_id || '">more</a>' ELSE '' END ||
      |    '</body></html>' AS html
      |  FROM documents)
      |SELECT doc_id,
      |  trim(regexp_replace(
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(
      |      html,
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      |      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      |      '<[^>]+>', ' ', 'g'),
      |      '&lt;', '<', 'g'),
      |      '&gt;', '>', 'g'),
      |      '&quot;', '"', 'g'),
      |      '&#39;', '''', 'g'),
      |      '&nbsp;', ' ', 'g'),
      |      '&amp;', '&', 'g'),
      |    '\s+', ' ', 'g')) AS text,
      |  len(regexp_extract_all(html, '(?i)<a[\s>]'))::BIGINT AS n_links
      |FROM h""".stripMargin

  /** Deterministic link-rich HTML synthesis for
    * [[graft.api.Graft.anchorLinks]]: an absolute link with nested
    * markup in its anchor text (always), a relative link (every 2nd
    * doc), an href-LESS named anchor (always — must be dropped but
    * still occupy a `link_no` position), and an uppercase
    * `<A HREF=...>` (every 4th doc). */
  private def linkHtml = concat(
    lit("<div><p>Doc "), col("doc_id"), lit(" intro</p><a href=\"https://site"),
    col("doc_id") % 5, lit(".com/p/"), col("doc_id") % 7,
    lit("\">go <b>deep</b> now</a>"),
    when(col("doc_id") % 2 === 0,
      concat(lit("<a href=\"/rel/"), col("doc_id") % 3,
        lit("\">relative &amp; local</a>"))).otherwise(lit("")),
    lit("<a name=\"top\">no href here</a>"),
    when(col("doc_id") % 4 === 0,
      concat(lit("<A HREF=\"HTTPS://UP"), col("doc_id") % 5,
        lit(".COM/X\">caps</A>"))).otherwise(lit("")),
    lit("</div>"))

  def qAnchorExtract(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.anchorLinks(
      Tables.documents(spark, dir).select(col("doc_id"), linkHtml.as("html")),
      "doc_id", "html")

  /** Same synthesis; the zip-unnest (positions × blocks) replays
    * posexplode, and the per-block href/anchor regexes are identical. */
  val anchorExtractOracle: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    '<div><p>Doc ' || doc_id || ' intro</p><a href="https://site' ||
      |    (doc_id % 5) || '.com/p/' || (doc_id % 7) ||
      |    '">go <b>deep</b> now</a>' ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN '<a href="/rel/' || (doc_id % 3) || '">relative &amp; local</a>'
      |      ELSE '' END ||
      |    '<a name="top">no href here</a>' ||
      |    CASE WHEN doc_id % 4 = 0
      |      THEN '<A HREF="HTTPS://UP' || (doc_id % 5) || '.COM/X">caps</A>'
      |      ELSE '' END ||
      |    '</div>' AS html
      |  FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(regexp_extract_all(html, '(?is)<a\b[^>]*>.*?</a>')) + 1)) AS link_no,
      |    unnest(regexp_extract_all(html, '(?is)<a\b[^>]*>.*?</a>')) AS a
      |  FROM h)
      |SELECT doc_id, link_no::BIGINT AS link_no,
      |  regexp_extract(a, '(?is)href="([^"]*)"', 1) AS href,
      |  trim(regexp_replace(regexp_replace(
      |    regexp_extract(a, '(?is)^<a\b[^>]*>(.*)</a>$', 1),
      |    '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS anchor
      |FROM b
      |WHERE regexp_extract(a, '(?is)href="([^"]*)"', 1) <> ''""".stripMargin

  /** Mixed code/prose synthesis for [[graft.api.Graft.codeDetect]]:
    * every 3rd doc is wrapped as a function body (brace/semicolon
    * lines, two indented, three reserved words) with the fixture text
    * as a trailing comment; the rest stay raw prose. The fixture
    * vocabulary contains none of the reserved words, so the prose
    * side's keyword_hits is genuinely 0. */
  private def mixedSource = when(col("doc_id") % 3 === 0,
    concat(lit("def f_"), col("doc_id"), lit("(x) {\n  var y = x + "),
      col("doc_id") % 7, lit(";\n  return y;\n}\n// "), col("text")))
    .otherwise(col("text"))

  def qCodeDetect(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.codeDetect(
      Tables.documents(spark, dir).select(col("doc_id"), mixedSource.as("text")),
      "doc_id", "text")

  /** Same synthesis; ratios are floor(x·1e4 + 0.5)/1e4 on both sides
    * and the is_code rule thresholds the CUT ratios, so the decision
    * can't split across engines at a rounding boundary. */
  val codeDetectOracle: String =
    """WITH src AS (
      |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN
      |    'def f_' || doc_id || '(x) {' || chr(10) || '  var y = x + ' ||
      |    (doc_id % 7) || ';' || chr(10) || '  return y;' || chr(10) || '}' ||
      |    chr(10) || '// ' || text
      |  ELSE text END AS t
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, t,
      |    list_filter(string_split(t, chr(10)), l -> l <> '') AS lines,
      |    list_filter(string_split(regexp_replace(t, '\s+', ' ', 'g'), ' '),
      |      w -> w <> '') AS toks
      |  FROM src
      |), r AS (
      |  SELECT doc_id, len(lines)::BIGINT AS n_lines,
      |    floor((len(regexp_extract_all(t, '[{}();=\[\]<>]'))::DOUBLE
      |      / greatest(length(t), 1)::DOUBLE) * 1e4 + 0.5::DOUBLE) / 1e4 AS symbol_ratio,
      |    floor((len(list_filter(lines, l -> l LIKE '  %' OR l LIKE chr(9) || '%'))::DOUBLE
      |      / greatest(len(lines), 1)::DOUBLE) * 1e4 + 0.5::DOUBLE) / 1e4 AS indent_ratio,
      |    floor((len(list_filter(lines, l -> regexp_matches(l, '[;{}]\s*$')))::DOUBLE
      |      / greatest(len(lines), 1)::DOUBLE) * 1e4 + 0.5::DOUBLE) / 1e4 AS eol_ratio,
      |    len(list_filter(toks, w -> w IN ('def','class','return','import',
      |      'function','var','const','if','else','for','while')))::BIGINT AS keyword_hits
      |  FROM f
      |)
      |SELECT doc_id, n_lines, symbol_ratio, indent_ratio, eol_ratio, keyword_hits,
      |  ((eol_ratio >= 0.5 AND symbol_ratio >= 0.02)
      |    OR keyword_hits >= 3)::BIGINT AS is_code
      |FROM r""".stripMargin

  /** Stride-overlapped context-window chunking
    * ([[graft.api.Graft.chunkWindows]]): width 20, stride 10 over the
    * fixture docs (~40-110 tokens → 3-10 overlapping chunks each). */
  def qChunkWindows(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.chunkWindows(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", 20, 10)

  val chunkWindowsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, ts, len(ts)::BIGINT AS n,
      |    1 + (greatest(len(ts) - 20, 0) + 9) // 10 AS nch
      |  FROM toks WHERE len(ts) > 0
      |), p AS (
      |  SELECT doc_id, ts, unnest(range(0, nch)) AS s FROM c
      |)
      |SELECT doc_id, s::BIGINT AS chunk_no,
      |  len(ts[(s*10+1)::INT:(s*10+20)::INT])::BIGINT AS chunk_tokens,
      |  array_to_string(ts[(s*10+1)::INT:(s*10+20)::INT], ' ') AS chunk_text
      |FROM p""".stripMargin
}

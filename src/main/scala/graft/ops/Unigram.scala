package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed unigram-LM tokenizer training + Viterbi encoding — the
  * SentencePiece-unigram complement to [[Bpe]] (Kudo 2018, "Subword
  * Regularization"; north star — the reference has no tokenization
  * surface). Where BPE grows a vocabulary bottom-up by merge rules,
  * the unigram model starts from a large seed of candidate pieces and
  * shrinks it, scoring segmentations by a product of piece
  * probabilities; encoding is the max-probability (Viterbi)
  * segmentation, not a merge replay.
  *
  * This is the deterministic HARD-EM (Viterbi-EM) variant: the E-step
  * counts pieces along each word's single best segmentation instead of
  * the full forward-backward expectation. Counts therefore stay exact
  * LONGS (occurrences × word count), the M-step probabilities are
  * exact rationals cnt/total, and the local and distributed training
  * paths produce bit-identical vocabularies — a sum of DOUBLES in a
  * Spark aggregation would be partition-order-dependent and could not
  * be pinned against the sequential reference. Pruning keeps every
  * seen single-character piece (the coverage floor, as in
  * SentencePiece) plus the top multi-character pieces by count.
  *
  * Scale design (mirrors [[Bpe]]): the corpus-sized work — word-unit
  * counting — is one distributed shuffle up front; every seed / EM /
  * prune round then runs over the DISTINCT word-unit count table
  * (⋘ corpus) with the vocabulary as a driver-held map bounded at
  * seedSize + alphabet entries, broadcast per round. Per round: one
  * bounded aggregation (map-side combine on the piece key), one
  * vocab-bounded collect. Encoding broadcasts the final piece table
  * and segments shuffle-free where the corpus lives.
  *
  * Text model: the SentencePiece default normalization — words are
  * whitespace-split and prefixed with U+2581 ("▁", add_dummy_prefix),
  * so pieces never contain raw spaces and
  * `decode(encode(x)) == whitespace-normalized x` exactly (runs of
  * whitespace collapse; everything else round-trips, including
  * beyond-BMP code points — EXCEPT a literal U+2581 "▁" inside a word,
  * which decode cannot distinguish from the marker and turns into a
  * space; SentencePiece's default normalizer shares exactly this
  * collision, see [[decode]]).
  */
object Unigram {

  /** The SentencePiece word marker (U+2581 LOWER ONE EIGHTH BLOCK). */
  private[ops] val WordMark = "▁"

  /** Whitespace-split + dummy-prefix: the segmentation units. */
  private[ops] def wordUnits(s: String): Array[String] =
    s.split("\\s+").filter(_.nonEmpty).map(WordMark + _)

  /** One symbol per Unicode code point (surrogate-pair safe, like
    * [[Bpe]]'s wordSymbols). */
  private[ops] def codePoints(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Char offsets of the code-point boundaries of `s`: off(0) = 0,
    * off(k) = char index of the k-th code point, off(n) = s.length.
    * Lets the encode/training hot loops take pieces with ONE
    * `String.substring` instead of materializing a String per code
    * point and re-concatenating every candidate slice — identical
    * strings, a fraction of the allocation rate (the encode kernel is
    * allocation-bound at corpus scale). */
  private def cpOffsets(s: String): Array[Int] = {
    val off = new Array[Int](s.codePointCount(0, s.length) + 1)
    var n = 0
    var ci = 0
    while (ci < s.length) {
      off(n) = ci
      n += 1
      ci += Character.charCount(s.codePointAt(ci))
    }
    off(n) = s.length
    off
  }

  /** Trained model: piece → ln(cnt/total). Pure data so it broadcasts
    * cheaply; `maxLen` (code points) bounds the Viterbi inner loop and
    * `unkLogp` (strictly below every real piece) prices unseen single
    * characters at encode time. */
  final case class Model(pieces: Map[String, Double], maxLen: Int, unkLogp: Double)
    extends Serializable

  private def buildModel(logp: Map[String, Double]): Model = {
    val maxLen = if (logp.isEmpty) 1 else logp.keysIterator.map(cpLen).max
    val unk = if (logp.isEmpty) -30.0 else logp.valuesIterator.min - 10.0
    Model(logp, maxLen, unk)
  }

  /** Viterbi segmentation of one word unit: max Σ logp over all
    * segmentations, unknown single characters priced at `unkLogp`.
    * Deterministic tie-break: on an exact score tie the LONGER final
    * piece wins (ascending start index, strict `>` keeps the first
    * maximum found). */
  private[ops] def viterbi(unit: String, m: Model): Array[String] = {
    val off = cpOffsets(unit)
    val n = off.length - 1
    if (n == 0) return Array.empty
    val dp = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    dp(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - m.maxLen)
      while (j < i) {
        val piece = unit.substring(off(j), off(i))
        val lp = m.pieces.get(piece) match {
          case Some(p)            => p
          case None if i - j == 1 => m.unkLogp
          case None               => Double.NaN
        }
        if (!lp.isNaN) {
          val s = dp(j) + lp
          if (s > dp(i)) { dp(i) = s; back(i) = j }
        }
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) { val j = back(k); out += unit.substring(off(j), off(k)); k = j }
    out.reverseIterator.toArray
  }

  // ---------- training ----------

  /** All candidate substrings (≤ maxPieceLen code points) of one unit,
    * one emission per occurrence. */
  private def substrings(unit: String, maxPieceLen: Int): Iterator[String] = {
    val off = cpOffsets(unit)
    val n = off.length - 1
    for {
      j <- (0 until n).iterator
      i <- ((j + 1) to math.min(n, j + maxPieceLen)).iterator
    } yield unit.substring(off(j), off(i))
  }

  /** Shared deterministic top-k: weight desc, then piece ascending in
    * UTF-8 BYTE order — the ordering the distributed `orderBy` gives
    * (Spark compares UTF8String bytes), so the local path must match
    * it beyond ASCII. */
  private def topPieces(weighted: Seq[(String, Long)], k: Int): Seq[(String, Long)] =
    weighted.sortBy { case (p, w) => (-w, p) }(
      Ordering.Tuple2(Ordering.Long, Bpe.Utf8Order)).take(k)

  /** (piece → Long count) → renormalized log-prob table. */
  private def renorm(counts: Seq[(String, Long)]): Map[String, Double] = {
    val total = counts.iterator.map(_._2).sum
    if (total <= 0L) Map.empty
    else counts.iterator.map { case (p, c) =>
      p -> (math.log(c.toDouble) - math.log(total.toDouble))
    }.toMap
  }

  /** One hard-EM M-step, shared verbatim by both training paths so
    * they cannot diverge: zero-count multi-char pieces drop, single
    * chars floor at count 1 (the coverage floor must keep a finite
    * probability). */
  private def emUpdate(vocabCounts: Seq[(String, Long)],
                       cnt: collection.Map[String, Long]): Seq[(String, Long)] =
    vocabCounts.flatMap { case (p, _) =>
      val c = cnt.getOrElse(p, 0L)
      if (cpLen(p) == 1) Some(p -> math.max(c, 1L))
      else if (c > 0L) Some(p -> c) else None
    }

  /** Final prune, shared by both paths: every char + the top
    * `vocabSize` multi-char pieces by final Viterbi count. */
  private def pruneFinal(vocabCounts: Seq[(String, Long)], vocabSize: Int): Model = {
    val (fc, fm) = vocabCounts.partition { case (p, _) => cpLen(p) == 1 }
    buildModel(renorm(fc ++ topPieces(fm, vocabSize)))
  }

  /** Learn a unigram vocabulary of ≤ (seen chars + `vocabSize`)
    * pieces. Two-path design like [[Bpe.train]]: the word-unit count
    * is always distributed; the seed/EM/prune iteration collects the
    * unit table only when it is small (numIters Spark rounds over a
    * tiny table are pure scheduler latency), and the two paths are
    * pinned bit-identical in UnigramSpec. */
  def train(df: DataFrame, text: String, vocabSize: Int, emIters: Int = 3,
            seedSize: Int = 4096, maxPieceLen: Int = 8,
            maxLocalVocab: Int = 1 << 16): Model = graft.Frames.scope {
    val enc = Encoders.row(StructType(Seq(StructField("u", StringType))))
    val uc = graft.Frames.shared(df.select(coalesce(col(text), lit("")).as("__t"))
      .mapPartitions(it => it.flatMap(r => wordUnits(r.getString(0)).iterator.map(Row(_))))(enc)
      .groupBy("u").agg(count(lit(1)).as("cnt")))
    val n = uc.count()
    if (n <= maxLocalVocab)
      trainLocal(uc.collect().map(r => (r.getString(0), r.getLong(1))),
        vocabSize, emIters, seedSize, maxPieceLen)
    else trainDistributed(uc, vocabSize, emIters, seedSize, maxPieceLen)
  }

  /** Driver-side training over a collected unit-count table — also the
    * sequential reference the distributed path is pinned against. */
  private[ops] def trainLocal(units: Array[(String, Long)], vocabSize: Int,
      emIters: Int, seedSize: Int, maxPieceLen: Int): Model = {
    val w = scala.collection.mutable.Map.empty[String, Long]
    units.foreach { case (u, c) =>
      substrings(u, maxPieceLen).foreach(p => w(p) = w.getOrElse(p, 0L) + c)
    }
    val (chars, multis) = w.toSeq.partition { case (p, _) => cpLen(p) == 1 }
    var vocabCounts: Seq[(String, Long)] = chars ++ topPieces(multis, seedSize)
    if (vocabCounts.isEmpty) return buildModel(Map.empty)
    var model = buildModel(renorm(vocabCounts))

    (0 until emIters).foreach { _ =>
      val cnt = scala.collection.mutable.Map.empty[String, Long]
      units.foreach { case (u, c) =>
        viterbi(u, model).foreach(p => cnt(p) = cnt.getOrElse(p, 0L) + c)
      }
      vocabCounts = emUpdate(vocabCounts, cnt)
      model = buildModel(renorm(vocabCounts))
    }
    pruneFinal(vocabCounts, vocabSize)
  }

  /** Distributed training rounds over the unit-count frame — the path
    * for unit tables too large to collect. Every per-round collect is
    * vocab-bounded: the seed takes all single-char pieces (≤ alphabet)
    * plus a TakeOrdered top-`seedSize` of the multi-char candidates;
    * EM counts emit only pieces already in the broadcast vocabulary.
    * The driver never holds the unit table. */
  private def trainDistributed(uc: DataFrame, vocabSize: Int, emIters: Int,
      seedSize: Int, maxPieceLen: Int): Model = {
    val spark = uc.sparkSession
    val enc = Encoders.row(StructType(Seq(
      StructField("p", StringType), StructField("w", LongType),
      StructField("ischar", BooleanType))))

    // its own scope: the piece table is released before the EM rounds
    val (chars, multis) = graft.Frames.scope {
      val pw = graft.Frames.shared(uc.mapPartitions { it =>
        it.flatMap { r =>
          val c = r.getLong(1)
          substrings(r.getString(0), maxPieceLen).map(p => Row(p, c, cpLen(p) == 1))
        }
      }(enc).groupBy("p", "ischar").agg(sum(col("w")).as("w")))
      val chars = pw.filter(col("ischar"))
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      val multis = pw.filter(!col("ischar"))
        .orderBy(col("w").desc, col("p").asc).limit(seedSize)
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      (chars, multis)
    }
    var vocabCounts: Seq[(String, Long)] = chars ++ multis
    if (vocabCounts.isEmpty) return buildModel(Map.empty)
    var model = buildModel(renorm(vocabCounts))

    val cenc = Encoders.row(StructType(Seq(
      StructField("p", StringType), StructField("w", LongType))))
    (0 until emIters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(model)
      val cnt = uc.mapPartitions { it =>
        val m = bc.value
        it.flatMap { r =>
          val c = r.getLong(1)
          viterbi(r.getString(0), m).iterator.map(p => Row(p, c))
        }
      }(cenc).groupBy("p").agg(sum(col("w")).as("w"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      bc.destroy()
      vocabCounts = emUpdate(vocabCounts, cnt)
      model = buildModel(renorm(vocabCounts))
    }
    pruneFinal(vocabCounts, vocabSize)
  }

  // ---------- encoding ----------

  /** Encode a corpus with a trained model: Viterbi-segment each word
    * unit. Output (id, n_tokens, pieces space-joined — the word marker
    * makes the join unambiguous, raw spaces never appear inside a
    * piece). The model broadcasts; a wide input encodes where it
    * lives, shuffle-free — only a narrow (single-split) input is first
    * spread across the cluster ([[Spread.widen]]). NULL text encodes
    * to zero tokens. */
  def encode(df: DataFrame, id: String, text: String, model: Model): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType), StructField("n_tokens", LongType),
      StructField("uni_tokens", StringType))))
    Spread.widen(df.select(col(id), coalesce(col(text), lit(""))))
      .mapPartitions { it =>
        val m = bc.value
        it.map { r =>
          val toks = wordUnits(r.getString(1)).flatMap(u => viterbi(u, m))
          Row(r.getLong(0), toks.length.toLong, toks.mkString(" "))
        }
      }(enc)
  }

  /** Invert the encoding: concatenate pieces, turn word markers back
    * into spaces. `decode(encode(x)) == x` for whitespace-normalized
    * x (single spaces, no leading/trailing runs) — with one documented
    * exception: a literal U+2581 character INSIDE a word is
    * indistinguishable from the word marker after encoding, so it
    * decodes to a space ("a▁b" → "a b"). This is the same collision
    * SentencePiece's add_dummy_prefix normalization carries; escaping
    * pre-existing markers would change every piece containing ▁ and
    * break cross-tokenizer piece compatibility for a character that is
    * effectively absent from natural text. */
  def decode(tokens: String): String =
    tokens.replace(" ", "").replace(WordMark, " ").stripPrefix(" ")

  /** Gate binding (rows-only, like [[Bpe.qBpeEncode]]): a 192-piece
    * multi-char budget trained on the even half of `documents`,
    * encoding applied to the full corpus. Engine-specific (iterative
    * Viterbi-EM training is not expressible in ANSI SQL) → rows-only
    * gate; UnigramSpec pins the two training paths bit-identical, the
    * Viterbi optimum against exhaustive segmentation, and the
    * whitespace-normalized round-trip. */
  def qUnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = train(docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text",
      vocabSize = 192, emIters = 3, seedSize = 2048, maxPieceLen = 8)
    encode(docs, "doc_id", "text", model)
  }
}

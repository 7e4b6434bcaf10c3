package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed byte-pair-encoding tokenizer training + encoding — the
  * vocabulary-learning step of an LLM data pipeline (north star; the
  * reference has no tokenization surface).
  *
  * Scale design (the classic Sennrich word-level formulation): merges
  * never cross word boundaries, so training runs on the DISTINCT-word
  * count table — one corpus-sized shuffle up front, then every merge
  * round touches only the vocabulary (⋘ corpus; at 100 TB the corpus
  * is petascale but the distinct-word table is millions of rows).
  * Each round = one pair-count aggregation over the vocab + a 1-row
  * top-1 collect (deterministic tie-break: count desc, pair lex asc),
  * then a kernel rewrite of the affected words. The vocab frame is
  * cached and re-checkpointed every few rounds to keep lineage flat —
  * the same pattern as dupClusters' pointer jumping.
  *
  * Encoding broadcasts the ranked merge list and applies it greedily
  * (lowest-rank pair first — the exact GPT-2 `bpe()` loop) in a
  * per-partition kernel: shuffle-free over the corpus.
  */
object Bpe {

  /** End-of-word sentinel (the classic `</w>`), kept out of the
    * printable-token space so round-trips are unambiguous. */
  private[ops] val Eow = ""

  /** One symbol per Unicode CODE POINT (not UTF-16 char — splitting
    * surrogate pairs would make non-BMP merges byte-invalid), plus the
    * end-of-word sentinel. */
  private def wordSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += Eow
    out.toArray
  }

  /** UTF-8 byte order — what Spark's UTF8String comparison (and so the
    * distributed rounds' `orderBy`) uses. The local fast path MUST
    * tie-break with the same ordering or the two paths diverge beyond
    * ASCII (Java's String ordering compares UTF-16 code units, which
    * sorts supplementary characters differently). */
  private[ops] val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** Learn `numMerges` merges from a text column. Returns the ranked
    * merge list (left symbol, right symbol), rank = list index.
    *
    * The corpus-sized work (tokenize + word count) is always
    * distributed. The merge ITERATION runs on the distinct-word table;
    * when that table is small (≤ maxLocalVocab rows) it is collected
    * and iterated on the driver — a bounded collect, same pattern as
    * the IVF centroid sample — because numMerges Spark rounds over a
    * tiny table are pure scheduler latency (measured ~6 s for 24
    * merges over a 31-word vocab vs <50 ms local). Large vocabularies
    * take the distributed rounds. Both paths share the tie-break —
    * count desc, pair UTF-8-byte-order asc (the ordering Spark's
    * UTF8String compare gives the distributed `orderBy`) — and are
    * pinned identical in BpeSpec, including beyond-BMP input. */
  def train(df: DataFrame, text: String, numMerges: Int,
            maxLocalVocab: Int = 1 << 16): Seq[(String, String)] = graft.Frames.scope {
    val wc = graft.Frames.shared(
      df.select(explode(filter(split(col(text), " "), t => t =!= "")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")))
    val n = wc.count()
    if (n <= maxLocalVocab)
      trainLocal(wc.collect().map(r => (r.getString(0), r.getLong(1))), numMerges)
    else trainDistributed(wc, numMerges)
  }

  /** Driver-side merge iteration over a collected word-count table. */
  private def trainLocal(words: Array[(String, Long)], numMerges: Int,
                         sym: String => Array[String] = wordSymbols): Seq[(String, String)] = {
    var vocab: Map[Seq[String], Long] = words
      .map { case (w, c) => (sym(w).toSeq, c) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.length < numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      implicit val pairOrder: Ordering[(String, String)] =
        Ordering.Tuple2(Utf8Order, Utf8Order)
      val best = counts.toSeq
        .sortBy { case ((a, b), cnt) => (-cnt, (a, b)) }.headOption
      best match {
        case Some(((a, b), cnt)) if cnt >= 2 =>
          merges += ((a, b))
          vocab = vocab.toSeq.map { case (syms, c) => (mergeOnce(syms, a, b), c) }
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        case _ => continue = false
      }
    }
    merges.toSeq
  }

  /** Distributed merge rounds over the word-count frame — the path for
    * vocabularies too large to collect. */
  private def trainDistributed(wc: DataFrame, numMerges: Int,
      sym: String => Array[String] = wordSymbols): Seq[(String, String)] = graft.Frames.scope {
    val enc = Encoders.row(StructType(Seq(
      StructField("syms", ArrayType(StringType)), StructField("cnt", LongType))))
    // `held` is the round's shared frame; `vocab`, what the next round
    // reads, is it or (every 8th round) its eager checkpoint
    var held = graft.Frames.shared(wc
      .mapPartitions { it =>
        it.map(r => Row(sym(r.getString(0)).toSeq, r.getLong(1)))
      }(enc))
    var vocab = held
    vocab.count()

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    while (round < numMerges) {
      // pair frequencies, weighted by word count; adjacent symbol pairs
      val top = vocab
        .select(col("cnt"), col("syms"),
          posexplode(slice(col("syms"), lit(1), size(col("syms")) - 1)))
        .select(col("cnt"), col("col").as("a"),
          element_at(col("syms"), col("pos") + 2).as("b"))
        .groupBy("a", "b").agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect() // 1 row by construction
      if (top.isEmpty || top(0).getLong(2) < 2) round = numMerges
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val superseded = held
        held = graft.Frames.shared(vocab.mapPartitions { it =>
          it.map { r =>
            val syms = r.getSeq[String](0)
            Row(mergeOnce(syms, a, b), r.getLong(1))
          }
        }(enc))
        // truncate lineage every 8 rounds so the plan doesn't deepen
        // unboundedly (same pattern as dupClusters' pointer jumping)
        vocab = if ((merges.length % 8) == 0) held.localCheckpoint(true) else held
        vocab.count()
        // the one release ahead of the scope: memory stays bounded over
        // numMerges rounds
        superseded.unpersist(false)
        round += 1
      }
    }
    merges.toSeq
  }

  private def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Greedy merge-rank encoding of one word (the GPT-2 `bpe()` loop):
    * repeatedly merge the present pair with the lowest rank. */
  private[ops] def encodeWord(w: String, rank: Map[(String, String), Int]): Array[String] =
    encodeSyms(wordSymbols(w), rank)

  private[ops] def encodeSyms(start: Array[String],
                              rank: Map[(String, String), Int]): Array[String] = {
    var syms = start
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue; var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        val merged = syms(bi) + syms(bi + 1)
        syms = (syms.take(bi) :+ merged) ++ syms.drop(bi + 2)
      }
    }
    syms
  }

  /** Encode a corpus with a trained merge list. Output: (id, n_tokens,
    * tokens as a space-joined string with the end-of-word sentinel
    * stripped — scalar so it can sit under the gate comparator).
    * The ranked merges broadcast; a wide input encodes where it
    * lives, shuffle-free — only a narrow (single-split) input is first
    * spread across the cluster ([[Spread.widen]]). NULL text encodes
    * to zero tokens. */
  def encode(df: DataFrame, id: String, text: String,
             merges: Seq[(String, String)], extra: Seq[String] = Nil): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(
      merges.zipWithIndex.toMap)
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType), StructField("n_tokens", LongType),
      StructField("bpe_tokens", StringType)) ++ extra.map(c => df.schema(c))))
    val nExtra = extra.length
    Spread.widen(df.select((Seq(col(id), coalesce(col(text), lit(""))) ++
        extra.map(col)): _*))
      .mapPartitions { it =>
        val rank = bc.value
        it.map { r =>
          // a never-merged word-final sentinel strips to an empty
          // token — drop those so the output is purely printable
          val toks = r.getString(1).split(" ").filter(_.nonEmpty)
            .flatMap(w => encodeWord(w, rank))
            .map(_.replace(Eow, "")).filter(_.nonEmpty)
          Row.fromSeq(Seq(r.getLong(0), toks.length.toLong, toks.mkString(" ")) ++
            Array.tabulate[Any](nExtra)(k => r.get(2 + k)))
        }
      }(enc)
  }

  /** Gate binding: 24 merges trained on the even half of `documents`,
    * encoding applied to the full corpus. Engine-specific (iterative
    * argmax training is not expressible in ANSI SQL) → rows-only gate;
    * BpeSpec pins training + encoding against a sequential reference
    * implementation and the lossless round-trip. */
  def qBpeEncode(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = train(docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", 24)
    encode(docs, "doc_id", "text", merges)
  }

  /** FIXED merge list for the ENCODING-pass gate arm ([[qBpeApply]]):
    * ten hand-picked ranked merges over the fixture alphabet,
    * exercising multi-level composition ((a,n) + (s,c) → (sc,an) makes
    * 'scan' one token; (t,h) + (th,e) makes 'the' one token) and rank
    * priority ((e,r) at rank 5 beats (u,e) at rank 7 inside 'query' —
    * the greedy must take the lower rank first or the outputs
    * diverge). Constant BY DESIGN: with the merges fixed, the greedy
    * loop is deterministic and SQL-replayable, which is what lets the
    * encoding kernel (as opposed to training — see [[qBpeEncode]]'s
    * rows-only rationale) sit under the full DuckDB hash oracle. */
  private[ops] val FixedMerges: Seq[(String, String)] = Seq(
    ("a", "n"), ("t", "a"), ("r", "o"), ("s", "c"), ("sc", "an"),
    ("e", "r"), ("t", "er"), ("u", "e"), ("t", "h"), ("th", "e"))

  /** Gate binding for the encoding PASS alone — [[encode]]'s greedy
    * merge-rank kernel applied with [[FixedMerges]], under the full
    * hash oracle (round-15 verdict item 7: shrink the no-oracle set's
    * blast radius by oracling the half of BPE that is replayable).
    * Same scale shape as every encode call: merges broadcast, the
    * corpus encodes where it lives, shuffle-free. */
  def qBpeApply(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    encode(Tables.documents(spark, dir), "doc_id", "text", FixedMerges)

  /** The greedy loop replayed in SQL: a recursive CTE over the
    * DISTINCT-word table (the same vocabulary-not-corpus argument as
    * training) — each step merges the lowest-rank, leftmost adjacent
    * pair (rank·4096 + position encodes the argmin; unranked pairs
    * cost 99), terminal states re-join the corpus by word position.
    * Merges never involve the end-of-word sentinel, so the SQL side
    * simply never appends it. */
  val bpeApplyOracle: String = {
    val mapLit = "MAP {" + FixedMerges.zipWithIndex
      .map { case ((a, b), i) => s"'$a|$b': $i" }.mkString(", ") + "}"
    def rankOf(pair: String) = s"coalesce(map_extract($mapLit, $pair)[1], 99)"
    val best =
      s"""list_min(list_transform(range(1, len(syms)),
         |        i -> ${rankOf("syms[i] || '|' || syms[i+1]")} * 4096 + i))""".stripMargin
    s"""WITH RECURSIVE words AS (
       |  SELECT DISTINCT unnest(list_filter(string_split(coalesce(text, ''), ' '),
       |    w -> w <> '')) AS w
       |  FROM documents
       |), enc AS (
       |  SELECT w, string_split(w, '') AS syms FROM words
       |  UNION ALL
       |  SELECT w, list_concat(list_concat(
       |      syms[1:(best % 4096)::INT - 1],
       |      [syms[(best % 4096)::INT] || syms[(best % 4096)::INT + 1]]),
       |      syms[(best % 4096)::INT + 2:]) AS syms
       |  FROM (
       |    SELECT w, syms,
       |      $best AS best
       |    FROM enc) s
       |  WHERE best // 4096 < 99
       |), term AS (
       |  SELECT w, syms FROM (
       |    SELECT w, syms,
       |      $best AS best
       |    FROM enc) s
       |  WHERE best IS NULL OR best // 4096 >= 99
       |), docs AS (
       |  SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '),
       |    w -> w <> '') AS ws
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id, unnest(list_transform(ws,
       |    (w, i) -> struct_pack(w := w, i := i))) AS u
       |  FROM docs
       |), joined AS (
       |  SELECT p.doc_id, (p.u).i AS i, t.syms
       |  FROM pos p JOIN term t ON t.w = (p.u).w
       |)
       |SELECT d.doc_id,
       |  coalesce(sum(len(j.syms)), 0)::BIGINT AS n_tokens,
       |  coalesce(string_agg(array_to_string(j.syms, ' '), ' ' ORDER BY j.i), '')
       |    AS bpe_tokens
       |FROM docs d LEFT JOIN joined j USING (doc_id)
       |GROUP BY d.doc_id""".stripMargin
  }

  // ---------- byte-level arm (GPT-2 lineage) ----------
  //
  // Real pretraining tokenizers are BYTE-level with a pre-tokenization
  // regex: initial symbols are the UTF-8 bytes of each pre-token (so any
  // input encodes — no unknown symbols, and merge inventories differ
  // from the code-point arm on non-ASCII), merges never cross pre-token
  // boundaries, and the byte→printable-char table keeps symbols in
  // string space so the whole word-level training machinery above is
  // reused unchanged. Concatenating a document's pre-tokens reproduces
  // the document exactly (the regex is a PARTITION of the input), so
  // encode → decode is lossless by construction.

  /** The GPT-2 byte→printable-unicode table: printable latin-1 bytes map
    * to themselves, everything else to consecutive code points from
    * U+0100 — a bijection over the 256 byte values. */
  private[ops] val ByteToChar: Array[Char] = {
    val direct = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val arr = new Array[Char](256)
    var next = 256
    (0 until 256).foreach { b =>
      if (direct(b)) arr(b) = b.toChar
      else { arr(b) = next.toChar; next += 1 }
    }
    arr
  }
  private[ops] val CharToByte: Map[Char, Int] =
    (0 until 256).map(b => ByteToChar(b) -> b).toMap

  /** The GPT-2 pre-tokenization regex: contractions, optionally
    * space-prefixed letter/digit/punctuation runs, then whitespace
    * (trailing-whitespace lookahead keeps a final space glued to the
    * next pre-token, exactly as in the original). */
  private[ops] val PreTok = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+")

  /** Partition `s` into pre-tokens; concatenation reproduces `s`. */
  private[ops] def preTokenize(s: String): Array[String] = {
    val m = PreTok.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** One symbol per UTF-8 byte, in byte-mapped char space. */
  private[ops] def byteSymbols(pt: String): Array[String] =
    pt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => ByteToChar(b & 0xff).toString)

  /** Invert the byte mapping and UTF-8-decode: the lossless round-trip
    * (`decodeBytes(encodeBytes(...).bpe_tokens)` == original text). */
  def decodeBytes(tokens: String): String = {
    val chars = tokens.replace(" ", "")
    val bytes = chars.map(c => CharToByte(c).toByte).toArray
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Learn `numMerges` byte-level merges. Same two-path design as
    * [[train]]: the corpus-sized pre-token count is distributed, the
    * merge iteration collects only when the distinct-pre-token table is
    * small. Symbols are byte-mapped chars, so the UTF-8 tie-break
    * ordering of the shared rounds applies unchanged. */
  def trainBytes(df: DataFrame, text: String, numMerges: Int,
                 maxLocalVocab: Int = 1 << 16): Seq[(String, String)] = graft.Frames.scope {
    val enc = Encoders.row(StructType(Seq(StructField("pt", StringType))))
    val wc = graft.Frames.shared(df.select(coalesce(col(text), lit("")).as("__t"))
      .mapPartitions { it =>
        it.flatMap(r => preTokenize(r.getString(0)).iterator.map(Row(_)))
      }(enc)
      .groupBy("pt").agg(count(lit(1)).as("cnt")))
    val n = wc.count()
    if (n <= maxLocalVocab)
      trainLocal(wc.collect().map(r => (r.getString(0), r.getLong(1))),
        numMerges, byteSymbols)
    else trainDistributed(wc, numMerges, byteSymbols)
  }

  /** Byte-level encoding: pre-tokenize, then the greedy lowest-rank
    * merge loop per pre-token. Output (id, n_tokens, bpe_tokens) —
    * tokens are byte-mapped chars joined with real spaces (byte 0x20
    * maps OUT of ASCII space, so the join is unambiguous and the
    * output splits back losslessly). Shuffle-free over a wide corpus;
    * NULL text encodes to zero tokens. */
  def encodeBytes(df: DataFrame, id: String, text: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(merges.zipWithIndex.toMap)
    val enc = Encoders.row(StructType(Seq(
      StructField(id, LongType), StructField("n_tokens", LongType),
      StructField("bpe_tokens", StringType))))
    Spread.widen(df.select(col(id), coalesce(col(text), lit(""))))
      .mapPartitions { it =>
        val rank = bc.value
        it.map { r =>
          val toks = preTokenize(r.getString(1))
            .flatMap(pt => encodeSyms(byteSymbols(pt), rank))
          Row(r.getLong(0), toks.length.toLong, toks.mkString(" "))
        }
      }(enc)
  }

  /** Gate binding (rows-only, like [[qBpeEncode]]): 24 byte-level
    * merges trained on the even half of `documents`, applied to the
    * full corpus. BpeSpec pins both training paths against a
    * sequential byte-level reference and the emoji/CJK round-trip. */
  def qBpeBytes(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = trainBytes(docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", 24)
    encodeBytes(docs, "doc_id", "text", merges)
  }
}

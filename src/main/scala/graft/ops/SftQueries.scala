package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Instruction-tuning data assembly (north star — the reference has no
  * analytics surface of its own): turn event streams into chat-style
  * SFT transcripts with loss-mask spans, and rank-pair documents into
  * preference (chosen, rejected) training rows for reward-model data.
  *
  * Every step — gap sessionization, parity role assignment, ordered
  * concatenation, prefix-length span offsets, rank pairing — is exact
  * integer/string arithmetic, so all three queries sit under the full
  * DuckDB hash oracle.
  *
  * Scale shape: everything is ONE shuffle on the grouping key. The
  * session id, role, and span offsets are windows partitioned by
  * `user_id`; the per-session aggregation groups by (user_id, sid),
  * which `EnsureRequirements` satisfies with the window's existing
  * hash partitioning on the `user_id` prefix — no second exchange.
  * Per-group state is one user session (bounded by human activity, not
  * corpus size); transcripts are assembled per session, never globally.
  * Preference pairing is a window on (source, lang) + a same-prefix
  * re-agg: rows only ever meet their own stratum.
  */
object SftQueries {

  /** 30-minute session gap — shared with the streaming sibling
    * ([[graft.streaming.StreamingSft]]) so the two stay one kernel. */
  private[graft] val GapMicros = 30L * 60 * 1000000

  /** Events annotated with session id, turn index, role, and the
    * rendered chat-template turn — the shared prefix of the two SFT
    * queries. Roles alternate user/assistant in (ts, event_id) order
    * within each session (odd turn = user), the template is
    * `<|role|>event_type props`. */
  private def turns(spark: SparkSession, dir: String): DataFrame =
    turnsOf(Tables.events(spark, dir))

  /** [[turns]] over an arbitrary events frame — public so the
    * streaming sibling's spec can pin batch equality on synthetic
    * sessions ([[graft.streaming.StreamingSft]]). */
  private[graft] def turnsOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val isNew = when(lag(col("ts"), 1).over(byUser).isNull
      || unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) >= GapMicros,
      1L).otherwise(0L)
    val withSid = events
      .withColumn("__new", isNew)
      .withColumn("sid", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    withSid
      .withColumn("turn_idx", row_number().over(bySession).cast("long"))
      .withColumn("role",
        when(col("turn_idx") % 2 === 1, lit("user")).otherwise(lit("assistant")))
      .withColumn("rendered",
        concat(lit("<|"), col("role"), lit("|>"), col("event_type"), lit(" "), col("props")))
  }

  /** Tie-proof 4-decimal rounding computed identically in both engines
    * (Spark round() is decimal-string HALF_UP, DuckDB's is binary —
    * they disagree exactly on the .00005 ties integer ratios land on). */
  private def round4(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e4) + lit(0.5)) / lit(1e4)

  /** Chat-SFT transcript assembly: one row per session with the full
    * rendered transcript and the loss-mask summary — how many of its
    * characters belong to assistant turns (the spans a trainer leaves
    * unmasked). Ordered concatenation is a per-group sort of the
    * collected (ts, event_id, rendered) structs, so the output is
    * independent of partitioning and arrival order. */
  def qSftAssemble(spark: SparkSession, dir: String): DataFrame =
    sftAssemble(turns(spark, dir))

  /** Assembly over an arbitrary pre-annotated turn frame (see
    * [[turnsOf]]) — the batch kernel StreamingSftSpec compares the
    * streaming operator against. */
  private[graft] def sftAssemble(turnFrame: DataFrame): DataFrame =
    turnFrame
      .groupBy(col("user_id"), col("sid"))
      .agg(
        count(lit(1)).as("n_turns"),
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("rendered")))),
          t => t.getField("rendered")), "").as("transcript"),
        sum(when(col("role") === "assistant", length(col("rendered")).cast("long"))
          .otherwise(0L)).as("assistant_chars"))
      .select(
        col("user_id"), col("sid"), col("n_turns"),
        col("transcript"),
        length(col("transcript")).cast("long").as("transcript_chars"),
        col("assistant_chars"),
        round4(col("assistant_chars").cast("double") /
          greatest(length(col("transcript")).cast("long"), lit(1L))).as("mask_frac"))

  /** Loss-mask span table: one row per turn with its [start, end) char
    * offsets inside the assembled transcript — start is the prefix sum
    * of preceding rendered-turn lengths (a window over the session,
    * same single user_id shuffle). A trainer masks the `user` spans
    * and trains on the `assistant` ones. */
  def qSftSpans(spark: SparkSession, dir: String): DataFrame =
    spanTable(turns(spark, dir), length(col("rendered")).cast("long"), col("rendered"))

  /** The per-turn span table in any length unit: a turn's span starts at
    * the exclusive running sum of `len` over its session's turns in
    * (ts, event_id) order and ends `len` later. Columns (user_id, sid,
    * turn_idx, role, span_start, span_end) and then `extra`. */
  private def spanTable(turnRows: DataFrame, len: Column, extra: Column*): DataFrame = {
    val bySession = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    turnRows
      .withColumn("span_start", coalesce(
        sum(len).over(bySession.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(Seq(col("user_id"), col("sid"), col("turn_idx"), col("role"),
        col("span_start"), (col("span_start") + len).as("span_end")) ++ extra: _*)
  }

  /** Trainer-ready SFT packing: sessions laid end-to-end in (user_id,
    * sid) order and cut into fixed 2048-char training sequences, with
    * every TURN's loss-mask span re-addressed into the PACKED stream —
    * the artifact a trainer actually consumes (which sequence a turn
    * lands in, at what offset, whether it straddles a boundary). One
    * row per turn: packed_start/packed_end are the span offsets plus
    * the session's global stream offset; seq_id/seq_off locate the
    * span's first char; n_seqs counts the sequences it touches.
    *
    * Scale shape: ONE corpus-scale pass. The span table (the single
    * user_id shuffle every SFT query shares) already tiles each
    * transcript, so the session length is `max(span_end)` — no
    * transcript strings are ever assembled here (the first cut
    * composed sftAssemble ∘ packSequences and paid collect_list +
    * array_sort + array_join over the whole corpus, plus a recompute
    * under the pack sketch: 3.4× slower at sf1 for identical output).
    * The span table is persisted once, so the session-grain length
    * table (two longs per session — the q_phash_dupes footprint
    * argument) is aggregated from it a single time, and packSequences
    * persists that small table for its own sketch and pack passes
    * instead of re-deriving the corpus subtree;
    * the packed offsets then join back to the spans on (user_id, sid),
    * the prefix of the partitioning the spans already carry. The
    * composite pack id `user_id·2^20 + sid` keeps pack order ==
    * (user_id, sid) order and is collision-free for < 2^20 sessions
    * per user (raise_error row guard — human activity is orders of
    * magnitude below) and user ids < 2^43 (ANSI multiplication fails
    * loudly beyond — hash-valued ids should be densified first). */
  def qSftPack(spark: SparkSession, dir: String): DataFrame =
    packSpanTable(qSftSpans(spark, dir)
      .select(col("user_id"), col("sid"), col("turn_idx"), col("role"),
        col("span_start"), col("span_end")), 2048L)

  /** The packing tail shared by [[qSftPack]] (char units),
    * [[qSftPackTokens]] (regex-token units) and [[sftPackTokensBpe]]
    * (learned-tokenizer units): a per-turn span table in ANY length
    * unit — (user_id, sid, turn_idx, role, span_start, span_end), the
    * session tiled exactly by its turns — is laid end-to-end in
    * (user_id, sid) order, cut into `budget`-unit sequences, and every
    * span re-addressed into the packed stream. See [[qSftPack]]'s
    * Scaladoc for the one-pass plan argument and the pack-id stride
    * guards. */
  private def packSpanTable(spans0: DataFrame, budget: Long): DataFrame = {
    val Stride = 1L << 20
    // the span pipeline (sessionize windows over the corpus) feeds BOTH
    // the session-length agg and the final pack join — share it once
    // instead of eagerly checkpointing the derived session-length table
    // (r19 A/B: sessions-ckpt 1.29 s, sessions-persist 1.11 s,
    // spans-persist 1.01 s: nothing re-runs the window chain, and the
    // session-length table that packSequences' kernel shares for its
    // sketch and pack passes is aggregated from this cache once)
    val spans = graft.Frames.shared(spans0)
    val guardedSid = when(col("sid") < Stride, col("sid"))
      .otherwise(raise_error(concat(lit("packSpanTable: session id overflows the "),
        lit(s"pack-id stride $Stride for user "), col("user_id").cast("string"))))
    val sessions = spans
      .groupBy(col("user_id"), col("sid"))
      .agg(max(col("span_end")).as("__slen"))
      .select((col("user_id") * lit(Stride) + guardedSid).as("__pid"),
        col("__slen"))
    val packed = graft.api.Graft.packSequences(sessions, "__pid",
        "__slen", budget)
      .select(expr(s"__pid div $Stride").as("user_id"),
        pmod(col("__pid"), lit(Stride)).as("sid"),
        col("stream_off"))
    spans
      .join(packed, Seq("user_id", "sid"))
      .select(col("user_id"), col("sid"), col("turn_idx"), col("role"),
        (col("stream_off") + col("span_start")).as("packed_start"),
        (col("stream_off") + col("span_end")).as("packed_end"),
        expr(s"(stream_off + span_start) div $budget").as("seq_id"),
        pmod(col("stream_off") + col("span_start"), lit(budget)).as("seq_off"),
        (expr(s"(stream_off + span_end - 1) div $budget")
          - expr(s"(stream_off + span_start) div $budget") + 1L).as("n_seqs"))
  }

  /** The BPE-ish pre-tokenizer regex shared with
    * [[graft.api.GraftTextOps.tokenCounts]] — letter runs, digit runs,
    * one token per other non-space char. Identical semantics in Java
    * regex and DuckDB RE2 (the q_token_count cross-engine precedent). */
  private[ops] val TokenRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** [[qSftPack]] in TOKEN units — what a trainer's sequence budget
    * actually means (2048 tokens, not characters): per-turn lengths
    * are regex pre-tokenizer counts, the span offsets their per-session
    * prefix sums (the same single user_id shuffle), and the pack cuts
    * at a 2048-TOKEN budget. The regex tokenizer keeps the whole query
    * under the full DuckDB hash oracle — a LEARNED tokenizer's merge
    * loop is the no-oracle BPE argument, and that composition is
    * [[sftPackTokensBpe]], spec-pinned to produce the identical pack
    * given identical lengths. Plan shape: identical to [[qSftPack]]
    * (the token count is one more map-side expression). */
  def qSftPackTokens(spark: SparkSession, dir: String): DataFrame =
    packSpanTable(spanTable(turns(spark, dir)
      // codegen'd byte-scan token count (== the TokenRe regex count,
      // TokenRunCountSpec-pinned): at 100 TB the pre-tokenizer count is
      // this operator's dominant map-side cost, and java.util.regex
      // pays alternation dispatch + region bookkeeping per row
      .withColumn("__tl",
        graft.functions.TokenRunCount.token_run_count(col("rendered")).cast("long")),
      col("__tl")), 2048L)

  /** [[qSftPackTokens]] with a LEARNED tokenizer: per-turn lengths come
    * from [[Bpe.encode]] under the caller's trained merge list (token
    * counts are deterministic given the pinned merges), everything
    * downstream is the shared [[packSpanTable]] kernel. The encode is
    * map-only with the turn columns riding through as passthrough, so
    * the plan stays one corpus pass + the single user_id exchange —
    * the [[qSftPack]] shape. No SQL oracle (the BPE merge loop is the
    * gate's documented no-oracle class); SftSpec pins the pack against
    * a sequential reference replay of the same encoder lengths. */
  private[graft] def sftPackTokensBpe(events: DataFrame,
      merges: Seq[(String, String)], budget: Long): DataFrame = {
    val enc = Bpe.encode(turnsOf(events), "event_id", "rendered", merges,
      extra = Seq("user_id", "sid", "turn_idx", "role", "ts"))
    packSpanTable(spanTable(enc, col("n_tokens")), budget)
  }

  /** Preference-pair construction for reward-model training data: rank
    * documents inside each (source, lang) stratum by length (desc,
    * doc_id tiebreak) and pair adjacent ranks — rank 2k−1 is `chosen`,
    * rank 2k `rejected`, so every document lands in at most one pair
    * and each pair's chosen side dominates its rejected side. An odd
    * stratum's last document has no partner and is dropped. */
  def qPrefPairs(spark: SparkSession, dir: String): DataFrame =
    pairByRank(
      Tables.documents(spark, dir)
        .select(col("source"), col("lang"), col("doc_id"), col("n_chars")),
      spark, rankCol = "n_chars")

  /** Rank documents inside each (source, lang) stratum by `rankCol`
    * (desc, doc_id tiebreak) with the distributed two-pass
    * [[StratifiedRank]] kernel — a dense per-stratum window here would
    * single-task-sort ~1 TB per stratum at 100 TB (round-11 weak
    * class) — then pair adjacent ranks. */
  private def pairByRank(docs: DataFrame, spark: SparkSession,
      rankCol: String, chosenName: String = "chosen_chars",
      rejectedName: String = "rejected_chars"): DataFrame = {
    StratifiedRank.stratifiedRank(docs, Seq("source", "lang"),
        negate(col(rankCol)), Seq(col("doc_id").asc), rankName = "__rn")
      .withColumn("pair_idx", ((col("__rn") + 1L) / lit(2L)).cast("long"))
      .groupBy(col("source"), col("lang"), col("pair_idx"))
      .agg(
        max(when(col("__rn") % 2 === 1, col("doc_id"))).as("chosen_id"),
        max(when(col("__rn") % 2 === 0, col("doc_id"))).as("rejected_id"),
        max(when(col("__rn") % 2 === 1, col(rankCol))).as(chosenName),
        max(when(col("__rn") % 2 === 0, col(rankCol))).as(rejectedName))
      .filter(col("rejected_id").isNotNull)
      .select(col("source"), col("lang"), col("pair_idx"),
        col("chosen_id"), col("rejected_id"), col(chosenName),
        col(rejectedName),
        (col(chosenName) - col(rejectedName)).as("gap"))
  }

  /** DPO-ready preference EXPORT — the artifact a preference trainer
    * actually consumes: not id pairs ([[qPrefPairs]]) but the two
    * RENDERED transcripts side by side with the pair's margin. Sessions
    * are assembled with the [[qSftAssemble]] template, ranked WITHIN
    * their user by assistant-content mass (assistant_chars desc, sid
    * tiebreak — an exact integer signal, so ranks and the margin are
    * engine-portable), and adjacent ranks pair off: rank 2k−1 is
    * `chosen`, rank 2k `rejected`, odd leftovers drop — the
    * [[qPrefPairs]] pairing rule at session grain, so every pair is
    * same-user (same persona/context, the contrast DPO wants).
    *
    * Scale shape: ONE exchange for the whole query. The transcript
    * assembly already hash-partitions on user_id; the rank window
    * partitions by the same user_id and the pair re-agg groups by
    * (user_id, pair_idx) — `EnsureRequirements` satisfies both from
    * the existing partitioning (PlanSpec pins the single exchange).
    * Per-user state is one user's sessions — bounded by human
    * activity, never corpus-sized — so no StratifiedRank chunking is
    * needed (user_id is data-derived; the round-11 weak class is
    * fixed-cardinality strata). */
  def qDpoExport(spark: SparkSession, dir: String): DataFrame = {
    val t = sftAssemble(turns(spark, dir))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("assistant_chars").desc, col("sid").asc)
    t.withColumn("__rn", row_number().over(w))
      .withColumn("pair_idx", ((col("__rn") + 1L) / lit(2L)).cast("long"))
      .groupBy(col("user_id"), col("pair_idx"))
      .agg(
        max(when(col("__rn") % 2 === 1, col("sid"))).as("chosen_sid"),
        max(when(col("__rn") % 2 === 0, col("sid"))).as("rejected_sid"),
        max(when(col("__rn") % 2 === 1, col("transcript"))).as("chosen"),
        max(when(col("__rn") % 2 === 0, col("transcript"))).as("rejected"),
        max(when(col("__rn") % 2 === 1, col("assistant_chars"))).as("chosen_chars"),
        max(when(col("__rn") % 2 === 0, col("assistant_chars"))).as("rejected_chars"))
      .filter(col("rejected_sid").isNotNull)
      .select(col("user_id"), col("pair_idx"), col("chosen_sid"),
        col("rejected_sid"), col("chosen"), col("rejected"),
        (col("chosen_chars") - col("rejected_chars")).as("margin"))
  }

  /** Preference pairs ranked by the engine's quality score instead of
    * raw length — the reward-model shape real RM data uses: within each
    * (source, lang) stratum the higher-quality document of each
    * adjacent-rank pair is `chosen`. The score is the exact integer
    * 100·stopword_hits + n_tokens surrogate (monotone in the
    * stopword-ratio/length family of [[graft.api.Graft.qualityScore]],
    * and integral so rank order — and thus the whole output — is
    * tie-broken identically in both engines). Same two-pass
    * [[StratifiedRank]] plan shape as [[qPrefPairs]]. */
  def qPrefPairsQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val score = (size(filter(transform(toks, t => lower(t)),
        t => t.isin(TextQueries.StopwordsEn: _*))).cast("long") * 100L +
      size(toks).cast("long")).as("quality")
    pairByRank(
      Tables.documents(spark, dir)
        .select(col("source"), col("lang"), col("doc_id"), score),
      spark, rankCol = "quality",
      chosenName = "chosen_quality", rejectedName = "rejected_quality")
  }
}

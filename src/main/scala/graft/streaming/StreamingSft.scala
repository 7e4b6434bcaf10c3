package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Ingest-time SFT transcript assembly — the streaming sibling of
  * [[graft.ops.SftQueries.qSftAssemble]]: gap-defined user sessions
  * accumulate their turns in keyed state and, when the WATERMARK
  * closes a session (last event + gap behind the watermark), the final
  * chat-template transcript with its loss-mask summary is emitted —
  * exactly the row the batch query produces for that session, so a
  * training pipeline can consume transcripts as they complete instead
  * of re-running the batch assembly over a growing event log.
  *
  * Shares the batch kernel's constants and semantics (same
  * [[graft.ops.SftQueries.GapMicros]] gap, same `<|role|>type props`
  * template, parity roles in (ts, event_id) order, identical `floor
  * (x·1e4 + 0.5)/1e4` mask rounding), and emits the SAME per-user
  * `sid`: sessions of one user are disjoint in time, so they close in
  * start order and a per-user counter in state reproduces the batch
  * window's running session number — StreamingSftSpec pins closed rows
  * equal to the batch output field-for-field.
  *
  * State shape: a [[GapSessions]] caller whose per-session summary is
  * the turn buffer and whose per-user ordinal is the `sid`, so the
  * counter outlives the user's sessions (multiple open sessions per
  * user, out-of-order merges inside the watermark and the
  * EventTimeTimeout wake-ups all come from the kernel). Per user, the
  * open sessions' turn buffers — bounded by one human's activity inside
  * gap windows, never corpus-sized. At 100 TB/day the operator shuffles
  * once on user_id into the state store; everything else is per-key. */
object StreamingSft {

  final case class SftTurn(tsUs: Long, eventId: Long, eventType: String, props: String)
  final case class SftSessionOut(user_id: Long, sid: Long, n_turns: Long,
      transcript: String, transcript_chars: Long, assistant_chars: Long,
      mask_frac: Double)

  /** Assemble one CLOSED session — the per-session kernel both the
    * spec's expectations and the stateful operator share. Turns are
    * sorted by (ts, event_id); odd 1-based positions are `user`, even
    * `assistant`; char counts are code points (Spark `length`
    * semantics, so the row is bit-comparable to the batch query). */
  private[streaming] def assemble(userId: Long, sid: Long, turns: List[SftTurn]): SftSessionOut = {
    val ordered = turns.sortBy(t => (t.tsUs, t.eventId))
    val sb = new java.lang.StringBuilder
    var assistantChars = 0L
    var idx = 0
    ordered.foreach { t =>
      idx += 1
      val role = if (idx % 2 == 1) "user" else "assistant"
      val rendered = s"<|$role|>${t.eventType} ${t.props}"
      sb.append(rendered)
      if (role == "assistant")
        assistantChars += rendered.codePointCount(0, rendered.length).toLong
    }
    val transcript = sb.toString
    val tChars = transcript.codePointCount(0, transcript.length).toLong
    val frac = math.floor(assistantChars.toDouble /
      math.max(tChars, 1L).toDouble * 1e4 + 0.5) / 1e4
    SftSessionOut(userId, sid, ordered.length.toLong, transcript, tChars,
      assistantChars, frac)
  }

  /** The streaming query: `events` must carry (user_id, ts, event_id,
    * event_type, props). Emits one Append-mode row per watermark-closed
    * session. */
  def assembleSessions(
      spark: SparkSession,
      events: DataFrame,
      watermark: String = "10 minutes"): Dataset[SftSessionOut] = {
    import spark.implicits._
    GapSessions.sessions[(Long, Long, String, String), Long, List[SftTurn], SftSessionOut](
        events, Seq("user_id", "event_id", "event_type", "props"), watermark,
        graft.ops.SftQueries.GapMicros, ordinals = true)(
      _._1, (ts, e) => List(SftTurn(ts, e._2, e._3, if (e._4 == null) "" else e._4)),
      GapSessions.concat) { (user, sid, s) => Iterator.single(assemble(user, sid, s.s)) }
  }
}

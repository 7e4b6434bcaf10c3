package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time gap sessions — the one keyed-state kernel behind
  * [[StreamingQueries.sessionizeWithState]],
  * [[StreamingSft.assembleSessions]], [[StreamingBestOfN.selectBest]],
  * [[StreamingBestOfN.advantages]] and [[StreamingRlMetrics.monitor]].
  * Per key, events chain into one session while each consecutive
  * event-time gap is < `gapUs`; a session closes once the watermark
  * reaches its last event + `gapUs` and is emitted with a per-key
  * ordinal (1, 2, … in start order). A caller supplies only its
  * per-session summary — `one` lifts an event, `merge` combines two
  * sessions' summaries (it must be commutative: which of two summaries
  * comes first is not part of the contract) — and its emit kernel.
  *
  * Session BOUNDARIES are event-time-only, so a stream's output is the
  * batch result over what has arrived, whatever the trigger
  * boundaries. Each batch's events are merged with the key's open
  * sessions in one sorted sweep, and a new session starts iff its
  * start ≥ the previous session's last + gap (the event-time mirror of
  * the close rule wm ≥ last + gap); a session is emitted only once the
  * watermark clears ITS OWN last + gap. Two bursts of one key separated
  * by ≥ gap in event time therefore emit as two sessions even when a
  * catch-up / AvailableNow replay advances the watermark in hour-sized
  * jumps that cover both — the case where a close keyed on one `lastUs`
  * for the key's whole buffer would have merged them. A bridging event
  * can only merge OPEN sessions: closing a session needs
  * wm ≥ last + gap, and any later event that could bridge it
  * (ts < last + gap ≤ wm) is behind the watermark and dropped as late on
  * every path, replayed or live.
  *
  * State per key is the open sessions' summaries plus the ordinal
  * counter — O(open sessions), evicted by the watermark. At 100 TB/day
  * an operator shuffles once on its key into the state store; per-key
  * work per batch is a sort of the batch's events and one pass over the
  * open sessions. A summary that buffers events merges with [[concat]],
  * so adding an event to a long open session never copies its buffer. */
private[streaming] object GapSessions {

  /** One session: its first and last event time (epoch micros — sub-ms
    * precision survives the state round-trip, java.sql.Timestamp's
    * getTime would truncate) and the caller's summary. */
  final case class Open[S](startUs: Long, lastUs: Long, s: S)

  /** Per-key state: the next ordinal and the open sessions in start
    * order (disjoint, so their `lastUs` ascend too). */
  final case class Keyed[S](next: Long, open: List[Open[S]])

  /** Merge of two event buffers: prepends the shorter, so its cost is
    * the shorter's length. */
  def concat[A](a: List[A], b: List[A]): List[A] =
    if (a.sizeCompare(b) <= 0) a ::: b else b ::: a

  /** The pure per-key step: sweeps the batch's `(tsUs, summary)` events
    * (stable-sorted by time, so ts ties keep arrival order) with the
    * open sessions in start order, then closes the prefix whose
    * last + gap ≤ `wmUs`. Returns the key's next state and the closed
    * sessions with their ordinals, in start order. */
  def step[S](st: Keyed[S], events: Seq[(Long, S)], wmUs: Long, gapUs: Long)(
      merge: (S, S) => S): (Keyed[S], List[(Long, Open[S])]) = {
    val swept = List.newBuilder[Open[S]]
    var cur: Open[S] = null
    def add(o: Open[S]): Unit =
      if (cur == null) cur = o
      else if (o.startUs >= cur.lastUs + gapUs) { swept += cur; cur = o }
      else cur = Open(cur.startUs, math.max(cur.lastUs, o.lastUs), merge(cur.s, o.s))
    var open = st.open
    events.sortBy(_._1).foreach { case (ts, s) =>
      while (open.nonEmpty && open.head.startUs <= ts) { add(open.head); open = open.tail }
      add(Open(ts, ts, s))
    }
    open.foreach(add)
    if (cur != null) swept += cur
    val (closed, stillOpen) = swept.result().span(_.lastUs + gapUs <= wmUs)
    (Keyed(st.next + closed.length, stillOpen),
      closed.zipWithIndex.map { case (o, i) => (st.next + i, o) })
  }

  /** The stateful operator over `events` (which must carry `ts`): the
    * watermark-preserving projection, the keyed-state call, and the
    * close, re-arm and removal rules around [[step]]. `cols` are the
    * columns each event hands the caller as `E`; `key` picks its group.
    * With `ordinals` the key's counter outlives its sessions (one
    * counter row per ever-active key, no timeout); without, the state
    * is removed once nothing is open. */
  def sessions[E: Encoder, K: Encoder, S: TypeTag, O: Encoder](
      events: DataFrame, cols: Seq[String], watermark: String, gapUs: Long,
      ordinals: Boolean = false)(
      key: E => K, one: (Long, E) => S, merge: (S, S) => S)(
      emit: (K, Long, Open[S]) => Iterator[O]): Dataset[O] = {
    implicit val rowEnc: Encoder[(java.sql.Timestamp, Long, E)] =
      Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaLong, implicitly[Encoder[E]])
    implicit val stateEnc: Encoder[Keyed[S]] = Encoders.product[Keyed[S]]
    // the watermarked event-time column must flow INTO the stateful
    // operator (projecting it away voids the watermark); the step reads
    // the exact micros from ts_us and ignores the Timestamp
    events.select(unix_micros(col("ts")).as("ts_us"), struct(cols.map(col): _*).as("e"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermark)
      .select(col("ts"), col("ts_us"), col("e"))
      .as[(java.sql.Timestamp, Long, E)]
      .groupByKey(r => key(r._3))
      .flatMapGroupsWithState[Keyed[S], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: K, rows: Iterator[(java.sql.Timestamp, Long, E)], state: GroupState[Keyed[S]]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val (next, closed) = step(state.getOption.getOrElse(Keyed[S](1L, Nil)),
            rows.map(r => (r._2, one(r._2, r._3))).toVector, wmMs * 1000L, gapUs)(merge)
          if (next.open.nonEmpty) {
            state.update(next)
            // wake when the earliest open session could close
            state.setTimeoutTimestamp(
              math.max((next.open.head.lastUs + gapUs) / 1000L + 1L, wmMs + 1L))
          } else if (ordinals && next.next > 1L) state.update(next)
          else state.remove()
          closed.iterator.flatMap { case (i, o) => emit(k, i, o) }
      }
  }
}

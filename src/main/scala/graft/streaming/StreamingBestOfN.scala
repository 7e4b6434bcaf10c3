package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Online rejection sampling — the streaming sibling of
  * [[graft.ops.RlQueries.qBestOfN]]: scored generation candidates
  * stream in, each (user_id, event_type) pool folds them into O(1)
  * keyed state (count + the top-2 by the batch ordering), and when the
  * WATERMARK closes the pool (`quietUs` past its last candidate) the
  * final best-of-N row is emitted — exactly the row the batch query
  * produces for that pool, so an RLHF pipeline can keep only winners
  * at ingest instead of re-scanning the full sample log.
  *
  * Pools are [[GapSessions]] of their key with gap `quietUs`: a key's
  * candidates ≥ `quietUs` apart in EVENT time split into separate
  * pools, each closed and emitted on its own, whatever the trigger
  * boundaries (a catch-up replay whose watermark jumps past two bursts
  * at once still emits two pools, as a live run does).
  *
  * State shape — the deliberate contrast with [[StreamingSft]]: a
  * session transcript must BUFFER its turns (output needs every one),
  * but argmax-with-margin is an order-independent fold, so a pool's
  * summary is a count and two candidates no matter how many stream
  * through it. The top-2 of a union is the top-2 of the two sides'
  * top-2s under the batch ordering (value desc, event_id asc), so the
  * merge is commutative and out-of-order arrival inside the watermark
  * cannot change the result — StreamingBestOfNSpec pins closed rows
  * equal to [[graft.ops.RlQueries.bestOfNOf]] field-for-field across
  * micro-batch boundaries and a checkpoint restart. At 100 TB/day the
  * operator shuffles once on the pool key into the state store;
  * everything else is per-key O(1). */
object StreamingBestOfN {

  /** (value desc, event_id asc) — one candidate beats another exactly
    * when the batch window would rank it first. */
  final case class Cand(value: Double, eventId: Long) {
    def beats(o: Cand): Boolean =
      value > o.value || (value == o.value && eventId < o.eventId)
  }

  /** n + top-2. */
  final case class PoolState(n: Long, best: Cand, second: Option[Cand])

  final case class BestOfNOut(user_id: Long, event_type: String,
      n_candidates: Long, best_event_id: Long, best_score: Double,
      margin: Double)

  /** Top-2 of the union: the better best wins, and the runner-up is the
    * better of its own runner-up and the other side's best. */
  private[streaming] def merge(a: PoolState, b: PoolState): PoolState = {
    val (hi, lo) = if (b.best.beats(a.best)) (b, a) else (a, b)
    PoolState(a.n + b.n, hi.best,
      Some(hi.second.filter(_.beats(lo.best)).getOrElse(lo.best)))
  }

  private[streaming] def close(userId: Long, eventType: String,
      st: PoolState): BestOfNOut =
    BestOfNOut(userId, eventType, st.n, st.best.eventId, st.best.value,
      // the batch margin: best minus the SECOND-HIGHEST VALUE in the
      // pool (a tied runner-up gives 0), singletons report 0
      st.best.value - st.second.map(_.value).getOrElse(st.best.value))

  /** The pool key and each candidate's fields, as the pool operators
    * (these two and [[StreamingRlMetrics.monitor]]) read them:
    * (user_id, event_type, event_id, value). */
  private[streaming] val Cols = Seq("user_id", "event_type", "event_id", "value")
  private[streaming] type Ev = (Long, String, Long, Double)

  final case class GrpoCand(eventId: Long, value: Double)
  final case class GrpoOut(user_id: Long, event_type: String, event_id: Long,
      n: Long, adv: Double)

  /** Streaming GRPO advantages — the ingest-time sibling of
    * [[graft.ops.RlQueries.qGrpoAdv]]: a pool's candidates buffer in
    * keyed state (bounded by the generation fan-out N, a training-run
    * constant — unlike [[selectBest]]'s O(1) fold, every candidate must
    * reappear in the output with its own advantage), and when the
    * watermark closes the pool each candidate is emitted with its
    * pool-standardized advantage from the SAME explicit-moment
    * arithmetic as the batch query (Σv, Σv², the floor-rounding), so
    * closed pools equal the batch rows field-for-field. Pools split on
    * event-time gaps ≥ `quietUs` as [[selectBest]]'s do. Summation runs
    * in (event_id) order regardless of arrival order, so the streamed
    * result is replay-deterministic; vs the batch side (which reduces
    * in scan order) the 4-decimal floor-rounding absorbs last-ULP
    * order differences — the same knife-edge-tie caveat the batch
    * oracle itself carries. */
  def advantages(
      spark: SparkSession,
      events: DataFrame,
      quietUs: Long = 30L * 60 * 1000000,
      watermark: String = "10 minutes"): Dataset[GrpoOut] = {
    import spark.implicits._
    require(quietUs > 0, s"quietUs must be positive, got $quietUs")
    GapSessions.sessions[Ev, (Long, String), List[GrpoCand], GrpoOut](
        events, Cols, watermark, quietUs)(
      e => (e._1, e._2), (_, e) => List(GrpoCand(e._3, e._4)), GapSessions.concat) {
      case ((user, etype), _, pool) =>
        // deterministic summation order: by event_id, exactly the
        // file order the batch agg reduces at the fixture grain
        val ordered = pool.s.sortBy(_.eventId)
        val n = ordered.length.toLong
        var s = 0.0; var s2 = 0.0
        ordered.foreach { c => s += c.value; s2 += c.value * c.value }
        val varS = if (n > 1) (s2 - s * s / n) / (n - 1) else -1.0
        ordered.iterator.map { c =>
          val adv =
            if (varS <= 0.0) 0.0
            else math.floor((c.value - s / n) / math.sqrt(varS) * 1e4 + 0.5) / 1e4
          GrpoOut(user, etype, c.eventId, n, adv)
        }
    }
  }

  /** The streaming query: `events` must carry (user_id, ts, event_id,
    * event_type, value). Emits one Append-mode row per watermark-closed
    * pool (`quietUs` micros with no new candidate). */
  def selectBest(
      spark: SparkSession,
      events: DataFrame,
      quietUs: Long = 30L * 60 * 1000000,
      watermark: String = "10 minutes"): Dataset[BestOfNOut] = {
    import spark.implicits._
    require(quietUs > 0, s"quietUs must be positive, got $quietUs")
    GapSessions.sessions[Ev, (Long, String), PoolState, BestOfNOut](
        events, Cols, watermark, quietUs)(
      e => (e._1, e._2), (_, e) => PoolState(1L, Cand(e._4, e._3), None), merge) {
      case ((user, etype), _, pool) => Iterator.single(close(user, etype, pool.s))
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Live RL-metrics monitor — the ingest-time sibling of
  * [[graft.ops.RlQueries.qPassAtK]] and
  * [[graft.ops.RlQueries.qRewardDrift]]: scored generation candidates
  * stream in, each (user_id, event_type) pool buffers in keyed state
  * (bounded by the generation fan-out N, a training-run constant — the
  * [[StreamingBestOfN.advantages]] argument: rank statistics need the
  * whole pool, unlike argmax's O(1) fold), and when the WATERMARK
  * closes the pool one summary row is emitted with the pool's unbiased
  * pass@{1,5,10} and its reward-drift Spearman ρ — the two numbers an
  * RLHF pipeline alarms on LIVE (a failing scorer or temperature decay
  * shows up as drift within the run, not in the nightly batch).
  *
  * Closed pools equal the batch rows FIELD-FOR-FIELD
  * (StreamingRlMetricsSpec pins it across micro-batch boundaries,
  * out-of-order arrival and a checkpoint restart): both pass@k sides
  * compute the telescoped ∏(n−c−i)/∏(n−i) over exact-integer doubles
  * with ONE final IEEE division, and both Spearman sides rank the same
  * deterministic tie-broken permutations ((value, event_id) /
  * (ts, event_id)) so Σd² is an exact integer — arrival order cannot
  * change any of it, the replay-determinism argument.
  *
  * Pools are [[GapSessions]] of their key with gap `quietUs`, whose
  * scaladoc carries the other half of that argument: pool BOUNDARIES
  * are event-time-only, so two bursts of one key ≥ `quietUs` apart emit
  * as two pools even when a catch-up replay's watermark jumps past
  * both. At 100 TB/day the operator shuffles once on the pool key into
  * the state store; per-key work per batch is a sort of the batch's
  * candidates and one pass over the open pools. */
object StreamingRlMetrics {

  final case class Cand(eventId: Long, tsUs: Long, value: Double)
  final case class RlMetricsOut(user_id: Long, event_type: String,
      n: Long, c: Long, pass_at_1: Option[Double], pass_at_5: Option[Double],
      pass_at_10: Option[Double], spearman: Option[Double])

  /** The batch estimator's arithmetic, verbatim: every partial product
    * an exact integer < 2⁵³ (the telescoping argument at
    * [[graft.ops.RlQueries.qPassAtK]]), one IEEE division, ascending
    * factor order — identical doubles to the Column form. */
  private[streaming] def passAtK(n: Long, c: Long, k: Int): Option[Double] =
    if (n < k) None
    else {
      var top = 1.0
      var bot = 1.0
      var i = 0
      while (i < k) {
        top *= (n - c - i).toDouble
        bot *= (n - i).toDouble
        i += 1
      }
      Some(1.0 - top / bot)
    }

  /** The batch query's ρ: both rankings deterministic tie-broken
    * permutations, Σd² exact, 1 − 6Σd²/(n(n²−1)) with the same
    * operation order as the Column form. */
  private[streaming] def spearman(cands: Seq[Cand]): Option[Double] = {
    val n = cands.length.toLong
    if (n <= 1) None
    else {
      // + 0.0 collapses -0.0 to +0.0: Scala's java.lang.Double total
      // order puts -0.0 strictly before 0.0, but the batch window's
      // ordering (and IEEE ==) treats them equal and tie-breaks by
      // event_id — a -0.0 score must not flip the permutation
      val byValue = cands.sortBy(c => (c.value + 0.0, c.eventId))
      val byArrival = cands.sortBy(c => (c.tsUs, c.eventId))
      val rv = byValue.iterator.zipWithIndex
        .map { case (c, i) => c.eventId -> (i + 1).toLong }.toMap
      var d2 = 0L
      byArrival.iterator.zipWithIndex.foreach { case (c, i) =>
        val d = rv(c.eventId) - (i + 1).toLong
        d2 += d * d
      }
      Some(1.0 - 6.0 * d2.toDouble / (n * (n * n - 1L)).toDouble)
    }
  }

  /** The streaming query: `events` must carry (user_id, ts, event_id,
    * event_type, value). Emits one Append-mode row per watermark-closed
    * pool (`quietUs` micros with no new candidate), with the batch
    * queries' pass threshold (value ≥ 60). */
  def monitor(
      spark: SparkSession,
      events: DataFrame,
      quietUs: Long = 30L * 60 * 1000000,
      watermark: String = "10 minutes"): Dataset[RlMetricsOut] = {
    import spark.implicits._
    require(quietUs > 0, s"quietUs must be positive, got $quietUs")
    GapSessions.sessions[StreamingBestOfN.Ev, (Long, String), List[Cand], RlMetricsOut](
        events, StreamingBestOfN.Cols, watermark, quietUs)(
      e => (e._1, e._2), (ts, e) => List(Cand(e._3, ts, e._4)), GapSessions.concat) {
      case ((user, etype), _, pool) =>
        val n = pool.s.length.toLong
        val c = pool.s.count(_.value >= 60.0).toLong
        Iterator.single(RlMetricsOut(user, etype, n, c,
          passAtK(n, c, 1), passAtK(n, c, 5), passAtK(n, c, 10), spearman(pool.s)))
    }
  }
}

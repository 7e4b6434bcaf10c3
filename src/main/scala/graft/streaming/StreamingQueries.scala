package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming query builders over the dis source — the
  * engine's replacement for the reference's DStream surface
  * (SURVEY §2.B): per-trigger micro-batches (O4) composed with
  * event-time windows, watermarks, sessionization, streaming dedup and
  * custom keyed state. The reference keeps only offset state
  * (dis/DirectDISInputDStream.scala:66); record-level state here is
  * Spark-managed (HDFSBackedStateStore / RocksDB at scale).
  *
  * Scale notes: every stateful op below keys its state by a bounded
  * entity (window, user, event_id-within-watermark) and relies on
  * watermark eviction, so state size is O(active keys), not O(stream).
  */
object StreamingQueries {

  /** Schema of the JSON payloads the tests produce from the `events`
    * fixture (FIXTURES.md). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    // epoch MICROSECONDS: JSON timestamp strings round-trip at only
    // millisecond precision (to_json truncates), which visibly shifts
    // session/window boundaries vs the micro-precision fixture
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of a dis stream whose record values are JSON
    * events ([[eventSchema]]), `ts` a timestamp. */
  def readEvents(
      spark: SparkSession,
      root: String,
      stream: String,
      options: Map[String, String] = Map.empty): DataFrame =
    readJson(spark, root, stream, eventSchema, "e", options)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .drop("ts_us")

  /** Streaming read of a dis stream whose record values are JSON rows
    * of `schema` — deserializer-pluggability analog (the reference's
    * value.deserializer, dis/DISUtils.scala:379-380): bytes →
    * from_json → typed top-level columns. `as` names the parsed struct
    * column in the plan. */
  private[graft] def readJson(
      spark: SparkSession,
      root: String,
      stream: String,
      schema: StructType,
      as: String,
      options: Map[String, String]): DataFrame = {
    val base = spark.readStream.format("dis")
      .option("client.root", root)
      .option("stream", stream)
    options.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }
      .load()
      .select(from_json(col("value").cast("string"), schema).as(as))
      .select(col(s"$as.*"))
  }

  /** Schema of the JSON document payloads the streaming-gate bindings
    * produce from the `documents` fixture (text omitted — the admission
    * operators below key on metadata only). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Tumbling event-time window counts with watermarking; append mode
    * emits a window once the watermark passes its end. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))

  /** Sliding window variant. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cnt"))

  /** Streaming session windows (gap-based) per user. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the q_dedup_exact streaming variant (state = ids newer than the
    * watermark; older duplicates are already impossible to admit). */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** Streaming CONTENT dedup for a document pipeline: xxhash64 of the
    * text is the admission key (the same production fingerprint as
    * [[graft.api.Graft.fingerprint64]]), each fingerprint admitted once
    * within the watermark horizon. `dropDuplicatesWithinWatermark`
    * (not plain `dropDuplicates`) is the 100 TB shape: dedup state is
    * EVICTED once the watermark passes, so state size is bounded by the
    * horizon's document rate instead of growing with the whole corpus —
    * and the state lives in the checkpoint, so a restarted query keeps
    * rejecting duplicates of documents admitted before the restart. */
  def dedupDocsByFingerprint(docs: DataFrame, watermark: String = "2 hours"): DataFrame =
    docs.withColumn("fp64", xxhash64(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp64")

  final case class UserStat(user_id: Long, n_events: Long, sum_value: Double)

  final case class QuotaAdmit(domain: String, id: Long, rank: Long)

  /** Streaming per-domain admission quota — the ingest-time form of
    * [[graft.api.Graft.domainCap]]: across the WHOLE stream, at most
    * `k` documents per domain are admitted; everything over quota is
    * dropped at ingest instead of by a corpus-wide batch cap later.
    * Emits only the admitted rows, each with its 1-based admission
    * `rank` within the domain.
    *
    * Semantics: quota is consumed in arrival order across triggers
    * (that is what an ingest gate means); WITHIN a trigger the batch's
    * rows are ordered by id so replays of the same batch admit the
    * same rows. The admitted set therefore depends on arrival order
    * across batches — unlike the batch operator, which is
    * order-independent — and the two agree whenever ids arrive in
    * order (pinned in StreamingSpec).
    *
    * Scale shape: state is ONE long per domain (the count used), so
    * the store stays O(|domains|) forever — no watermark needed, no
    * per-document state. Each trigger shuffles only that batch on the
    * domain key; a domain already at quota costs one state lookup per
    * batch it appears in. Survives restart: the counts live in the
    * checkpoint, so a recovered query keeps enforcing the same quota
    * (also pinned). */
  def domainQuota(spark: SparkSession, docs: DataFrame, domain: String,
      id: String, k: Int): Dataset[QuotaAdmit] = {
    require(k >= 1, s"quota must be >= 1, got $k")
    import spark.implicits._
    docs.select(col(domain).cast("string"), col(id).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, QuotaAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (dom, rows, state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val out = Vector.newBuilder[QuotaAdmit]
          // sort the batch's ids so a replayed trigger admits identically
          val ids = rows.map(_._2).toArray
          java.util.Arrays.sort(ids)
          var i = 0
          while (i < ids.length && used < k) {
            used += 1
            out += QuotaAdmit(dom, ids(i), used)
            i += 1
          }
          state.update(used)
          out.result().iterator
      }
  }

  /** Per-micro-batch distribution drift vs a fixed reference histogram
    * — the ops monitor of an ingest pipeline (alert when a crawl
    * drop's language/source/domain mix shifts from the corpus it is
    * joining). Designed for `foreachBatch`:
    * {{{
    *   val ref = graft.Frames.shared(refCorpus.groupBy(col("lang"))
    *     .agg(count(lit(1)).as("n_a")))   // aggregate ONCE
    *   stream.writeStream.foreachBatch { (batch, id) =>
    *     StreamingQueries.psiMonitorBatch(batch, id, "lang", ref)
    *       .write.mode("append").parquet(reportDir)
    *   }.option("checkpointLocation", ck).start()
    * }}}
    * Output: one row per category — (feature, n_a, n_b, psi,
    * batch_id) — identical to [[graft.api.Graft.psiDrift]](ref, batch)
    * by construction (pinned in PsiMonitorSpec), so thresholds tuned
    * on batch reports transfer to corpus-level audits.
    *
    * Scale shape: state-free (each batch scores independently against
    * the static reference), so restarts/replays reproduce their rows
    * exactly — downstream dedup on (batch_id, feature) is all
    * recovery needs. Per trigger: one bounded agg of the batch + a
    * |categories|-row join against the persisted reference histogram;
    * the reference corpus is never re-scanned. */
  def psiMonitorBatch(batch: DataFrame, batchId: Long, feature: String,
      refCounts: DataFrame): DataFrame =
    graft.api.Graft.psiDriftFromCounts(refCounts,
        batch.groupBy(col(feature)).agg(count(lit(1)).as("n_b")), feature)
      .withColumn("batch_id", lit(batchId))

  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, sum_value: Double)

  /** Custom-state sessionization with EventTimeTimeout — the
    * hand-rolled equivalent of session_window, demonstrating arbitrary
    * keyed state: a [[GapSessions]] caller whose per-session summary is
    * (n, sum), so multiple open sessions per user, out-of-order merges
    * within the watermark and emission exactly when the watermark
    * passes sessionEnd (= last event + gap) all come from the kernel.
    * Output times are epoch micros; wrap with timestamp_micros for
    * display. State is O(open sessions per user). */
  def sessionizeWithState(
      spark: SparkSession,
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv.months == 0, "session gap must not use month units")
    val gapUs = iv.days * 86400000000L + iv.microseconds
    GapSessions.sessions[(Long, Double), Long, (Long, Double), SessionOut](
        events, Seq("user_id", "value"), watermark, gapUs)(
      _._1, (_, e) => (1L, e._2), (a, b) => (a._1 + b._1, a._2 + b._2)) { (user, _, s) =>
      Iterator.single(SessionOut(user, s.startUs, s.lastUs + gapUs, s.s._1, s.s._2))
    }
  }

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * totals emitted on every update (Update mode) — the
    * mapWithState-style surface the DStream API offered, rebuilt on
    * Structured Streaming state stores. */
  def runningUserStats(spark: SparkSession, events: DataFrame): Dataset[UserStat] = {
    import spark.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserStat, UserStat](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(user, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { case (_, v) => n += 1; s += v }
          val next = UserStat(user, n, s)
          state.update(next)
          Iterator.single(next)
      }
  }
}

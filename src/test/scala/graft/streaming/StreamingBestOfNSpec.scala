package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.ops.RlQueries
import graft.sources.FileStreamClient

/** [[StreamingBestOfN.selectBest]] against the batch kernel
  * ([[RlQueries.bestOfNOf]]): watermark-closed pools must equal the
  * batch rows field-for-field — argmax, tie resolution, runner-up
  * margin, pool count — independently of micro-batch boundaries,
  * out-of-order arrival inside the watermark, and a checkpoint restart
  * mid-stream (the StreamingSftSpec contract applied to the RLHF
  * family). */
class StreamingBestOfNSpec extends SparkTestBase {
  import spark.implicits._

  private val Min = 60L * 1000000L
  private val Hour = 60L * Min
  private val T0 = 1600000000L * 1000000L

  /** (user_id, ts_us, event_id, event_type, value) */
  private type Ev = (Long, Long, Long, String, Double)

  // u1/gen: a 4-candidate pool with a VALUE TIE at the top — 111 must
  //         win over 113 (event_id asc) and the margin must be 0;
  // u1/rank: a singleton pool — margin 0 by definition;
  // u2/gen: a 3-candidate pool arriving OUT OF ORDER with a clear
  //         margin (9.5 − 7.25);
  // u3/gen: opens before the restart, its best arrives AFTER — the
  //         restart must not close it early or lose the fold;
  // u999: the watermark sentinel, its pool never closes.
  private val part1: Seq[Ev] = Seq(
    (1L, 10 * Min, 113L, "gen", 8.5),
    (1L, 0 * Min, 111L, "gen", 8.5),     // tie: earlier id, later row
    (2L, 20 * Min, 212L, "gen", 9.5),    // u2's best arrives FIRST
    (1L, 5 * Min, 112L, "gen", 3.25),
    (2L, 15 * Min, 211L, "gen", 7.25),
    (1L, 12 * Min, 114L, "rank", 4.0),
    (2L, 25 * Min, 213L, "gen", 1.0),
    (1L, 15 * Min, 115L, "gen", 2.0),
    (3L, 30 * Min, 311L, "gen", 5.0))
  private val part2: Seq[Ev] = Seq(
    (3L, 40 * Min, 312L, "gen", 6.5),    // u3's winner, post-restart
    (999L, 13 * Hour, 901L, "gen", 0.0)) // sentinel: closes everything

  private def shifted(evs: Seq[Ev]): Seq[Ev] =
    evs.map { case (u, ts, eid, et, v) => (u, T0 + ts, eid, et, v) }

  private def eventsDf(evs: Seq[Ev]): DataFrame =
    shifted(evs).toDF("user_id", "ts_us", "event_id", "event_type", "value")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("event_id"), col("event_type"), col("value"))

  private val evSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType),
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def produce(root: Path, evs: Seq[Ev]): Unit =
    shifted(evs).toDF("user_id", "ts_us", "event_id", "event_type", "value")
      .select(to_json(struct(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("value"))).as("value"),
        lit(0).cast("int").as("partition"))
      .coalesce(1)
      .write.format("dis")
      .option("client.root", root.toString).option("stream", "cands")
      .mode("append").save()

  private def readEvents(root: Path, perTrigger: Int): DataFrame =
    spark.readStream.format("dis")
      .option("client.root", root.toString)
      .option("stream", "cands")
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", perTrigger.toString)
      .load()
      .select(from_json(col("value").cast("string"), evSchema).as("e"))
      .select(col("e.user_id"), timestamp_micros(col("e.ts_us")).as("ts"),
        col("e.event_id"), col("e.event_type"), col("e.value"))

  private def runOnce(root: Path, ck: Path, out: String, perTrigger: Int): Unit = {
    val q = StreamingBestOfN.selectBest(spark, readEvents(root, perTrigger),
        quietUs = 30L * Min, watermark = "2 hours")
      .toDF()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck.toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
  }

  private type OutRow = (Long, String, Long, Long, Double, Double)
  private def rowsOf(df: DataFrame): Set[OutRow] = df.collect().map(r => (
    r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
    r.getAs[Long]("n_candidates"), r.getAs[Long]("best_event_id"),
    r.getAs[Double]("best_score"), r.getAs[Double]("margin"))).toSet

  /** The batch side over the full synthetic log, sentinel excluded
    * (its pool never closes in the stream). */
  private def batchExpectation(): Set[OutRow] = rowsOf(
    RlQueries.bestOfNOf(eventsDf(part1 ++ part2))
      .filter(col("user_id") =!= 999L))

  test("closed pools equal the batch best-of-n field-for-field (ties, " +
      "margins, singletons), invariant to micro-batch boundaries") {
    val expected = batchExpectation()
    assert(expected.size === 4, s"fixture drifted: $expected")
    // the fixture really exercises the contracts:
    assert(expected.contains((1L, "gen", 4L, 111L, 8.5, 0.0)), "tie pool")
    assert(expected.contains((1L, "rank", 1L, 114L, 4.0, 0.0)), "singleton")
    assert(expected.contains((2L, "gen", 3L, 212L, 9.5, 9.5 - 7.25)), "margin")
    for (perTrigger <- Seq(3, 1000)) {
      val root = Files.createTempDirectory(s"bon-stream-$perTrigger-")
      new FileStreamClient(root).createStream("cands", 1)
      val out = Files.createTempDirectory(s"bon-out-$perTrigger-").toString
      produce(root, part1 ++ part2)
      runOnce(root, Files.createTempDirectory(s"bon-ck-$perTrigger-"), out, perTrigger)
      assert(rowsOf(spark.read.parquet(out)) === expected,
        s"perTrigger=$perTrigger diverges from the batch kernel")
    }
  }

  test("streaming grpo advantages: closed pools equal the batch " +
      "normalization per candidate, out-of-order and tie pools included") {
    val grpoBatch = RlQueries.grpoAdvOf(eventsDf(part1 ++ part2))
      .filter(col("user_id") =!= 999L) // the sentinel pool never closes
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val root = Files.createTempDirectory("grpo-stream-")
    new FileStreamClient(root).createStream("cands", 1)
    val out = Files.createTempDirectory("grpo-out-").toString
    produce(root, part1 ++ part2)
    val q = StreamingBestOfN.advantages(spark, readEvents(root, 3),
        quietUs = 30L * Min, watermark = "2 hours")
      .toDF()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("grpo-ck-").toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("event_id"), r.getAs[Long]("n"), r.getAs[Double]("adv")))
      .toSet
    assert(got === grpoBatch, "streamed advantages diverge from the batch kernel")
    // the tie pool (u1/gen has a tied top pair) and the singleton pool
    // must both be present with a zero-advantage candidate somewhere
    assert(got.exists(r => r._1 == 1L && r._2 == "rank" && r._5 == 0.0),
      "singleton pool should emit adv 0")
  }

  test("checkpoint restart mid-stream: open pools recover their fold; the " +
      "union of both runs equals the batch result exactly once") {
    val root = Files.createTempDirectory("bon-restart-")
    new FileStreamClient(root).createStream("cands", 1)
    val ck = Files.createTempDirectory("bon-restart-ck-")
    val out = Files.createTempDirectory("bon-restart-out-").toString

    produce(root, part1)
    runOnce(root, ck, out, 4)
    val afterRun1 = rowsOf(spark.read.parquet(out))
    // u3's winner has not arrived; its pool must not have closed on 311
    assert(!afterRun1.exists(r => r._1 == 3L),
      s"u3 pool closed prematurely: $afterRun1")

    produce(root, part2)
    runOnce(root, ck, out, 4) // same checkpoint: recovers state
    val total = rowsOf(spark.read.parquet(out))
    assert(total === batchExpectation(),
      "restart lost or duplicated pools (or broke the fold)")
    assert(spark.read.parquet(out).count() === 4L, "duplicate emissions")
  }

  test("two bursts of one key ≥ quietUs apart in EVENT time emit as two " +
      "pools from selectBest and advantages even when a catch-up replay's " +
      "watermark jumps past both; the earlier closes while the later stays open") {
    // burst A (0–5 min) and burst B (100–105 min): 95 min apart, far
    // beyond quietUs = 30 min. One batch feeds both; a close keyed on
    // the pool's single last event time merged them into one pool.
    val burstA: Seq[Ev] = Seq(
      (7L, 0 * Min, 711L, "gen", 7.0),
      (7L, 2 * Min, 712L, "gen", 5.0),
      (7L, 5 * Min, 713L, "gen", 8.0))
    val burstB: Seq[Ev] = Seq(
      (7L, 100 * Min, 714L, "gen", 1.0),
      (7L, 102 * Min, 715L, "gen", 9.0),
      (7L, 105 * Min, 716L, "gen", 2.0))
    // watermark advancer: wm = 160 − 120 (delay) = 40 min — past A's
    // close boundary (5 + 30 = 35 min), before B's (105 + 30 = 135 min)
    val advance: Seq[Ev] = Seq((998L, 160 * Min, 991L, "gen", 0.0))
    val sentinel: Seq[Ev] = Seq((999L, 13 * Hour, 901L, "gen", 0.0))

    val arms: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
      ("bestofn", ev => StreamingBestOfN.selectBest(spark, ev,
        quietUs = 30L * Min, watermark = "2 hours").toDF(), RlQueries.bestOfNOf),
      ("grpo", ev => StreamingBestOfN.advantages(spark, ev,
        quietUs = 30L * Min, watermark = "2 hours").toDF(), RlQueries.grpoAdvOf))
    for ((name, op, batchOf) <- arms) {
      val cols = batchOf(eventsDf(burstA)).columns.map(col)
      def slice(evs: Seq[Ev]): Set[org.apache.spark.sql.Row] =
        batchOf(eventsDf(evs)).select(cols: _*).collect().toSet
      def u7(out: String): Set[org.apache.spark.sql.Row] =
        spark.read.parquet(out).filter(col("user_id") === 7L)
          .select(cols: _*).collect().toSet

      val root = Files.createTempDirectory(s"$name-burst-")
      new FileStreamClient(root).createStream("cands", 1)
      val ck = Files.createTempDirectory(s"$name-burst-ck-").toString
      val out = Files.createTempDirectory(s"$name-burst-out-").toString
      def run(): Unit = {
        val q = op(readEvents(root, 1000))
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(180000)
      }

      produce(root, burstA ++ burstB ++ advance)
      run() // one data batch: wm covers A only
      assert(u7(out) === slice(burstA),
        s"$name: burst A must close as its own pool while B stays open in state")

      produce(root, sentinel)
      run()
      assert(u7(out) === slice(burstA) ++ slice(burstB),
        s"$name: burst B must emit as a SECOND pool, never merged with A")
    }
  }
}

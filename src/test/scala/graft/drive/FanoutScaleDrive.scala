package graft.drive

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.{BucketFanout, IncrementalDedup}

/** Evidence for the size-adaptive band-store fan-out (VERDICT r16
  * item 3) AND the text arm's long-horizon trigger curve (item 7):
  * 10 rounds of sf1 ingest through the UNMODIFIED
  * [[IncrementalDedup.admitBatch]], history growing ~10×, run twice —
  * once with the fan-out thresholds shrunk so the store migrates
  * Base → 256 → 1024 mid-run (crash-safe swap rewrites), once pinned
  * at [[BucketFanout.Base]] (the fixed control).
  *
  * Each round admits one BIG batch (history growth) and then one TINY
  * probe batch (the high-frequency continuous-ingest trigger whose
  * cost must stay flat). The probe's task-level input bytes are the
  * scale observable: a 5-doc batch carries ~160 band rows, which touch
  * ~99% of 32 buckets (~92% of 64) but ~14% of 1024 — so under the fixed control
  * the probe's pruned read grows linearly with history, while the
  * adaptive store's read drops at each migration boundary and stays
  * bounded. (Seconds follow bytes at 100 TB; at sf1 the absolute scan
  * is tens of MB, so BYTES carry the signal and seconds are reported
  * for the flat-cost table.) Admission parity — identical admitted
  * sets per round across the two modes, straddling both migration
  * boundaries — is asserted exactly.
  *
  * Usage: Test/runMain graft.drive.FanoutScaleDrive \
  *   [dir=target/sf1] [rounds=10] [big=4000] [grow256B] [grow1024B]
  *
  * The optional threshold args shrink the adaptive schedule at
  * fixture scale: the round-17 run (4/16 MiB) ended at 15 MB of bands
  * — one round short of the 256 → 1024 boundary — so the second
  * migration and the 1024-dir commit tax were asserted, not measured
  * (VERDICT r17 item 4). A run with e.g. 2/6 MiB crosses BOTH
  * boundaries mid-run.
  */
object FanoutScaleDrive {
  private var Rounds = 10
  private var Big = 4000L
  private val Probe = 5L
  private var Grow256 = 4L << 20
  private var Grow1024 = 16L << 20

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "target/sf1"
    if (args.length > 1) Rounds = args(1).toInt
    if (args.length > 2) Big = args(2).toLong
    if (args.length > 3) Grow256 = args(3).toLong
    if (args.length > 4) Grow1024 = args(4).toLong
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    })

    // contiguous slicing key (amplified ids are scattered). Each
    // round's big/probe slice is pre-written to its OWN parquet dir so
    // the per-batch bytesRead measures the STORE's reads (+ the tiny
    // slice itself), not repeated scans of a 100 MB corpus checkpoint
    // — the first version of this drive attributed ~95 MB of its own
    // corpus filtering to every probe and buried the store signal.
    val w = Window.orderBy(col("doc_id"))
    val corpus = graft.ops.Tables.documents(spark, dir)
      .select((row_number().over(w) - 1).cast("long").as("rk"),
        col("doc_id"), col("text"))
      .localCheckpoint(true)
    val stride = Big + Probe
    val sliceRoot = java.nio.file.Files.createTempDirectory("fanout-slices-").toString
    for (k <- 0 until Rounds) {
      corpus.filter(col("rk") >= k * stride && col("rk") < k * stride + Big)
        .select(col("doc_id"), col("text"))
        .coalesce(4).write.parquet(s"$sliceRoot/big$k")
      corpus.filter(col("rk") >= k * stride + Big && col("rk") < (k + 1) * stride)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.parquet(s"$sliceRoot/probe$k")
    }
    println(s"FANOUTSCALE dir=$dir rounds=$Rounds big=$Big probe=$Probe " +
      s"docs=${corpus.count()}")

    def run(mode: String): Seq[Set[Long]] = {
      if (mode == "adaptive") {
        // default 4/16 MiB: migrate Base -> 256 around round 2 of the
        // ~15 MB-final band store (shrink via args to cross 1024 too)
        spark.conf.set(BucketFanout.GrowAt256Key, Grow256.toString)
        spark.conf.set(BucketFanout.GrowAt1024Key, Grow1024.toString)
      } else {
        spark.conf.unset(BucketFanout.GrowAt256Key)
        spark.conf.unset(BucketFanout.GrowAt1024Key)
        // pin the control at Base regardless of size
        spark.conf.set(BucketFanout.GrowAt256Key, Long.MaxValue.toString)
        spark.conf.set(BucketFanout.GrowAt1024Key, Long.MaxValue.toString)
      }
      val store = java.nio.file.Files.createTempDirectory(s"fanout-$mode-").toString
      val perRound = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      for (k <- 0 until Rounds) {
        val bigBatch = spark.read.parquet(s"$sliceRoot/big$k")
        val t0 = System.nanoTime()
        val bigAdmitted = IncrementalDedup
          .admitBatch(bigBatch, "doc_id", "text", 0.8, store)
          .collect().map(_.getLong(0)).toSet
        val bigSec = (System.nanoTime() - t0) / 1e9
        val probeBatch = spark.read.parquet(s"$sliceRoot/probe$k")
        val b0 = bytesRead.get()
        val t1 = System.nanoTime()
        val probeAdmitted = IncrementalDedup
          .admitBatch(probeBatch, "doc_id", "text", 0.8, store)
          .collect().map(_.getLong(0)).toSet
        val probeSec = (System.nanoTime() - t1) / 1e9
        val probeMb = (bytesRead.get() - b0) / 1e6
        val fanout = BucketFanout.Bands.fanout(spark, store)
        val histMb = BucketFanout.dirBytes(spark, s"$store/bands") / 1e6
        println(f"FANOUTSCALE $mode%-8s round=$k hist=${k * stride} " +
          f"fanout=$fanout%4d bandsMB=$histMb%6.1f bigSec=$bigSec%6.2f " +
          f"probeSec=$probeSec%5.2f probeReadMB=$probeMb%6.1f " +
          f"admitted=${bigAdmitted.size}+${probeAdmitted.size}")
        perRound += (bigAdmitted ++ probeAdmitted)
      }
      spark.conf.unset(BucketFanout.GrowAt256Key)
      spark.conf.unset(BucketFanout.GrowAt1024Key)
      perRound.toSeq
    }

    val adaptive = run("adaptive")
    val fixed = run("fixed64")
    val parity = adaptive.zip(fixed).zipWithIndex.map { case ((a, f), k) =>
      if (a != f) println(s"FANOUTSCALE PARITY FAIL round=$k " +
        s"missing=${(f -- a).take(5)} extra=${(a -- f).take(5)}")
      a == f
    }
    println(s"FANOUTSCALE parity=${parity.count(identity)}/$Rounds identical " +
      "admitted sets across both migration boundaries")
    spark.stop()
    if (!parity.forall(identity)) sys.exit(1)
  }
}

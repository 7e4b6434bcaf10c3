package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.api.Graft

/** Streaming benchmark decontamination: gate every arriving micro-batch
  * of crawl documents against a PERSISTED benchmark-gram store — the
  * ingest-time shape of [[graft.api.Graft.decontaminateBloom]], for
  * pipelines that admit crawl drops continuously and cannot re-run the
  * corpus-wide gate per drop.
  *
  * Designed for `foreachBatch`:
  * {{{
  *   IncrementalDecontam.buildStore(benchDocs, "text", storeDir, n = 13)
  *   docsStream.writeStream.foreachBatch { (batch, _) =>
  *     IncrementalDecontam.admitBatch(batch, "doc_id", "text", storeDir)
  *       .write.mode("append").parquet(cleanDir)
  *   }.option("checkpointLocation", ck).start()
  * }}}
  *
  * Store layout under `storeDir` (written once; static thereafter —
  * unlike [[IncrementalDedup]] there is no per-batch append, so there
  * is no compaction problem):
  *  - `grams/` — the benchmark's distinct word n-grams (parquet)
  *  - `bloom`  — a serialized Bloom filter over those grams
  *  - `meta`   — one-line JSON recording the gram width `n` and `fpp`,
  *    so a batch can never be checked with a different width than the
  *    store was built with (the [[graft.api.Graft.nbScore]]
  *    width-mismatch lesson applied to this store).
  *
  * Scale shape — per-batch cost is ∝ batch, NOT benchmark-join volume:
  * the Bloom filter (~1.2 bytes/gram at 1% fpp) is loaded once per
  * process, cached by (path, mtime), broadcast, and prunes the batch's
  * gram stream MAP-SIDE before any shuffle — the same 21×-measured
  * shuffle cut as the batch operator. The surviving ~fpp fraction is
  * verified with the exact equi-join against `grams/` (AQE broadcasts
  * a small benchmark side), so false positives never reach a decision.
  * Decisions are bit-identical to running
  * [[graft.api.Graft.decontaminate]] on the same docs — batching
  * cannot change them, because the store is static: a replayed batch
  * (foreachBatch is at-least-once) reproduces its decisions exactly,
  * so downstream `dropDuplicates(id)` is all recovery needs. */
object IncrementalDecontam {

  /** Driver-side Bloom cache, keyed by store path + file mtime so a
    * rebuilt store is picked up and an unchanged one never re-read. */
  @volatile private var bloomCache: Map[String, (Long, BloomFilter)] = Map.empty

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Build the persisted store from the benchmark corpus. One pass for
    * the distinct grams (small side — eval suites, not the crawl), one
    * sizing count, one Bloom build. */
  def buildStore(bench: DataFrame, text: String, storeDir: String,
      n: Int = 13, fpp: Double = 0.01): Unit = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val spark = bench.sparkSession
    val bloom = graft.Frames.scope {
      val grams = graft.Frames.shared(bench.select(Graft.tokens(col(text)).as("__ts"))
        .select(explode(Graft.wordGrams(col("__ts"), n)).as("__g"))
        .distinct())
      grams.write.mode("overwrite").parquet(s"$storeDir/grams")
      val nGrams = math.max(grams.count(), 1L)
      grams.stat.bloomFilter("__g", nGrams, fpp)
    }
    val f = fs(spark, storeDir)
    val bloomPath = new org.apache.hadoop.fs.Path(s"$storeDir/bloom")
    val out = f.create(bloomPath, true)
    try bloom.writeTo(out) finally out.close()
    val meta = f.create(new org.apache.hadoop.fs.Path(s"$storeDir/meta"), true)
    try meta.write(s"""{"n":$n,"fpp":$fpp}""".getBytes("UTF-8"))
    finally meta.close()
  }

  /** The store's recorded gram width. */
  def gramWidth(spark: SparkSession, storeDir: String): Int = {
    val in = fs(spark, storeDir).open(new org.apache.hadoop.fs.Path(s"$storeDir/meta"))
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    """"n"\s*:\s*(\d+)""".r.findFirstMatchIn(meta) match {
      case Some(m) => m.group(1).toInt
      case None => throw new IllegalStateException(
        s"$storeDir/meta carries no gram width: $meta")
    }
  }

  private def loadBloom(spark: SparkSession, storeDir: String): BloomFilter = {
    val f = fs(spark, storeDir)
    val p = new org.apache.hadoop.fs.Path(s"$storeDir/bloom")
    val mtime = f.getFileStatus(p).getModificationTime
    bloomCache.get(storeDir) match {
      case Some((t, b)) if t == mtime => b
      case _ =>
        val in = f.open(p)
        val b = try BloomFilter.readFrom(in) finally in.close()
        synchronized { bloomCache += storeDir -> (mtime, b) }
        b
    }
  }

  /** Score one micro-batch against the store: (id, n_hits,
    * contaminated) — the same output contract as
    * [[graft.api.Graft.decontaminate]], computed with the Bloom
    * prefilter + exact verify. */
  def checkBatch(batch: DataFrame, id: String, text: String,
      storeDir: String): DataFrame = {
    val spark = batch.sparkSession
    val n = gramWidth(spark, storeDir)
    val bloom = loadBloom(spark, storeDir)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => g != null && bc.value.mightContainString(g))
    val bGrams = spark.read.parquet(s"$storeDir/grams")
    val tGrams = batch.select(col(id), Graft.tokens(col(text)).as("__ts"))
      .select(col(id), explode(Graft.wordGrams(col("__ts"), n)).as("__g"))
      .filter(mightContain(col("__g"))) // map-side: before distinct's shuffle
      .distinct()
    val hits = tGrams.join(bGrams, Seq("__g")) // exact verify kills the fpp tail
      .groupBy(col(id)).agg(count(lit(1)).as("__h"))
    batch.select(col(id)).join(hits, Seq(id), "left")
      .select(col(id),
        coalesce(col("__h"), lit(0L)).cast("long").as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("long"))
  }

  /** Admission: the batch rows whose documents carry NO benchmark
    * n-gram, with the batch's original columns. */
  def admitBatch(batch: DataFrame, id: String, text: String,
      storeDir: String): DataFrame = {
    val clean = checkBatch(batch, id, text, storeDir)
      .filter(col("contaminated") === 0L).select(col(id))
    batch.join(clean, Seq(id), "left_semi")
  }
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Streaming chunk-store admission: per-doc novelty accounting against
  * chunk history, batch-boundary invariance of total novelty, pruned
  * index reads, replay convergence, crash-safe compaction. */
class IncrementalChunkStoreSpec extends SparkTestBase {

  import spark.implicits._

  private def rnd(seed: Int, n: Int): String =
    scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .alphanumeric.take(n).mkString

  private def admit(pairs: Seq[(Long, String)], store: String) =
    IncrementalChunkStore.admitBatch(
      pairs.toDF("doc_id", "text"), "doc_id", "text", store)

  test("admission accounting: novel first sight, full dedup on an identical doc, " +
      "high dedup on an edited doc") {
    val store = Files.createTempDirectory("chunkstore-").toString
    val base = rnd(1, 3000)
    val b1 = admit(Seq(1L -> base), store).collect().head
    assert(b1.getAs[Long]("novel_chars") === 3000L)
    assert(b1.getAs[Long]("total_chars") === 3000L)
    assert(b1.getAs[Double]("dedup_ratio") === 0.0)

    val b2 = admit(Seq(2L -> base, 3L -> ("EDIT-INSERTED-" + base)), store)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(b2(2L).getAs[Long]("novel_chars") === 0L, "identical doc must fully dedup")
    assert(b2(2L).getAs[Double]("dedup_ratio") === 1.0)
    // the edit disturbs only the chunks up to the first post-edit cut
    val novel3 = b2(3L).getAs[Long]("novel_chars")
    assert(novel3 > 0L && novel3 < 400L,
      s"CDC resync failed: $novel3 novel chars for a 14-char prefix edit")
  }

  // Batch-boundary invariance of total novelty is covered (in stronger,
  // chunk-set form) by the shared StoreContractSpec harness: Σ novel
  // chars == Σ chunk_len over the stored keys, so key-set invariance
  // implies the old novelty-sum assertion.

  test("id-ordered batches: per-doc novelty equals the global-first-occurrence " +
      "window (the q_streaming_chunks oracle claim)") {
    // shared + repeated chunks across docs: doc 1 and 3 share a body,
    // doc 2 repeats doc 1's body internally, doc 4 is fresh
    val body = rnd(21, 1500)
    val docs = Seq(
      1L -> (body + rnd(22, 500)),
      2L -> (body + body),
      3L -> (rnd(23, 400) + body),
      4L -> rnd(24, 1200))
    // stream shape: two id-ordered batches
    val store = Files.createTempDirectory("chunkstore-oracle-").toString
    val streamed = (admit(docs.take(2), store).collect() ++
      admit(docs.drop(2), store).collect())
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("novel_chunks"), r.getAs[Long]("novel_chars")))).toMap
    // oracle shape: one window over the whole corpus — novel iff the
    // occurrence is the global first by (doc_id, chunk_idx)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_fp"), col("chunk_len"))
      .orderBy(col("__id"), col("chunk_idx"))
    val oracle = graft.api.Graft
      .cdcChunkRows(docs.toDF("doc_id", "text"), "doc_id", "text", 16, 64L)
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("__id"))
      .agg(
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("novel_chunks"),
        sum(when(col("__rn") === 1, col("chunk_len")).otherwise(0L)).as("novel_chars"))
      .collect()
      .map(r => r.getAs[Long]("__id") ->
        ((r.getAs[Long]("novel_chunks"), r.getAs[Long]("novel_chars")))).toMap
    assert(streamed === oracle,
      "streamed per-doc novelty diverged from the global-first window")
  }

  test("replayed batch reports zero novelty and leaves the store unchanged") {
    val store = Files.createTempDirectory("chunkstore-replay-").toString
    val batch = Seq(1L -> rnd(7, 2000), 2L -> rnd(8, 2000))
    admit(batch, store)
    val before = IncrementalChunkStore.storedChunks(spark, store).count()
    val replay = admit(batch, store)
    assert(replay.agg(sum("novel_chars")).collect().head.getLong(0) === 0L)
    assert(IncrementalChunkStore.storedChunks(spark, store).count() === before)
  }

  test("a batch's index read is pruned to its own bucket directories; " +
      "compaction (and a crash mid-compaction) preserve decisions") {
    val store = Files.createTempDirectory("chunkstore-prune-").toString
    admit((1L to 10L).map(i => i -> rnd(i.toInt, 2000)), store)
    admit((11L to 20L).map(i => i -> rnd(i.toInt, 2000)), store)
    val chunksPath = s"$store/chunks"
    val allFiles = IncrementalDedupSpec.walkParquet(chunksPath)
    assert(allFiles.size > 50, s"seed store too small to prove pruning: ${allFiles.size}")

    // probe: one small doc → few chunks → few buckets
    val probeText = rnd(999, 300)
    val probeBuckets = graft.api.Graft
      .cdcChunkRows(Seq(99L -> probeText).toDF("doc_id", "text"), "doc_id", "text", 16, 64L)
      .select(pmod(col("chunk_fp"), lit(BucketFanout.Base.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val scan = BucketFanout.Chunks.scan(spark, chunksPath, probeBuckets)
    scan.collect()
    val filesRead = IncrementalDedupSpec.scannedFiles(scan)
    assert(filesRead > 0 && filesRead < allFiles.size,
      s"not a strict subset: $filesRead of ${allFiles.size}")

    // compaction: one file per non-empty bucket, decisions unchanged
    IncrementalChunkStore.compactStore(spark, store)
    val postFiles = IncrementalDedupSpec.walkParquet(chunksPath)
    assert(postFiles.size < allFiles.size, "compaction did not shrink the file count")
    val dup = admit(Seq(50L -> rnd(1, 2000)), store).collect().head
    assert(dup.getAs[Double]("dedup_ratio") === 1.0,
      "compacted store lost chunk keys (seed doc 1 no longer dedups)")

    // crash point: live moved aside, swap never completed → recovery
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(chunksPath),
      new org.apache.hadoop.fs.Path(s"$store/__old_chunks")))
    val dup2 = admit(Seq(51L -> rnd(2, 2000)), store).collect().head
    assert(dup2.getAs[Double]("dedup_ratio") === 1.0,
      "chunk index lost in the rename window")
    assert(fs.exists(new org.apache.hadoop.fs.Path(chunksPath)), "live index not restored")
  }

  test("size-adaptive fan-out growth: novelty accounting identical across " +
      "a 64 -> 256 migration, pre-migration chunks still dedup") {
    // "64" in the name is the fan-out floor when the test was written;
    // the migration it pins is BucketFanout.Base -> 256
    def run(store: String): Seq[Map[Long, Long]] =
      Seq(
        Seq(1L -> rnd(11, 3000), 2L -> rnd(12, 3000)),
        Seq(3L -> rnd(13, 3000), 4L -> rnd(11, 3000)), // 4 = replay of 1's text
        Seq(5L -> ("X" + rnd(12, 3000)))               // edited 2 → high dedup
      ).map(b => admit(b, store).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("novel_chars")).toMap)

    val fixed = Files.createTempDirectory("chunkstore-fixed-").toString
    val adaptive = Files.createTempDirectory("chunkstore-adapt-").toString
    val control = run(fixed)
    try {
      spark.conf.set(BucketFanout.GrowAt256Key, "1")
      val grown = run(adaptive)
      assert(grown === control,
        s"novelty accounting diverged across the migration: $grown vs $control")
      assert(BucketFanout.Chunks.fanout(spark, adaptive) === 256,
        "adaptive chunk store did not migrate")
      assert(BucketFanout.Chunks.fanout(spark, fixed) === BucketFanout.Base)
      assert(IncrementalChunkStore.storedChunks(spark, adaptive).count() ===
        IncrementalChunkStore.storedChunks(spark, fixed).count())
      // the re-bucketed dirs are self-consistent with the new fan-out
      val bad = spark.read.parquet(s"$adaptive/chunks")
        .filter(col("bucket") =!= pmod(col("chunk_fp"), lit(256L)).cast("int"))
        .count()
      assert(bad === 0L, s"$bad chunk keys in dirs inconsistent with fan-out 256")
    } finally spark.conf.unset(BucketFanout.GrowAt256Key)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BucketFanout.Chunks

/** Streaming storage-level dedup accounting: content-defined chunks
  * (gear CDC, [[graft.api.Graft.cdcChunkRows]]) of each arriving
  * micro-batch are matched against the full history of previously-seen
  * chunks, so a long-running ingest knows — per document, at ingest
  * time — how many of its bytes are NEW versus already stored. This is
  * the chunk-store admission step of a dedup storage system applied to
  * corpus text: edits shift chunk offsets but not chunk identities, so
  * a re-crawled page with one changed paragraph costs one new chunk,
  * not a whole document.
  *
  * Designed for `foreachBatch`:
  * {{{
  *   docsStream.writeStream.foreachBatch { (batch, _) =>
  *     IncrementalChunkStore.admitBatch(batch, "doc_id", "text", storeDir)
  *     ()
  *   }.option("checkpointLocation", ck).start()
  * }}}
  *
  * Store layout under `storeDir`: `chunks/` — (chunk_fp, chunk_len)
  * keys of every chunk seen, parquet, directory-partitioned by
  * `bucket = pmod(chunk_fp, fanout)` ([[BucketFanout.Chunks]]; the
  * fan-out starts at 32 and grows with store size). Matching is by the
  * 64-bit FNV-1a fingerprint + length (fpp ≈ n²/2⁶⁴ per equal-length pair —
  * the standard chunk-store tradeoff; the store never needs chunk
  * BYTES for accounting, which keeps it ~16 B per unique chunk).
  *
  * Scale shape — per-batch cost ∝ batch + matched buckets, NOT
  * history: the batch's chunk keys anti-join the persisted index with
  * the read pruned to the batch's own bucket directories (static
  * partition pruning, the [[IncrementalDedup]] band-index pattern);
  * appends go one file per non-empty bucket per batch;
  * [[compactStore]] rewrites to one file per bucket under the
  * [[AtomicStore]] crash contract.
  *
  * Determinism: within a batch, the FIRST occurrence of a chunk
  * (min (doc_id, chunk_idx)) counts as novel and every repeat as dup,
  * so per-doc numbers are reproducible whatever the partitioning.
  * Batch boundaries move which DOC pays for a shared chunk (inherent
  * to incremental accounting) but the TOTAL novel chars across any
  * batch split of the same corpus is invariant (pinned in the spec).
  *
  * foreachBatch is at-least-once: a replayed batch finds all its
  * chunks in the store, reports zero novelty, and appends nothing —
  * the store converges. */
object IncrementalChunkStore {

  private[streaming] val store =
    Admission.Store("admitBatch/chunks", Seq("chunks"), watches = Seq(Chunks))

  /** Run one admission step ([[Admission]]): returns per-doc novelty accounting
    * (id, n_chunks, novel_chunks, novel_chars, total_chars,
    * dedup_ratio) and appends the batch's first-seen chunk keys. */
  def admitBatch(batch: DataFrame, id: String, text: String, storeDir: String,
      window: Int = 16, modulus: Long = 64L): DataFrame =
    // two rows sharing an id would collide on (doc, chunk_idx) and the
    // per-doc novelty accounting would silently merge their chunks
    store.admit(batch, storeDir, "IncrementalChunkStore.admitBatch", id) { (pinned, phase) =>
    val spark = batch.sparkSession
    val chunksPath = Chunks.path(storeDir)
    phase("reconcile-fanout")
    val fanout = Chunks.reconcile(spark, storeDir, _.distinct())

    val rows = graft.Frames.shared(graft.api.Graft
      .cdcChunkRows(pinned.select(col(id), col(text)), id, text, window, modulus)
      .select(col("__id"), col("chunk_idx"), col("chunk_len"), col("chunk_fp")))
    // 1. history: does the chunk key already exist in the store?
    val withSeen =
      if (AtomicStore.exists(spark, chunksPath)) {
        phase("bucket-discovery")
        val seen = Chunks.scan(spark, chunksPath, Chunks.bucketsOf(rows, fanout))
          .select(col("chunk_fp"), col("chunk_len")).distinct()
          .withColumn("__seen", lit(true))
        rows.join(seen, Seq("chunk_fp", "chunk_len"), "left")
          .withColumn("__seen", coalesce(col("__seen"), lit(false)))
      } else rows.withColumn("__seen", lit(false))

    // 2. within-batch: the first occurrence (min (doc_id, chunk_idx))
    //    of each unseen key is the one that pays for storage — a keyed
    //    keeper agg (map-side combine), never a window over the batch
    val keeper = withSeen.filter(!col("__seen"))
      .groupBy(col("chunk_fp"), col("chunk_len"))
      .agg(min(struct(col("__id"), col("chunk_idx"))).as("__k"))
      .select(col("chunk_fp"), col("chunk_len"),
        col("__k")("__id").as("__kid"), col("__k")("chunk_idx").as("__kidx"))
    val marked = withSeen.join(keeper, Seq("chunk_fp", "chunk_len"), "left")
      .withColumn("__novel",
        !col("__seen") && col("__kid") === col("__id") && col("__kidx") === col("chunk_idx"))

    phase("novelty-checkpoint")
    val perDoc = marked.groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__novel"), 1L).otherwise(0L)).as("novel_chunks"),
        sum(when(col("__novel"), col("chunk_len")).otherwise(0L)).as("novel_chars"),
        sum(col("chunk_len")).as("total_chars"))
      .select(col("__id").as(id), col("n_chunks"), col("novel_chunks"),
        col("novel_chars"), col("total_chars"),
        round(lit(1.0) - col("novel_chars").cast("double") /
          col("total_chars").cast("double"), 6).as("dedup_ratio"))
      // eager checkpoint BEFORE the append: the plan reads the store's
      // current files and must not see its own output on recompute
      .localCheckpoint(true)

    // 3. append the first-seen keys, one file per non-empty bucket
    phase("chunks-append")
    Chunks.append(marked.filter(col("__novel")), storeDir, fanout)
    perDoc
    }

  /** Unique chunk keys stored so far (store entry point — rolls
    * forward a crashed compaction; single-operator contract as
    * [[IncrementalDedup.admittedDocs]]). */
  def storedChunks(spark: SparkSession, storeDir: String): DataFrame = {
    store.recover(spark, storeDir)
    if (AtomicStore.exists(spark, s"$storeDir/chunks"))
      spark.read.parquet(s"$storeDir/chunks")
        .select(col("chunk_fp"), col("chunk_len")).distinct()
    else spark.range(0)
      .select(col("id").as("chunk_fp"), col("id").as("chunk_len")).limit(0)
  }

  /** The compaction policy ([[Admission]]) over the chunk index;
    * returns true iff it compacted. */
  def maybeCompact(spark: SparkSession, storeDir: String,
      maxFilesPerBucket: Int = 32): Boolean =
    store.maybeCompact(spark, storeDir, maxFilesPerBucket)(compactStore(spark, storeDir))

  /** Compact the append-only index to one file per non-empty bucket,
    * rows de-duplicated and clustered by the join keys; crash-safe via
    * [[AtomicStore.swapIn]] under the single-operator contract. */
  def compactStore(spark: SparkSession, storeDir: String): Unit = {
    store.recover(spark, storeDir)
    Chunks.compact(spark, storeDir, _.distinct())
  }
}

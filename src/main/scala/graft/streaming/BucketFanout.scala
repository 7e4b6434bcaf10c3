package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The bucketed-index layout of the incremental admission stores, and
  * its size-adaptive fan-out. Six indexes share it, each declared
  * below as one [[Index]] description:
  *  - [[IncrementalDedup]]: [[Bands]] (LSH band rows) and [[Docs]]
  *    (admitted text);
  *  - [[IncrementalBm25]]: [[Postings]] and [[DocStats]];
  *  - [[IncrementalChunkStore]]: [[Chunks]];
  *  - [[IncrementalEmbedDedup]]: [[Vecs]].
  *
  * An index lives at `storeDir/<sub>`, directory-partitioned by
  * `<dirCol> = pmod(<key>, fanout)`; every append writes one file per
  * non-empty bucket and stamps the `_fanout` manifest, every rewrite
  * ends at one file per non-empty bucket clustered by the sort keys,
  * and every per-trigger read is pruned to the touched buckets' dirs.
  * The stores call these operations and keep only their admission
  * logic.
  *
  * The fan-out trades two costs that move in opposite directions:
  *  - per-trigger PRUNED READ ≈ touched_buckets/fanout of the index —
  *    shrinks with fan-out (a small batch touches ≤ its own key count
  *    of buckets, so only a high fan-out keeps the read a small
  *    fraction once the index is large);
  *  - per-trigger FIXED COST of the dir count — one file per non-empty
  *    bucket per append, and above
  *    `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 by
  *    default) bucket dirs the pruned read's file listing becomes its
  *    own Spark job ("Listing leaf files and directories for N
  *    paths") instead of a driver-side listing.
  *
  * A FIXED fan-out is therefore wrong at one end or the other: 256
  * capped trigger throughput at ~0.2 Hz on kilobyte stores (the r16
  * finding), while 32 at a 100 TB admitted corpus makes each bucket
  * ~3 TB and the per-trigger read grows linearly with history again.
  * The schedule below starts at 32 and grows 32 → 256 → 1024 at store
  * size thresholds where the scan a higher fan-out saves dwarfs the
  * extra per-file and listing seconds (defaults: 4 GiB and 64 GiB — at
  * 4 GiB a small-batch trigger reads nearly all of a 32-bucket index
  * vs ~1.9 GiB under 256, saving seconds per trigger for a one-time
  * rewrite; thresholds are runtime conf so drives can cross a
  * boundary at fixture scale). Growth is MONOTONIC (max(actual,
  * scheduled)) — a store is never re-bucketed downward, so byte counts
  * hovering at a threshold cannot churn rewrites, and stores written
  * under an earlier floor (64) or at 256 keep their layout instead of
  * paying a shrink.
  *
  * Why the floor is 32, not 64: 32 dirs is the largest count Spark
  * still lists on the driver, so a trigger's two pruned reads
  * ([[IncrementalDedup]]'s `bands/` and `docs/`) run no listing job —
  * at 64 each was a 64-task job of 220-300 ms, two per trigger — and
  * an append writes at most 32 files per index instead of 64
  * (`streaming.store_files` of the admit benchmark halves). The cost:
  * below 4 GiB a pruned read covers touched/32 of an index instead of
  * touched/64. For `bands/` that costs nothing at trigger sizes: a
  * 500-doc trigger's 16,000 band hashes touch every bucket at either
  * fan-out, and a single doc's 32 band hashes already touch ~25 of 64
  * or ~20 of 32. Only the candidate fetch from `docs/` of a very small
  * trigger reads a larger share. Measured on a 4-core host (local[4])
  * by `graft.drive.BandWriteProbeDrive`, which appends a 500-doc
  * trigger's 16,000 band rows with [[Index.append]] and reads every
  * bucket back with [[Index.scan]]: an append into an existing index
  * takes 2.07 s at 256 buckets, 0.74 s at 64, 0.55 s at 32 and 0.34 s
  * at 16; the read-back takes 2.72 / 0.77 / 0.30 / 0.27 s, and the
  * 256- and 64-bucket reads each run one job more, the file listing.
  * On the traced admit benchmark (seed 1, 500-doc triggers over a
  * ~1.5 MB store) moving the floor from 64 to 32 together with the
  * explicit partition count in [[Index.append]] took the admitBatch
  * call from 7.31 s to 5.48 s at the median per trigger.
  *
  * The store's actual fan-out travels WITH the store as a `_fanout`
  * manifest file at the index root (underscore-prefixed, so Spark's
  * partition discovery ignores it; it rides through [[AtomicStore]]
  * swaps because the rewrite stamps it into the temp dir). Stores
  * written before the manifest existed are detected from the occupied
  * `bucket=` dirs: max value + 1, rounded UP to a power of two, floor
  * [[Base]]. Rounding makes under-detection harmless: for powers of
  * two F1 ≤ F2, pmod(h, F1) = pmod(h, F2) mod F1, so a store whose
  * occupied dirs all sit below a smaller power of two is
  * bucket-COMPATIBLE with that smaller fan-out (every row sits in the
  * dir the smaller modulus predicts, and the dirs the smaller modulus
  * cannot reach are empty). Without this reconciliation, a fan-out
  * constant change silently broke pruning: history rows in dirs ≥ the
  * new modulus were never scanned and their near-dups re-admitted —
  * the ADVICE r16 finding, pinned in IncrementalDedupSpec.
  *
  * Operational note: [[reconcile]] performs a threshold-crossing
  * rewrite INSIDE the trigger that discovers it — correct but a
  * one-off ingest pause ∝ store size. To avoid that, run the store's
  * `compactStore` (or `maybeCompact`) in a maintenance window: it
  * rewrites at the scheduled target fan-out, so the next trigger's
  * reconcile sees actual == target and is a no-op. A store crosses
  * each threshold at most once in its lifetime (monotonic growth), so
  * there are at most two such rewrites ever. */
object BucketFanout {

  /** Fan-out floor and the value every store starts at: the largest
    * dir count Spark lists without a job (see the header). */
  val Base = 32

  /** Runtime-settable thresholds (bytes of index data ABOVE which the
    * scheduled fan-out becomes 256 / 1024). Must be positive: the
    * comparison is strict (`>`), so an (invalid) threshold of 0 still
    * keeps a brand-new zero-byte store at [[Base]] instead of paying
    * the measured super-linear 1024-dir commit tax from trigger one
    * (ADVICE r17). */
  val GrowAt256Key = "spark.graft.store.growAt256Bytes"
  val GrowAt1024Key = "spark.graft.store.growAt1024Bytes"
  val DefaultGrowAt256: Long = 4L << 30
  val DefaultGrowAt1024: Long = 64L << 30

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The scheduled fan-out for an index currently holding `storeBytes`. */
  def scheduled(spark: SparkSession, storeBytes: Long): Int = {
    val g256 = spark.conf.get(GrowAt256Key, DefaultGrowAt256.toString).toLong
    val g1024 = spark.conf.get(GrowAt1024Key, DefaultGrowAt1024.toString).toLong
    if (storeBytes > g1024) 1024 else if (storeBytes > g256) 256 else Base
  }

  /** Total data bytes under the index dir (metadata-only probe). */
  def dirBytes(spark: SparkSession, path: String): Long =
    fs(spark, path).getContentSummary(new Path(path)).getLength

  /** Stamp the store's fan-out manifest (idempotent overwrite).
    *
    * Written via temp file + delete + rename rather than an in-place
    * truncating create: a crash (or a concurrent reader — search is
    * allowed alongside appends) inside a truncate-then-write window
    * would observe an EMPTY `_fanout`, and before round 18 that threw
    * an unhandled NumberFormatException from every store entry point
    * until someone deleted the file by hand (ADVICE r17). The rename
    * window instead exposes either the old complete manifest or a
    * brief ABSENCE — and absence is safe by construction: readers fall
    * back to the occupied-dir detection, which the power-of-two
    * argument in the header proves bucket-compatible. */
  def writeManifest(spark: SparkSession, indexDir: String, fanout: Int): Unit = {
    // every store entry point re-stamps after its append; skip when the
    // stamp is already current so steady-state triggers never re-enter
    // the (brief, fallback-covered) replacement window at all
    if (readManifest(spark, indexDir).contains(fanout)) return
    val f = fs(spark, indexDir)
    val tmp = new Path(indexDir, "_fanout.tmp")
    val dst = new Path(indexDir, "_fanout")
    val out = f.create(tmp, true)
    try out.write(fanout.toString.getBytes("UTF-8")) finally out.close()
    if (f.exists(dst)) f.delete(dst, false)
    if (!f.rename(tmp, dst)) throw new java.io.IOException(
      s"could not rename $tmp to $dst while stamping the fan-out manifest")
  }

  /** `Some(fanout)` from a readable manifest; `None` when the file is
    * absent, empty, unparseable, or unreadable (e.g. a checksum
    * mismatch from a torn write) — all of which fall back to the
    * occupied-dir detection. The fallback is bucket-compatible by the
    * power-of-two argument in the header, so degrading on ANY read
    * failure is always correct; a damaged manifest must never wedge
    * the store (ADVICE r17). */
  private def readManifest(spark: SparkSession, indexDir: String): Option[Int] =
    scala.util.Try {
      val p = new Path(indexDir, "_fanout")
      val f = fs(spark, indexDir)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try {
          val buf = new Array[Byte](32)
          val n = in.read(buf)
          scala.util.Try(new String(buf, 0, math.max(n, 0), "UTF-8").trim.toInt)
            .toOption.filter(_ > 0)
        } finally in.close()
      }
    }.toOption.flatten

  private def nextPow2(n: Int): Int = {
    var p = 1
    while (p < n) p <<= 1
    p
  }

  /** The fan-out the persisted `<dirCol>=` dir values were computed
    * with: the stamped manifest, else the pre-manifest detection
    * described above. `Base` for an empty/dir-less index. */
  def storeFanout(spark: SparkSession, indexDir: String,
      dirCol: String = "bucket"): Int =
    readManifest(spark, indexDir).getOrElse {
      val dirs = fs(spark, indexDir).listStatus(new Path(indexDir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$dirCol="))
        .map(_.getPath.getName.stripPrefix(s"$dirCol=").toInt)
      if (dirs.isEmpty) Base else math.max(nextPow2(dirs.max + 1), Base)
    }

  /** The fan-out a maintenance rewrite should target right now:
    * monotonic max of the store's actual fan-out and the size
    * schedule. */
  def target(spark: SparkSession, indexDir: String,
      dirCol: String = "bucket"): Int =
    math.max(storeFanout(spark, indexDir, dirCol),
      scheduled(spark, dirBytes(spark, indexDir)))

  /** Reconcile `storeDir/sub`'s persisted layout with the size
    * schedule and return the fan-out the CALLER must bucket this
    * batch with: grows the fan-out crash-safely (the
    * [[AtomicStore.swapIn]] two-rename contract) when the index
    * crossed a threshold, stamps pre-manifest stores, and returns
    * [[Base]]-or-scheduled for a store that does not exist yet.
    * `rewrite(fanout)` must re-bucket every row from its own key at
    * the given fan-out and stamp the manifest into the temp dir.
    * Monotonic — never re-buckets downward. */
  def reconcile(spark: SparkSession, storeDir: String, sub: String,
      dirCol: String = "bucket")(rewrite: Int => (String, String) => Unit): Int = {
    val path = s"$storeDir/$sub"
    if (!AtomicStore.exists(spark, path)) return scheduled(spark, 0L)
    val actual = storeFanout(spark, path, dirCol)
    val t = target(spark, path, dirCol)
    if (t != actual) AtomicStore.swapIn(spark, storeDir, sub)(rewrite(t))
    // stamps pre-manifest stores once; a current stamp is a no-op
    // inside writeManifest, so steady-state triggers never re-enter
    // the manifest's (brief, fallback-covered) replacement window
    else writeManifest(spark, path, actual)
    t
  }

  /** One bucketed index: `storeDir/<sub>`, directory-partitioned by
    * `dirCol = pmod(key, fanout)`, data columns `cols` in file order,
    * rewrites clustered by `dirCol` then `sortKeys`. */
  final class Index(sub: String, dirCol: String, key: Column,
      cols: Seq[String], sortKeys: Seq[String]) {

    def path(storeDir: String): String = s"$storeDir/$sub"

    /** A row's bucket at `fanout`. */
    private def bucket(fanout: Int): Column = pmod(key, lit(fanout.toLong)).cast("int")

    /** The fan-out the persisted index is bucketed at (manifest, or the
      * occupied-dir detection for pre-manifest stores). */
    def fanout(spark: SparkSession, storeDir: String): Int =
      storeFanout(spark, path(storeDir), dirCol)

    /** [[BucketFanout.reconcile]] with this index's rewrite: the fan-out
      * THIS batch must bucket with, after any threshold-crossing
      * re-bucketing. `pre` runs on the read rows before re-bucketing. */
    def reconcile(spark: SparkSession, storeDir: String,
        pre: DataFrame => DataFrame = identity): Int =
      BucketFanout.reconcile(spark, storeDir, sub, dirCol)(rewrite(spark, _, pre))

    /** Maintenance rewrite at the [[target]] fan-out, crash-safe via
      * [[AtomicStore.swapIn]]; a no-op when the index does not exist. */
    def compact(spark: SparkSession, storeDir: String,
        pre: DataFrame => DataFrame = identity): Unit =
      if (AtomicStore.exists(spark, path(storeDir))) {
        val f = target(spark, path(storeDir), dirCol)
        AtomicStore.swapIn(spark, storeDir, sub)(rewrite(spark, f, pre))
      }

    /** More than `maxFilesPerBucket` files per occupied bucket — the
      * test [[Admission]]'s compaction policy applies to each index a
      * store watches. */
    def overFilesPerBucket(spark: SparkSession, storeDir: String,
        maxFilesPerBucket: Int): Boolean = {
      val (files, dirs) = AtomicStore.filesPerDir(spark, path(storeDir), dirCol)
      dirs > 0L && files > maxFilesPerBucket * dirs
    }

    /** Append `rows` (carrying at least `cols`) bucketed at `fanout`,
      * then stamp the manifest. Hash-repartitioning by the dir column
      * puts each bucket in exactly one partition, so an append writes
      * one file per non-empty bucket instead of tasks × buckets tiny
      * files. The partition count is explicit, min(fanout,
      * defaultParallelism): AQE coalesces a bare `repartition(col)` of
      * a trigger-sized batch to ONE task that writes every bucket's
      * file in turn (~11-15 ms a file), while a requested count is
      * never coalesced, so the files are written by parallel tasks. */
    def append(rows: DataFrame, storeDir: String, fanout: Int): Unit = {
      val writers = math.min(fanout, rows.sparkSession.sparkContext.defaultParallelism)
      rows.select(cols.map(col) :+ bucket(fanout).as(dirCol): _*)
        .repartition(writers, col(dirCol))
        .write.mode(SaveMode.Append).partitionBy(dirCol).parquet(path(storeDir))
      writeManifest(rows.sparkSession, path(storeDir), fanout)
    }

    /** The distinct buckets `keys` (a frame carrying this index's key
      * column) touch at `fanout`, ascending — one map-only job
      * ([[Admission.distinctOf]]): each partition dedups its own
      * buckets and the driver merges them, so the driver receives at
      * most `fanout` × `keys`' partitions values, bounded by the
      * fan-out and the batch's partitioning, not by data size. */
    def bucketsOf(keys: DataFrame, fanout: Int): Seq[Int] =
      Admission.distinctOf[Int](keys, bucket(fanout))(Encoders.scalaInt).toSeq.sorted

    /** The pruned read of the index at `indexPath`: a static `IN` filter
      * on the dir column, so Spark plans the read over only those
      * buckets' files (visible as `numFiles` in the scan metrics). */
    def scan(spark: SparkSession, indexPath: String, buckets: Seq[Int]): DataFrame =
      spark.read.parquet(indexPath).filter(col(dirCol).isin(buckets.map(Int.box): _*))

    /** Re-bucket every row from its own key at `fanout`, one file per
      * non-empty bucket, manifest stamped into `tmp` so it rides the
      * swap. */
    private def rewrite(spark: SparkSession, fanout: Int,
        pre: DataFrame => DataFrame)(live: String, tmp: String): Unit = {
      pre(spark.read.parquet(live).select(cols.map(col): _*))
        .withColumn(dirCol, bucket(fanout))
        .repartition(col(dirCol))
        .sortWithinPartitions((dirCol +: sortKeys).map(col): _*)
        .write.partitionBy(dirCol).parquet(tmp)
      writeManifest(spark, tmp, fanout)
    }
  }

  /** [[IncrementalDedup]]'s LSH band rows, bucketed by band hash. */
  val Bands = new Index("bands", "bucket", col("bandhash"),
    Seq("doc_id", "band", "bandhash"), Seq("band", "bandhash"))
  /** [[IncrementalDedup]]'s admitted text, bucketed by doc id so the
    * history verify fetches only the candidates' own dbuckets (the
    * unpruned candidate fetch scanned the whole admitted text table per
    * trigger, ~95 MB/probe at sf1 — FanoutScaleDrive). */
  val Docs = new Index("docs", "dbucket", col("doc_id"),
    Seq("doc_id", "text"), Seq("doc_id"))
  /** [[IncrementalBm25]]'s postings, bucketed by term hash. */
  val Postings = new Index("postings", "bucket", xxhash64(col("term")),
    Seq("term", "doc_id", "tf"), Seq("term", "doc_id"))
  /** [[IncrementalBm25]]'s per-doc lengths, the store's commit record. */
  val DocStats = new Index("docstats", "dbucket", col("doc_id"),
    Seq("doc_id", "dl"), Seq("doc_id"))
  /** [[IncrementalChunkStore]]'s chunk keys, bucketed by fingerprint. */
  val Chunks = new Index("chunks", "bucket", col("chunk_fp"),
    Seq("chunk_fp", "chunk_len"), Seq("chunk_fp", "chunk_len"))
  /** [[IncrementalEmbedDedup]]'s admitted vectors, bucketed by IVF cell. */
  val Vecs = new Index("vecs", "bucket", col("cell"),
    Seq("doc_id", "vec", "nrm", "cell"), Seq("cell"))
}

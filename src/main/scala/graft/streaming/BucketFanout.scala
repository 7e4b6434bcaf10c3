package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  *  - per-trigger dynamic-partition COMMIT — grows super-linearly with
  *    non-empty dir count (measured, BandWriteProbeDrive: 40k-row
  *    append at 256 dirs ≈ 4-6 s, 64 ≈ 1.1 s, 16 ≈ 0.5 s).
  *
  * A FIXED fan-out is therefore wrong at one end or the other: 256
  * capped trigger throughput at ~0.2 Hz on kilobyte stores (the r16
  * finding), while 64 at a 100 TB admitted corpus makes each bucket
  * ~1.5 TB and the per-trigger read grows linearly with history again.
  * The schedule below starts at 64 and grows 64 → 256 → 1024 at store
  * size thresholds where the scan a higher fan-out saves dwarfs the
  * extra commit seconds (defaults: 4 GiB and 64 GiB — at 4 GiB a
  * small-batch trigger reads ~3.7 GiB under 64 buckets vs ~1.9 GiB
  * under 256, saving seconds per trigger for a one-time rewrite;
  * thresholds are runtime conf so drives can cross a boundary at
  * fixture scale). Growth is MONOTONIC (max(actual, scheduled)) — a
  * store is never re-bucketed downward, so byte counts hovering at a
  * threshold cannot churn rewrites, and legacy 256-bucket stores keep
  * their layout instead of paying a shrink.
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

  /** Fan-out floor and the value every store starts at. */
  val Base = 64

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

    /** The compaction policy: more than `maxFilesPerBucket` files per
      * occupied bucket. Every append writes one file per non-empty
      * bucket, so files/bucket ≈ triggers since the last compaction. */
    def overFilesPerBucket(spark: SparkSession, storeDir: String,
        maxFilesPerBucket: Int): Boolean = {
      val (files, dirs) = AtomicStore.filesPerDir(spark, path(storeDir), dirCol)
      dirs > 0L && files > maxFilesPerBucket * dirs
    }

    /** Append `rows` (carrying at least `cols`) bucketed at `fanout`,
      * then stamp the manifest. Repartitioning by the dir column first
      * writes one file per non-empty bucket per batch instead of
      * tasks × buckets tiny files. */
    def append(rows: DataFrame, storeDir: String, fanout: Int): Unit = {
      rows.select(cols.map(col) :+ bucket(fanout).as(dirCol): _*)
        .repartition(col(dirCol))
        .write.mode(SaveMode.Append).partitionBy(dirCol).parquet(path(storeDir))
      writeManifest(rows.sparkSession, path(storeDir), fanout)
    }

    /** The distinct buckets `keys` (a frame carrying this index's key
      * column) touch at `fanout` — a driver-side collect bounded by
      * `fanout`, not by data size. */
    def bucketsOf(keys: DataFrame, fanout: Int): Seq[Int] =
      keys.select(bucket(fanout)).distinct().collect().map(_.getInt(0)).toSeq

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

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loud in-batch admission guards shared by the Incremental* stores:
  * every admission store assumes one row per key per micro-batch —
  * violations would silently race keep-first or merge two payloads
  * under one key, so they fail the batch instead (the repo's
  * fail-loudly convention; dedup the batch upstream). */
private[streaming] object Admission {

  /** Run `body`, then unpersist `frames` whether it returned or threw:
    * a per-batch cache must not outlive its call on any exit path. */
  def releasing[T](frames: DataFrame*)(body: => T): T =
    try body finally frames.foreach(_.unpersist())

  /** Fail if any `keys` tuple appears more than once in the batch. */
  def requireUnique(batch: DataFrame, op: String, keys: String*): Unit = {
    val dup = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"$op: key (${keys.mkString(", ")}) = " +
        s"(${dup.head.toSeq.dropRight(1).mkString(", ")}) appears " +
        s"${dup.head.getLong(keys.size)} times in one batch — in-batch duplicates " +
        "would silently corrupt keep-first admission; dedup upstream")
  }

  /** Fail if any `keys` tuple carries more than one distinct `payload`
    * value in the batch (exact duplicate rows are fine — replays
    * re-offer identical rows by contract; CONFLICTING payloads are
    * not). */
  def requireConsistent(batch: DataFrame, op: String, payload: String,
      keys: String*): Unit = {
    val dup = batch.groupBy(keys.map(col): _*)
      .agg(countDistinct(col(payload)).as("__n")).filter(col("__n") > 1L)
      .limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"$op: key (${keys.mkString(", ")}) = " +
        s"(${dup.head.toSeq.dropRight(1).mkString(", ")}) carries " +
        s"${dup.head.getLong(keys.size)} conflicting '$payload' values in one batch — " +
        "a replay re-offers IDENTICAL rows; conflicting payloads would be " +
        "resolved arbitrarily, so the batch fails instead")
  }
}

/** Crash-safe maintenance for the append-only parquet stores the
  * incremental admission operators keep: each store is a directory of
  * subdirectories ("subs"), rewritten via a temp dir + two renames, with
  * roll-forward recovery on every entry point. The four admission
  * stores keep six bucketed indexes among their subs, laid out by
  * [[BucketFanout]]: [[IncrementalDedup]] (`bands/`, `docs/`),
  * [[IncrementalBm25]] (`postings/`, `docstats/`, plus the flat
  * `stats/`), [[IncrementalChunkStore]] (`chunks/`) and
  * [[IncrementalEmbedDedup]] (`vecs/`, plus the flat `radii/`);
  * [[IncrementalReservoir]] swaps its flat `sample/` the same way.
  *
  * Single-OPERATOR contract (see [[IncrementalDedup.compactStore]]):
  * writers AND readers both call [[recover]], so none of them may run
  * concurrently with an in-flight compaction — crash-vs-running is
  * undecidable from the filesystem alone. */
private[streaming] object AtomicStore {

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Roll the store forward past a compaction crash. Idempotent, cheap
    * (a few filesystem stats), and called by every store entry point:
    *  - crash after the live dir was moved aside but before the rewrite
    *    was swapped in → the live dir is missing: move the original
    *    back (the rewrite is discarded — it has identical content, but
    *    the original is the version whose swap never commenced);
    *  - crash before the swap started → live dir intact: stale
    *    `__compact_*` / `__old_*` artifacts are deleted so the next
    *    rewrite starts clean. */
  def recover(spark: SparkSession, storeDir: String, subs: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sub <- subs) {
      val live = new org.apache.hadoop.fs.Path(s"$storeDir/$sub")
      val old = new org.apache.hadoop.fs.Path(s"$storeDir/__old_$sub")
      val tmp = new org.apache.hadoop.fs.Path(s"$storeDir/__compact_$sub")
      if (!fs.exists(live) && fs.exists(old))
        require(fs.rename(old, live), s"recover: could not restore $live")
      if (fs.exists(live)) {
        fs.delete(tmp, true)
        fs.delete(old, true)
      }
    }
  }

  /** (data files, occupied bucket dirs) under an index dir — the
    * compaction-policy observable: every micro-batch appends one file
    * per non-empty bucket, so files/dir ≈ triggers since the last
    * compaction. Metadata-only (recursive listing, the same cost class
    * as the read planning the file count is inflating). */
  def filesPerDir(spark: SparkSession, path: String,
      dirPrefix: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val dirs = fs.listStatus(p)
      .count(s => s.isDirectory && s.getPath.getName.startsWith(s"$dirPrefix="))
    var files = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) files += 1
    }
    (files, dirs.toLong)
  }

  /** Rewrite `storeDir/sub` via a temp dir and swap it in (two renames);
    * a crash at ANY point is rolled forward by [[recover]]. */
  def swapIn(spark: SparkSession, storeDir: String, sub: String)(
      rewrite: (String, String) => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = s"$storeDir/$sub"
    if (!exists(spark, live)) return
    val tmp = s"$storeDir/__compact_$sub"
    val old = s"$storeDir/__old_$sub"
    rewrite(live, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(old), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(live), new org.apache.hadoop.fs.Path(old)),
      s"compact: could not move $live aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(live)),
      s"compact: could not swap in $tmp")
    fs.delete(new org.apache.hadoop.fs.Path(old), true)
  }
}

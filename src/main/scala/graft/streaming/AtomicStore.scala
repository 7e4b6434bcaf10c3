package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle every Incremental* admission store shares, written
  * once; each store keeps only its own logic (its subs and
  * [[BucketFanout.Index]]es, candidate and verify logic, append order
  * and crash-ordering argument).
  *
  * A store declares itself once as a [[Store]]: the prefix its jobs
  * are labelled with, the subs crash recovery rolls forward, and the
  * bucketed indexes its compaction policy watches. [[Store.admit]] is
  * the one admission step:
  *  1. roll the store forward past a compaction crash
  *     ([[AtomicStore.recover]]);
  *  2. open a [[graft.Frames.scope]] and record the caller's
  *     `spark.job.description` ([[graft.Jobs.described]]);
  *  3. pin the batch ([[graft.Frames.shared]]);
  *  4. fail a batch whose key columns repeat a key ([[requireUnique]],
  *     labelled `<prefix>/requireUnique`);
  *  5. run the store's body on the pinned frame, with a `phase(name)`
  *     labeller that tags the body's jobs `<prefix>/<name>`; the body's
  *     per-batch caches are `Frames.shared` in the same scope;
  *  6. on every exit path, release the pin and the body's caches and
  *     restore the caller's description, so jobs the caller runs after
  *     the return are not counted as the store's.
  *
  * Why the pin: the batch feeds several separate actions in every
  * store (the key guard, the batch-side materializations, the
  * survivors' joins), and an unpinned `foreachBatch` frame re-plans
  * from the STREAMING SOURCE per action — the sf10 planted run's
  * per-trigger instrumentation read numInputRows = 4× the trigger cap,
  * i.e. every ingest byte fetched four times (round 18).
  * MEMORY_AND_DISK, not localCheckpoint: a 100 TB trigger slice must be
  * allowed to spill, and eager truncation is unnecessary — only re-read
  * avoidance is.
  *
  * Why the key guard: every admission store assumes one row per key
  * per micro-batch — violations would silently race keep-first or
  * merge two payloads under one key, so they fail the batch instead
  * (the repo's fail-loudly convention; dedup the batch upstream).
  *
  * The compaction policy ([[Store.maybeCompact]]) is shared too:
  * compact when any watched index holds more than `maxFilesPerBucket`
  * files per occupied bucket. Each trigger appends one file per
  * non-empty bucket, so files/bucket ≈ triggers since the last
  * compaction, and the small-files metadata tax grows linearly with
  * it. The policy runs under the single-operator contract of
  * [[AtomicStore]]: call it from the ingest's OWN maintenance slot
  * (e.g. every N triggers inside foreachBatch, or a quiet window) —
  * never concurrently with other store entry points. Because a
  * compaction rewrites at the size-scheduled fan-out, a
  * maintenance-window `maybeCompact` also pre-pays any pending fan-out
  * migration, so the next trigger's reconcile is a no-op instead of a
  * mid-trigger rewrite. */
private[streaming] object Admission {

  /** One store's declaration: its job-label `prefix`, the `subs`
    * [[AtomicStore.recover]] rolls forward, and the bucketed indexes
    * its compaction policy `watches`. */
  final case class Store(prefix: String, subs: Seq[String],
      watches: Seq[BucketFanout.Index] = Nil) {

    /** Roll the store forward past a compaction crash; every store
      * entry point calls it. */
    def recover(spark: SparkSession, storeDir: String): Unit =
      AtomicStore.recover(spark, storeDir, subs)

    /** The admission step (see [[Admission]]): `body` gets the pinned
      * batch and the `phase` labeller. `keys` empty skips the key
      * guard; `op` names the caller in its error. */
    def admit[T](batch: DataFrame, storeDir: String, op: String, keys: String*)(
        body: (DataFrame, String => Unit) => T): T = {
      val sc = batch.sparkSession.sparkContext
      recover(batch.sparkSession, storeDir)
      val phase = (name: String) => sc.setJobDescription(s"$prefix/$name")
      graft.Frames.scope(graft.Jobs.described(sc, s"$prefix/requireUnique") {
        val pinned = graft.Frames.shared(batch)
        if (keys.nonEmpty) requireUnique(pinned, op, keys: _*)
        body(pinned, phase)
      })
    }

    /** The compaction policy (see [[Admission]]): recover, then run
      * `compact` iff a watched index is over `maxFilesPerBucket` files
      * per occupied bucket. Returns true iff it compacted. */
    def maybeCompact(spark: SparkSession, storeDir: String, maxFilesPerBucket: Int)(
        compact: => Unit): Boolean = {
      recover(spark, storeDir)
      val over = watches.exists(_.overFilesPerBucket(spark, storeDir, maxFilesPerBucket))
      if (over) compact
      over
    }
  }

  /** The distinct values of `df`'s column `c` as a driver set, from one
    * map-only job: each partition dedups its own values and the driver
    * merges them, so no exchange runs. The driver receives at most
    * (distinct values × `df`'s partitions) rows — callers pass columns
    * whose distinct values are bounded by the batch or by a fan-out. */
  def distinctOf[T](df: DataFrame, c: Column)(implicit enc: Encoder[T]): Set[T] =
    df.select(c).as[T].mapPartitions(_.toSet.iterator).collect().toSet

  /** `df`'s rows whose `doc_id` is not in `ids`: a `left_anti` join
    * against a broadcast local relation of the (batch-bounded) set, so
    * the result's lineage holds no other frame. An empty set plans no
    * join at all. */
  def minus(df: DataFrame, ids: Set[Long]): DataFrame = {
    val spark = df.sparkSession
    df.join(broadcast(spark.createDataset(ids.toSeq)(Encoders.scalaLong).toDF("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** The ids among `ids`' column `id` that are NOT their within-batch
    * duplicate cluster's keeper: the rows
    * `Graft.clusterDedup(ids, id, pairs, idA, idB)` marks `kept = false`
    * (the keeper is the component's min id). Both near-dup stores call
    * this on their survivors and verified survivor pairs.
    *
    * Up to `cap` distinct pairs it is one job: each partition of
    * `pairs` sends at most `cap + 1` distinct pairs, and the driver
    * union-find ([[graft.api.Graft.componentMins]]) labels the
    * components — the driver holds at most (`cap` + 1) × `pairs`'
    * partitions pairs. Above `cap` it falls back to the distributed
    * `clusterDedup` and collects its non-keepers (≤ the batch). */
  def nonKeepers(ids: DataFrame, id: String, pairs: DataFrame, idA: String, idB: String,
      cap: Int = graft.api.Graft.LocalEdgeCap): Set[Long] = {
    val edges = pairs.select(col(idA).cast("long"), col(idB).cast("long"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .mapPartitions { it =>
        val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
        while (it.hasNext && seen.size <= cap) seen += it.next()
        seen.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().distinct
    if (edges.length <= cap)
      graft.api.Graft.componentMins(edges.iterator).collect { case (n, m) if n != m => n }.toSet
    else
      distinctOf[Long](graft.api.Graft.clusterDedup(ids, id, pairs, idA, idB)
        .filter(!col("kept")), col(id).cast("long"))(Encoders.scalaLong)
  }

  /** Fail if any `keys` tuple appears more than once in the batch. */
  def requireUnique(batch: DataFrame, op: String, keys: String*): Unit =
    requireAtMostOne(batch, op, keys, count(lit(1)), n => s"appears $n times in one batch — " +
      "in-batch duplicates would silently corrupt keep-first admission; dedup upstream")

  /** Fail if any `keys` tuple carries more than one distinct `payload`
    * value in the batch (exact duplicate rows are fine — replays
    * re-offer identical rows by contract; CONFLICTING payloads are
    * not). */
  def requireConsistent(batch: DataFrame, op: String, payload: String,
      keys: String*): Unit =
    requireAtMostOne(batch, op, keys, countDistinct(col(payload)), n =>
      s"carries $n conflicting '$payload' values in one batch — a replay re-offers IDENTICAL " +
        "rows; conflicting payloads would be resolved arbitrarily, so the batch fails instead")

  /** Fail, naming the first offending key, if `n` over any `keys` group
    * exceeds 1. */
  private def requireAtMostOne(batch: DataFrame, op: String, keys: Seq[String], n: Column,
      what: Long => String): Unit = {
    val dup = batch.groupBy(keys.map(col): _*)
      .agg(n.as("__n")).filter(col("__n") > 1L).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"$op: key (${keys.mkString(", ")}) = (${dup.head.toSeq.dropRight(1).mkString(", ")}) " +
        what(dup.head.getLong(keys.size)))
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

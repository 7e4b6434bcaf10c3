package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BucketFanout.{DocStats, Postings}

/** Streaming retrieval-index maintenance: a `foreachBatch` postings /
  * document-statistics updater whose queries return EXACTLY what the
  * batch [[graft.api.Graft.bm25Search]] returns over every document
  * admitted so far — ingest-time index maintenance for the RAG surface
  * (the batch side indexes a frozen corpus; this keeps the index
  * current as documents arrive).
  *
  * Designed for `foreachBatch`:
  * {{{
  *   docsStream.writeStream.foreachBatch { (batch, _) =>
  *     IncrementalBm25.admitBatch(batch, "doc_id", "text", storeDir)
  *     ()
  *   }.option("checkpointLocation", ck).start()
  * }}}
  *
  * Store layout under `storeDir` ([[AtomicStore]] crash contract, same
  * as [[IncrementalChunkStore]]; the two indexes are laid out by
  * [[BucketFanout]]):
  *  - `postings/` — (term, doc_id, tf), parquet, directory-partitioned
  *    by `bucket = pmod(xxhash64(term), fanout)` so a query's read is
  *    pruned to its own terms' buckets ([[BucketFanout.Postings]]);
  *  - `docstats/` — (doc_id, dl), partitioned by
  *    `dbucket = pmod(doc_id, fanout)` so admission's seen-check
  *    reads only the batch's own doc buckets ([[BucketFanout.DocStats]]);
  *  - `stats/` — one (anchor, n, dlsum) delta row per admitted batch,
  *    so a query's corpus aggregate (N, avgdl) reads O(batches) tiny
  *    rows instead of scanning the full docstats history; compaction
  *    folds it back to one row.
  *
  * Semantics: keep-FIRST per doc_id — a document is indexed the first
  * time its id is admitted; later arrivals of the same id (streaming
  * replays, re-crawls) are ignored. Ids must be unique WITHIN a batch
  * (enforced loudly — in-batch duplicates would silently merge two
  * texts under one id). Documents tokenizing to zero terms are not
  * admitted, mirroring the batch side (no dl row there either).
  *
  * Crash contract (at-least-once `foreachBatch` is idempotent): the
  * three appends are ordered postings → stats → docstats, and
  * `docstats` is the COMMIT RECORD — only once it lands does a replay
  * see the batch's ids as already admitted. A crash between any two
  * appends leaves the batch uncommitted, so the replay re-appends
  * everything: the duplicate postings rows are EXACT duplicates
  * (collapsed by the read-side `distinct` and by compaction), and the
  * duplicate stats row carries the same `anchor` (the min fresh
  * doc_id — unique per fresh set because keep-first makes fresh sets
  * disjoint), so reads fold stats by anchor. Compaction additionally
  * garbage-collects rows whose ids never committed (crashed batches
  * that were never replayed) and RECONCILES the stats row from the
  * docstats commit record. Each individual append is assumed
  * job-commit atomic (Spark's committer makes a partial multi-file
  * commit a narrow window, not an impossibility); if one does land
  * partially, the damage is bounded to a stats-delta overcount that
  * the next compaction repairs — never lost documents.
  *
  * Scale shape: per-batch cost ∝ batch + its doc buckets' stats (the
  * pruned anti-join), never the postings history; queries read the
  * query terms' posting buckets, the candidates' docstats buckets
  * (runtime dbucket pruning), and the O(batches) stats rows — no read
  * scales with the full history. Scoring and top-k are
  * [[graft.api.Graft.bm25TopK]] — numerically the same code as the
  * batch path, so the equality the spec pins cannot drift. */
object IncrementalBm25 {

  /** Anchor of the folded stats row compaction writes (below any real
    * doc id, so it can never collide with a batch's min-fresh-id). */
  private val FoldedAnchor = Long.MinValue

  private[streaming] val store = Admission.Store("admitBatch/bm25",
    Seq("postings", "docstats", "stats"), watches = Seq(Postings, DocStats))

  /** Admit one micro-batch: index every doc_id not yet in the store.
    * Returns per-doc accounting (id, dl, admitted) — `admitted = false`
    * rows are replays/re-crawls of already-indexed ids. Ids must be
    * unique within the batch (fails loudly otherwise). */
  def admitBatch(batch: DataFrame, id: String, text: String,
                 storeDir: String): DataFrame =
    admitBatchImpl(batch, id, text, storeDir, crashAfter = 0)

  /** Test seam: `crashAfter` injects a crash after the Nth append
    * (1 = postings, 2 = stats) to exercise the commit-record ordering. */
  private[streaming] def admitBatchImpl(batch: DataFrame, id: String, text: String,
      storeDir: String, crashAfter: Int): DataFrame =
    // loud in-batch duplicate-id guard: two rows sharing an id would
    // silently MERGE their texts under one doc (the tf groupBy spans both)
    store.admit(batch, storeDir, "IncrementalBm25.admitBatch", id) { (pinned, phase) =>
    val spark = batch.sparkSession
    val docstatsPath = DocStats.path(storeDir)
    val statsPath = s"$storeDir/stats"

    phase("reconcile-fanout")
    val termFan = Postings.reconcile(spark, storeDir)
    val docFan = DocStats.reconcile(spark, storeDir)

    // tf is cached too: it feeds BOTH the dl rollup and the postings
    // append — without the cache the tokenize + term-grain shuffle runs
    // twice per trigger
    val tf = graft.Frames.shared(pinned
      .select(col(id).cast("long").as("doc_id"),
        explode(graft.api.Graft.tokens(coalesce(col(text), lit("")))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dl = graft.Frames.shared(tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    // keep-first: ids already COMMITTED (present in docstats) are
    // replays — the read is pruned to the batch's own doc buckets
    val fresh =
      if (AtomicStore.exists(spark, docstatsPath)) {
        phase("bucket-discovery")
        val seen = DocStats.scan(spark, docstatsPath, DocStats.bucketsOf(dl, docFan))
          .select(col("doc_id"))
        dl.join(seen, Seq("doc_id"), "left_anti")
      } else dl
    // eager checkpoint: the appends below must not feed back into the
    // plan that decided freshness on a recompute
    phase("fresh-checkpoint")
    val freshIds = fresh.select(col("doc_id"), col("dl")).localCheckpoint(true)
    val fr = freshIds
      .agg(min(col("doc_id")).as("a"), count(lit(1)).as("n"), sum(col("dl")).as("s"))
      .head()

    if (fr.getLong(1) > 0L) {
      // 1. postings — on a crash-then-replay these rows appear twice as
      //    EXACT duplicates; reads distinct them, compaction removes them
      phase("postings-append")
      Postings.append(tf.join(freshIds.select(col("doc_id")), Seq("doc_id")), storeDir, termFan)
      if (crashAfter == 1) throw new InjectedCrash("after postings")
      // 2. stats delta — anchored by the min fresh id so a replayed
      //    duplicate folds away at read time
      import spark.implicits._
      phase("stats-append")
      Seq((fr.getLong(0), fr.getLong(1), fr.getLong(2))).toDF("anchor", "n", "dlsum")
        .coalesce(1).write.mode(SaveMode.Append).parquet(statsPath)
      if (crashAfter == 2) throw new InjectedCrash("after stats")
      // 3. docstats — the COMMIT RECORD: lands last, so an uncommitted
      //    batch is always fully re-appended by its replay
      phase("docstats-append")
      DocStats.append(freshIds, storeDir, docFan)
    }

    phase("result-checkpoint")
    dl.select(col("doc_id").as(id), col("dl"))
      .join(freshIds.select(col("doc_id").as(id), lit(true).as("admitted")), Seq(id), "left")
      .withColumn("admitted", coalesce(col("admitted"), lit(false)))
      .localCheckpoint(true)
    }

  /** Corpus aggregate (N, Σdl) from the stats deltas: fold replayed
    * duplicates by anchor, check each anchor against the docstats
    * COMMIT RECORD, then sum — O(batches-since-compaction) rows, never
    * the docstats history.
    *
    * The commit check closes the r11 drift window: a batch that
    * crashed between its stats and docstats appends and was never (or
    * not yet) replayed leaves an ORPHAN delta whose anchor — the
    * batch's min fresh doc_id — never committed; summing it would
    * inflate N/avgdl for every search until replay or compaction.
    * Anchors are collected driver-side (bounded: compaction folds the
    * log to the single [[FoldedAnchor]] row, which is the committed
    * fold of docstats itself and passes unchecked) and the docstats
    * probe is pruned to the anchors' dbuckets with doc_id pushdown, so
    * the check never scans the full history. Residual corner, repaired
    * at compaction: if the orphan's doc is later re-crawled as a NEW
    * batch's min fresh id, the two deltas share an anchor and the
    * first() fold keeps an arbitrary one — bounded to that one batch's
    * (n, dlsum), and the reconcile-from-docstats compaction erases it. */
  private def statsCorpus(spark: SparkSession, storeDir: String): DataFrame = {
    val folded = spark.read.parquet(s"$storeDir/stats")
      .groupBy(col("anchor")).agg(first(col("n")).as("n"), first(col("dlsum")).as("dlsum"))
    val real = folded.filter(col("anchor") =!= FoldedAnchor)
    val anchors = real.select(col("anchor")).collect().map(_.getLong(0))
    val checked =
      if (anchors.isEmpty || !AtomicStore.exists(spark, s"$storeDir/docstats")) real
      else {
        val docFan = DocStats.fanout(spark, storeDir)
        val dbuckets = anchors.map(a => math.floorMod(a, docFan.toLong).toInt).distinct
        val committed = DocStats.scan(spark, DocStats.path(storeDir), dbuckets)
          .filter(col("doc_id").isin(anchors.map(Long.box): _*))
          .select(col("doc_id").as("anchor"))
        real.join(committed, Seq("anchor"), "left_semi")
      }
    folded.filter(col("anchor") === FoldedAnchor).unionAll(checked)
      // coalesce: every delta being an orphan leaves zero rows to sum
      .agg(coalesce(sum(col("n")), lit(0L)).as("__n"),
        coalesce(sum(col("dlsum")), lit(0L)).as("__dlsum"))
  }

  /** Every admitted doc id (store entry point — rolls a crashed
    * compaction forward first). */
  def admittedDocs(spark: SparkSession, storeDir: String): DataFrame = {
    store.recover(spark, storeDir)
    if (AtomicStore.exists(spark, s"$storeDir/docstats"))
      spark.read.parquet(s"$storeDir/docstats").select(col("doc_id"))
    else spark.range(0).select(col("id").as("doc_id"))
  }

  /** BM25 top-k over everything admitted so far — identical output to
    * `Graft.bm25Search(admittedCorpus, ...)`: the statistics frames are
    * assembled from the store (postings pruned to the query terms'
    * buckets, docstats pruned to the candidates' dbuckets, N/avgdl from
    * the O(batches) stats deltas) and handed to the SAME scoring/top-k
    * core. No read scales with the full docstats history. */
  def search(spark: SparkSession, storeDir: String, queryTerms: Seq[String],
             k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "search needs at least one query term")
    store.recover(spark, storeDir)
    val docstatsPath = DocStats.path(storeDir)
    val postingsPath = Postings.path(storeDir)
    if (!AtomicStore.exists(spark, docstatsPath) ||
        !AtomicStore.exists(spark, postingsPath))
      return spark.range(0).select(col("id").as("doc_id"),
        lit(0.0).as("score"), col("id").as("rank"))
    val termFan = Postings.fanout(spark, storeDir)
    val qBuckets = queryTerms
      .map(t => math.floorMod(TermHash.xx64(t), termFan.toLong).toInt)
      .distinct
    // distinct kills the exact-duplicate rows a crash-then-replay leaves
    val qtfRaw = Postings.scan(spark, postingsPath, qBuckets)
      .filter(col("term").isin(queryTerms: _*))
      .select(col("term"), col("doc_id"), col("tf"))
      .distinct()
    // dl read pruned to the candidates' dbuckets (bounded driver-side
    // collect, ≤ the docstats fan-out — the admitBatch pattern)
    val candBuckets = DocStats.bucketsOf(qtfRaw, DocStats.fanout(spark, storeDir))
    if (candBuckets.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        lit(0.0).as("score"), col("id").as("rank"))
    val dl = DocStats.scan(spark, docstatsPath, candBuckets)
      .select(col("doc_id"), col("dl"))
    // drop postings of UNCOMMITTED docs (crashed batch not yet
    // replayed): docstats is the commit record, and the pruned dl
    // covers every candidate, so the semi-join is exact
    val qtf = qtfRaw.join(dl.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val dfreq = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // docstats exists, so stats does too: every batch appends stats
    // before its docstats commit record
    graft.api.Graft.bm25TopKPre(qtf, dfreq, dl, statsCorpus(spark, storeDir),
      "doc_id", k, k1, b)
  }

  /** The compaction policy ([[Admission]]) over both indexes; returns
    * true iff it compacted. */
  def maybeCompact(spark: SparkSession, storeDir: String,
      maxFilesPerBucket: Int = 32): Boolean =
    store.maybeCompact(spark, storeDir, maxFilesPerBucket)(compactStore(spark, storeDir))

  /** Compact all subs: postings/docstats to one file per non-empty
    * bucket, clustered by their read keys; stats RECONCILED to one row
    * recomputed from the docstats commit record (repairing any drift
    * the delta log picked up — see the in-line note). Also
    * garbage-collects rows of batches that crashed uncommitted and
    * were never replayed (ids absent from docstats). Crash-safe via
    * [[AtomicStore.swapIn]]. */
  def compactStore(spark: SparkSession, storeDir: String): Unit = graft.Frames.scope {
    store.recover(spark, storeDir)
    val committed =
      if (AtomicStore.exists(spark, s"$storeDir/docstats"))
        graft.Frames.shared(spark.read.parquet(s"$storeDir/docstats").select(col("doc_id")))
      else spark.range(0).select(col("id").as("doc_id"))
    Postings.compact(spark, storeDir,
      _.distinct().join(committed, Seq("doc_id"), "left_semi"))
    DocStats.compact(spark, storeDir, _.distinct())
    // stats are RECONCILED, not folded: recompute the single row from
    // the (just-compacted) docstats commit record. Folding the deltas
    // would preserve any drift the deltas picked up — e.g. a docstats
    // job commit that landed PARTIALLY (non-atomic multi-file rename)
    // splits one fresh set between committed and replayed, and the
    // replay's second delta double-counts the committed part. Between
    // compactions that window is open (appends are assumed job-commit
    // atomic, the store-wide assumption); compaction closes it.
    AtomicStore.swapIn(spark, storeDir, "stats") { (_, tmp) =>
      spark.read.parquet(s"$storeDir/docstats")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("dlsum"))
        .select(lit(FoldedAnchor).as("anchor"), col("n"), col("dlsum"))
        .coalesce(1).write.parquet(tmp)
    }
  }

  /** Marker for the injected-crash test seam. */
  private[streaming] final class InjectedCrash(where: String)
    extends RuntimeException(s"injected crash $where")
}

/** Driver-side xxhash64 of a UTF-8 string with Spark's seed (42) —
  * must equal `functions.xxhash64(col)` so the query-time bucket
  * pruning computes the same buckets the writer partitioned by. */
private[streaming] object TermHash {
  def xx64(s: String): Long = {
    val bytes = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes.getBaseObject, bytes.getBaseOffset, bytes.numBytes(), 42L)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DedupQueries
import graft.streaming.BucketFanout.{Bands, Docs}

/** Streaming NEAR-duplicate dedup: admit each arriving micro-batch's
  * documents against the full history of previously-admitted documents
  * — the ingest-time shape of MinHash+LSH dedup, for pipelines that
  * cannot re-run corpus-wide dedup on every crawl drop.
  *
  * Designed for `foreachBatch`:
  * {{{
  *   docsStream.writeStream.foreachBatch { (batch, _) =>
  *     IncrementalDedup.admitBatch(batch, "doc_id", "text", 0.8, storeDir)
  *     ()
  *   }.option("checkpointLocation", ck).start()
  * }}}
  *
  * Store layout under `storeDir` (both plain parquet, append-only,
  * laid out by [[BucketFanout]], whose fan-out starts at 32 and grows
  * with store size):
  *  - `docs/`  — admitted (doc_id, text), directory-partitioned by
  *    `dbucket = pmod(doc_id, fanout)` ([[BucketFanout.Docs]]) so the
  *    history verify fetches CANDIDATE texts from the candidates' own
  *    dbuckets instead of scanning the whole admitted table per trigger
  *  - `bands/` — admitted LSH band rows (doc_id, band, bandhash),
  *    directory-partitioned by `bucket = pmod(bandhash, fanout)`
  *    ([[BucketFanout.Bands]])
  *
  * Scale shape — per-batch cost is ∝ batch + candidates, NOT history:
  * the batch's band rows equi-join the PERSISTED band table (no
  * signature recomputation over history), and only candidate history
  * docs are re-shingled for the exact-Jaccard verify. Both the history
  * probe and the within-batch pairs are [[DedupQueries.bandCandidates]]
  * → [[DedupQueries.verifyJaccard]], the steps behind
  * [[graft.api.Graft.minhashDupes]]. The band index is
  * bucket-partitioned on a bandhash prefix, so each trigger reads ONLY
  * the directories for the batch's own buckets — static partition
  * pruning, an O(batch)-bounded subset of files, not an O(history)
  * scan. History grows append-only; the band table is the classic
  * disk-resident LSH index, so a 100 TB admitted corpus costs
  * (bands × docs) long-triples of storage and the per-batch join
  * shuffles only batch-sized band rows.
  *
  * Admission semantics (deterministic given batch boundaries):
  *  1. a new doc with a verified near-dup among ADMITTED history is
  *     rejected;
  *  2. survivors dedup within the batch — one canonical doc (min id)
  *     per within-batch duplicate cluster (connected components, so a
  *     chain a~b~c admits only a): [[graft.api.Graft.clusterDedup]]'s
  *     `kept` rule, the keeper [[IncrementalEmbedDedup]] uses too.
  * Micro-batch boundaries affect which witness rejects a doc — inherent
  * to any incremental dedup — but two admitted docs are NEVER verified
  * near-dups of each other, whatever the batching.
  *
  * foreachBatch is at-least-once: a replayed batch re-runs admission
  * against a store that already contains its admitted docs, so replayed
  * docs self-match (Jaccard 1.0 ≥ any threshold) and are rejected —
  * the store converges; readers should still `dropDuplicates(id)` for
  * the replay-during-append edge. */
object IncrementalDedup {

  /** Jobs labelled `admitBatch/<phase>` — the perfbench admit workload's
    * `streaming.phase.<phase>_ms` keys on these seven names. */
  private[streaming] val store =
    Admission.Store("admitBatch", Seq("docs", "bands"), watches = Seq(Bands))

  /** Run one admission step ([[Admission]]); appends admitted docs +
    * their band rows to the store and returns the admitted (id, text)
    * frame. */
  def admitBatch(batch: DataFrame, id: String, text: String,
      threshold: Double, storeDir: String): DataFrame =
    // two rows sharing an id would both survive within-batch
    // canonicalization (self-pairs are excluded) and double-append
    store.admit(batch, storeDir, "IncrementalDedup.admitBatch", id) { (pinned, phase) =>
    val spark = batch.sparkSession
    val docsPath = Docs.path(storeDir)
    val bandsPath = Bands.path(storeDir)

    // Reconcile layout first: size-adaptive fan-out growth, pre-manifest
    // detection — after this, `fanout` is BOTH what the persisted dirs
    // were bucketed with and what this batch buckets with, so probe
    // values always match dir values.
    phase("reconcile-fanout")
    val fanout = Bands.reconcile(spark, storeDir)
    val docFanout = Docs.reconcile(spark, storeDir)

    val newDocs = pinned.select(col(id).as("doc_id"), col(text).as("text"))
    // cached: reused for history verify AND the admitted band append, so
    // the CPU-bound signature kernel runs once per batch
    val newSigs = graft.Frames.shared(DedupQueries.signatures(newDocs, "doc_id", "text"))
    // also cached: the bucket-discovery collect below is its own action,
    // and bandsOf's posexplode would otherwise re-run for it before the
    // candidate join and the band append reuse the rows
    val newBands = graft.Frames.shared(DedupQueries.bandsOf(newSigs))
    // 1. history rejection: batch bands ⋈ persisted band index →
    //    candidate (new, seen) pairs → exact verify on shingles of the
    //    candidate subset only. The index read is pruned to the batch's
    //    own bucket directories (≤ fanout literals — bounded
    //    driver-side by construction, not by data size).
    val rejectedByHistory: DataFrame =
      if (AtomicStore.exists(spark, bandsPath)) {
        phase("bucket-discovery")
        val seenBands = Bands.scan(spark, bandsPath, Bands.bucketsOf(newBands, fanout))
        val cand = DedupQueries.bandCandidates(newBands, seenBands, "new_id", "seen_id").distinct()
          // candidates feed TWO consumers below (the dbucket discovery
          // collect and the verify join) — materialize once
          .localCheckpoint(true)
        // the candidate re-shingle reads ONLY the candidates' own
        // dbucket directories (bounded: ≤ docFanout literals), not the
        // whole admitted text table — the docs-store analog of the
        // band-index pruning (the unpruned join scanned all of docs/
        // per trigger, an O(history) read)
        val seenIds = cand.select(col("seen_id").as("doc_id"))
        val docsPruned = Docs.scan(spark, docsPath, Docs.bucketsOf(seenIds, docFanout))
        val seenSh = DedupQueries.shingleFrame(
          docsPruned.select(col("doc_id"), col("text")).join(seenIds.distinct(), Seq("doc_id")),
          "doc_id", "text")
        DedupQueries.verifyJaccard(cand, "new_id", "seen_id", newSigs, seenSh, threshold)
          .select(col("new_id").as("doc_id")).distinct()
          // eager checkpoint of the (tiny) rejected-id frame: both the
          // within-batch pair probe and the admitted build consume
          // survivors, and without this each re-runs the whole history
          // verify (band scan + candidate re-shingle + jaccard)
          .localCheckpoint(true)
      } else spark.range(0).select(col("id").as("doc_id"))

    // the rejected ids here and the keeper ids below are subsets of the
    // batch's ids, so both joins broadcast them: left to AQE, each starts
    // as a sort-merge join and pays its shuffle stages as extra jobs
    // before the runtime switch to broadcast
    val survivors = newDocs.join(broadcast(rejectedByHistory), Seq("doc_id"), "left_anti")

    // 2. within-batch canonicalization: near-dup pairs among survivors →
    //    connected clusters → clusterDedup's keepers. The pairs reuse the
    //    CACHED signatures/bands computed above — band hashes are a pure
    //    function of a doc's own signature, so restricting the cached
    //    rows to survivors is exactly minhashDupes(survivors) without a
    //    second kernel pass
    val sBands = newBands.join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
    // no .distinct() here: a pair colliding in several bands just
    // evaluates the (cheap, array-local) jaccard filter more than once
    // and dupClusters' own edges-distinct dedups — the distinct cost a
    // full exchange + AQE stage round per trigger for nothing
    val pairs = DedupQueries.verifyJaccard(
      DedupQueries.bandCandidates(sBands, sBands, "id_a", "id_b", Some(_ < _)),
      "id_a", "id_b", newSigs, newSigs, threshold)
    phase("within-batch-cc")
    val keep = graft.api.Graft.clusterDedup(survivors, "doc_id", pairs, "id_a", "id_b")
      .filter(col("kept")).select(col("doc_id"))
    // localCheckpoint (eager) truncates lineage BEFORE the store writes:
    // the admitted plan reads the store's current files, so a lazy
    // recompute after the appends below would see its own output
    phase("admitted-checkpoint")
    val admitted = survivors.join(broadcast(keep), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)

    // The two store appends are independent (different subdirs, both
    // inputs eagerly materialized above) and each pays a fixed cost
    // per non-empty bucket dir, one file each — ~0.5 s (docs) and
    // ~0.8 s (bands) per 500-doc trigger at 32 dirs on a 4-core host,
    // among the largest single stages of a trigger. Run them
    // CONCURRENTLY (guide §2.6): the commit constants overlap instead
    // of adding. Crash-ordering note: either append landing without
    // the other converges under replay exactly like the sequential
    // order did — docs-without-bands re-admits (exact-dup docs rows,
    // the documented dropDuplicates class), bands-without-docs finds
    // the band match but no text to verify against and re-admits
    // (exact-dup band rows, removed by compaction) — unlike the embed
    // store there is no over/under-bound asymmetry between the subs.
    // Job descriptions are thread-local: each append labels its own.
    graft.Jobs.awaitAll(Seq(
      () => {
        phase("docs-append")
        Docs.append(admitted, storeDir, docFanout)
      },
      () => {
        phase("bands-append")
        Bands.append(newBands.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi"),
          storeDir, fanout)
      }))
    admitted
    }

  /** The admitted corpus so far (empty frame if nothing admitted).
    * Rolls forward any crashed compaction first, so it is a store ENTRY
    * POINT under the single-operator contract: do not call concurrently
    * with a running [[compactStore]] (see its scaladoc for why). */
  def admittedDocs(spark: SparkSession, storeDir: String): DataFrame = {
    store.recover(spark, storeDir)
    if (AtomicStore.exists(spark, s"$storeDir/docs"))
      spark.read.parquet(s"$storeDir/docs").select(col("doc_id"), col("text"))
    else spark.range(0).select(col("id").as("doc_id"), lit("").as("text")).limit(0)
  }

  /** The compaction policy ([[Admission]]) over the band index;
    * returns true iff it compacted. */
  def maybeCompact(spark: SparkSession, storeDir: String,
      maxFilesPerBucket: Int = 32): Boolean =
    store.maybeCompact(spark, storeDir, maxFilesPerBucket)(compactStore(spark, storeDir))

  /** Compact the append-only store: every micro-batch appends its own
    * parquet files, so a long-running ingest accumulates
    * batches × partitions small files — the classic metadata killer at
    * scale. Rewrites docs/ and bands/ via a temp-dir + swap; a crash at
    * ANY point (mid-rewrite, between the two renames) is rolled forward
    * by the recovery on the next store operation, so the live store
    * always serves the pre-compaction content until the swap completes.
    *
    * Single-OPERATOR contract: pause every other store entry point —
    * `admitBatch` AND the readers (`admittedDocs`) — while compacting,
    * like any parquet compaction. The readers are included because they
    * too recover the store: a reader racing an in-flight compaction
    * cannot tell "crashed" from "running" and would delete the
    * in-progress `__compact_*` rewrite or rename `__old_*` back inside
    * the two-rename window, failing the compaction's second rename.
    * (Crash-vs-running is undecidable from the filesystem alone — a
    * liveness marker left by a crash would instead disable recovery
    * forever — so the contract, not a marker, carries this.)
    *
    * Bands and docs keep their bucket directory layouts at the
    * size-scheduled fan-out, ending at one file per non-empty bucket
    * with rows clustered by the read keys — so the per-batch pruned
    * reads open exactly one file per probed bucket. */
  def compactStore(spark: SparkSession, storeDir: String): Unit = {
    store.recover(spark, storeDir) // clears any crashed prior compaction
    Docs.compact(spark, storeDir)
    Bands.compact(spark, storeDir)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecMath.{cos12, float_dot}
import graft.ops.Ivf
import graft.streaming.BucketFanout.Vecs

/** Streaming EMBEDDING near-duplicate dedup: admit each arriving
  * micro-batch's vectors against the full history of previously-admitted
  * vectors — the ingest-time shape of IVF-blocked cosine dedup
  * ([[graft.api.Graft.embedNearDup]]), for pipelines that cannot re-run
  * corpus-wide dedup on every crawl drop. The embedding analog of
  * [[IncrementalDedup]]; same `foreachBatch` usage, same at-least-once
  * replay semantics (a replayed vector meets its admitted copy in its
  * home cell and is rejected).
  *
  * Store layout under `storeDir`:
  *  - `index/` — the [[graft.ops.Ivf.Index]] trained ONCE on the first
  *    batch ([[graft.ops.Ivf.save]] format) and amortized across every
  *    later batch: no per-trigger centroid training.
  *  - `vecs/`  — admitted (doc_id, vec, nrm, cell), directory-partitioned
  *    by `bucket = pmod(cell, fanout)`, append-only
  *    ([[BucketFanout.Vecs]]; the fan-out starts at 32 and grows with
  *    store size — a fan-out above nlist simply converges to one cell
  *    per directory, the pruned-read-optimal layout).
  *  - `radii/` — append-only (cell, radius) rows; the live per-cell
  *    radius is the MAX per cell, maintained by appending each admitted
  *    batch's home angles. Nlist-sized reads, never corpus-sized.
  *
  * Scale shape — per-batch cost is ∝ batch + candidates, NOT history:
  * the batch probes cells under the per-cell radius rule
  * ([[graft.ops.Ivf.assignWithinRadii]]) and equi-joins the PERSISTED
  * vector index on cell id; the read is pruned to the probed cells'
  * bucket directories (static partition pruning — an O(batch)-bounded
  * subset of files). No history vector is re-embedded, re-assigned, or
  * re-scanned outside the probed buckets.
  *
  * The trigger's decisions are driver id sets, as in
  * [[IncrementalDedup]]: the probed buckets (≤ fanout × input
  * partitions values, [[BucketFanout.Index.bucketsOf]]), the ids
  * history rejects (≤ the batch's ids × the probe join's partitions)
  * and the survivors that are not their within-batch cluster's keeper
  * ([[Admission.nonKeepers]]: ≤ [[graft.api.Graft.LocalEdgeCap]] + 1
  * pairs per pair partition, else the distributed fallback's ≤ batch
  * ids). The survivors and the admitted rows are the batch frames
  * minus a local set, so no frame after the history probe reads the
  * store.
  *
  * Completeness under a stale index: centroids never change after the
  * first batch, but the radius rule only needs `radii` to bound every
  * ADMITTED vector's home angle — maintained exactly by the per-batch
  * radii append. For any qualifying pair (new v, admitted b) with b
  * homed in cell c: θ(v,c) ≤ θ(v,b) + θ(b,c) ≤ acos(threshold) +
  * radius_c, so v always probes c. Drifting corpora inflate radii (more
  * probing, graceful degradation toward the distributed scan) — never
  * missed pairs, never a nested loop. */
object IncrementalEmbedDedup {

  private def clamp(t: Double): Double = math.max(-1.0, math.min(1.0, t))

  /** [[Admission]]'s declaration. `index/` is not a recovered sub: it
    * is never swapped, only written once, atomically enough via its
    * `_SUCCESS` marker (see [[indexReady]]). */
  private[streaming] val store =
    Admission.Store("admitBatch/embed", Seq("vecs", "radii"), watches = Seq(Vecs))

  /** The index bootstrap is complete only when the write committed: a
    * crash mid-save leaves a directory without `_SUCCESS`, and the
    * replayed first batch retrains over it (SaveMode.Overwrite clears
    * the partial output). */
  private def indexReady(spark: SparkSession, indexPath: String): Boolean =
    AtomicStore.exists(spark, s"$indexPath/_SUCCESS")

  /** Live per-cell radii over the ADMITTED corpus: max per cell over the
    * append-only radii rows. Nlist-sized collect — driver-safe by
    * construction. */
  private def liveRadii(spark: SparkSession, radiiPath: String, nlist: Int): Array[Double] = {
    val radii = new Array[Double](nlist)
    if (AtomicStore.exists(spark, radiiPath))
      spark.read.parquet(radiiPath)
        .groupBy(col("cell")).agg(max(col("radius")).as("r"))
        .collect().foreach(r => radii(r.getInt(0)) = r.getDouble(1))
    radii
  }

  /** Run one admission step ([[Admission]]); appends admitted vectors + their radii rows
    * to the store and returns the admitted (id, vec) frame.
    *
    * Admission semantics (deterministic given batch boundaries), exactly
    * [[IncrementalDedup.admitBatch]]'s with cosine ≥ threshold as the
    * near-dup relation:
    *  1. a new vector with a verified near-dup among ADMITTED history is
    *     rejected;
    *  2. survivors dedup within the batch — one canonical vector (min
    *     id) per within-batch duplicate cluster:
    *     [[graft.api.Graft.clusterDedup]]'s `kept` rule over
    *     [[graft.api.Graft.embedNearDup]]'s pairs, the keeper
    *     [[IncrementalDedup]] uses. */
  def admitBatch(batch: DataFrame, id: String, vec: String,
      threshold: Double, storeDir: String,
      ivf: Ivf.Params = Ivf.Params()): DataFrame =
    // two rows sharing an id would both survive within-batch
    // canonicalization (self-pairs are excluded) and double-append
    store.admit(batch, storeDir, "IncrementalEmbedDedup.admitBatch", id) { (pinned, phase) =>
    val spark = batch.sparkSession
    val vecsPath = Vecs.path(storeDir)
    val radiiPath = s"$storeDir/radii"
    val indexPath = s"$storeDir/index"

    val newVecs = pinned.select(col(id).as("doc_id"), col(vec).as("vec"))
    phase("empty-probe")
    if (newVecs.isEmpty) newVecs
    else {
    phase("reconcile-fanout")
    val fanout = Vecs.reconcile(spark, storeDir)

    // amortized index: trained once, on the first non-empty batch; all
    // radii live in radii/ (the saved radii are the train-time zeros)
    phase("index")
    val index =
      if (indexReady(spark, indexPath)) Ivf.load(spark, indexPath)
      else {
        val centroids = Ivf.trainCentroids(newVecs, "doc_id", "vec", ivf)
        val ix = Ivf.Index(centroids, new Array[Double](centroids.length))
        Ivf.save(spark, indexPath, ix)
        ix
      }
    val maxPairRad = math.acos(clamp(threshold))

    // home assignment once per batch (map-only kernel); reused for the
    // admitted append below — localCheckpoint so it runs once
    phase("home-assign")
    val home = Ivf.assign(newVecs, "doc_id", "vec", index.centroids, 1)
      .select(col("doc_id"), col("vec"), col("nrm"), col("cell"), col("cell_angle"))
      .localCheckpoint(true)

    // 1. history rejection: radius-rule probe → equi-join the persisted
    //    vector index on cell, pruned to the probed buckets' directories
    //    (≤ fanout literals — bounded driver-side by construction). The
    //    rejected ids come back as a driver set (≤ the batch's ids), so
    //    nothing after this reads the store again.
    val rejected: Set[Long] =
      if (AtomicStore.exists(spark, vecsPath)) {
        phase("bucket-discovery")
        val radii = liveRadii(spark, radiiPath, index.nlist)
        // shared: the bucket-discovery collect is its own action and the
        // probe kernel would otherwise re-run before the candidate join
        val probed = graft.Frames.shared(Ivf.assignWithinRadii(
            newVecs, "doc_id", "vec", index.centroids, radii, maxPairRad)
          .select(col("doc_id"), col("vec").as("__v"), col("nrm"), col("cell")))
        val hist = Vecs.scan(spark, vecsPath, Vecs.bucketsOf(probed, fanout))
          .select(col("doc_id").as("__hid"), col("vec").as("__hv"),
            col("nrm").as("__hnrm"), col("cell"))
        // a replayed vector meets its admitted copy in its home cell and
        // is rejected by id: a zero vector's cosine to itself is 0.0, so
        // only the id makes its replay a no-op too
        Admission.distinctOf[Long](probed.join(hist, Seq("cell"))
          .filter(col("doc_id") === col("__hid") ||
            cos12(float_dot(col("__v"), col("__hv")), col("nrm"), col("__hnrm"))
              >= threshold), col("doc_id"))(Encoders.scalaLong)
      } else Set.empty

    val survivors = Admission.minus(newVecs, rejected)

    // 2. within-batch canonicalization: near-dup pairs among survivors
    //    (reusing the amortized centroids — the indexed overload measures
    //    the survivors' own radii, so probing stays complete) →
    //    connected clusters → clusterDedup's keepers
    phase("within-batch-cc")
    val pairs = graft.api.Graft.embedNearDup(survivors, "doc_id", "vec", threshold, index)
    val nonKeepers = Admission.nonKeepers(survivors, "doc_id", pairs, "id_a", "id_b")
    // the admitted rows are the checkpointed home assignment minus two
    // driver sets, so their lineage never reads the store; the eager
    // localCheckpoint serves both appends and the caller
    phase("admitted-checkpoint")
    val admittedHome = Admission.minus(home, rejected ++ nonKeepers).localCheckpoint(true)

    // radii BEFORE vectors: a crash between the two appends must leave
    // radii as the OVER-bound side (rows whose vectors never landed only
    // cause extra probing; the reverse order could under-bound a cell's
    // radius and silently miss qualifying pairs on every later batch)
    phase("radii-append")
    admittedHome.groupBy(col("cell")).agg(max(col("cell_angle")).as("radius"))
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(radiiPath)
    phase("vecs-append")
    Vecs.append(admittedHome, storeDir, fanout)
    admittedHome.select(col("doc_id"), col("vec"))
    }
    }

  /** The admitted vectors so far (empty frame if nothing admitted).
    * A store ENTRY POINT under the single-operator contract (it
    * recovers the store): do not run concurrently with [[compactStore]]. */
  def admittedVecs(spark: SparkSession, storeDir: String): DataFrame = {
    store.recover(spark, storeDir)
    if (AtomicStore.exists(spark, Vecs.path(storeDir)))
      spark.read.parquet(Vecs.path(storeDir)).select(col("doc_id"), col("vec"))
    else spark.range(0).select(col("id").as("doc_id"),
      lit(null).cast("array<float>").as("vec"))
  }

  /** The compaction policy ([[Admission]]) over the vector index;
    * returns true iff it compacted. */
  def maybeCompact(spark: SparkSession, storeDir: String,
      maxFilesPerBucket: Int = 32): Boolean =
    store.maybeCompact(spark, storeDir, maxFilesPerBucket)(compactStore(spark, storeDir))

  /** Compact the append-only store: vecs/ collapses to one file per
    * non-empty bucket (rows clustered by cell — the pruned-read-optimal
    * layout); radii/ collapses to one row per cell. Crash-safe via the
    * same temp-and-swap + roll-forward as [[IncrementalDedup
    * .compactStore]], and under the same single-operator contract
    * (writers AND readers paused — see that method's scaladoc). */
  def compactStore(spark: SparkSession, storeDir: String): Unit = {
    store.recover(spark, storeDir)
    Vecs.compact(spark, storeDir)
    AtomicStore.swapIn(spark, storeDir, "radii") { (live, tmp) =>
      spark.read.parquet(live)
        .groupBy(col("cell")).agg(max(col("radius")).as("radius"))
        .coalesce(1).write.parquet(tmp)
    }
  }
}

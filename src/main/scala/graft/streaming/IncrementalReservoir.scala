package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft

/** Incremental weighted reservoir sampling per stratum — a persisted
  * running sample of an unbounded ingest stream: after every
  * micro-batch the store holds EXACTLY the k rows per stratum that
  * [[graft.api.Graft.weightedSamplePerStratum]] would select from
  * everything that has ever arrived. That equivalence is by
  * construction, not approximation: the A-Res selection key
  * (ln(u)/w, [[graft.api.Graft.aresKey]]) is a deterministic function
  * of (id, weight), so "top-k by key over the union" can be maintained
  * as "top-k by key over (previous top-k ∪ batch)" — evicted rows can
  * never re-enter, arrival order is irrelevant, and a replayed batch
  * (foreachBatch is at-least-once) reproduces the store byte-for-byte.
  *
  * Designed for `foreachBatch`:
  * {{{
  *   IncrementalReservoir.init(spark, storeDir)
  *   docsStream.writeStream.foreachBatch { (batch, _) =>
  *     IncrementalReservoir.admitBatch(batch, "lang", "doc_id", "n_chars",
  *       k = 1000, storeDir)
  *     ()
  *   }.option("checkpointLocation", ck).start()
  * }}}
  *
  * Store layout under `storeDir`: `sample/` — one parquet table
  * (stratum, id, weight, __key, rank), bounded at |strata|·k rows
  * forever. The per-stratum rank is PERSISTED at admission time (it
  * falls out of the top-k cut for free) so [[current]] is a plain
  * scan — no rank window over the store on the read path.
  * Maintenance is crash-safe through [[AtomicStore.swapIn]] (temp dir +
  * two renames, rolled forward by the [[Admission]] step and by every
  * reader), under the store's single-operator contract.
  *
  * Scale shape: per trigger, the batch is keyed (shuffle-free
  * projection), unioned with the |strata|·k-row store, and cut by the
  * same WindowGroupLimit top-k-per-stratum plan as the batch operator —
  * per-batch cost is ∝ batch + |strata|·k, independent of how much
  * history the stream has seen. The store never grows, so unlike the
  * dedup stores there is nothing to compact. */
object IncrementalReservoir {

  private val Sub = "sample"

  /** Nothing to compact (the store never grows), so no watched index. */
  private[streaming] val store = Admission.Store("admitBatch/reservoir", Seq(Sub))

  /** Create an empty store. Call once before streaming starts. */
  def init(spark: SparkSession, storeDir: String): Unit = {
    import spark.implicits._
    if (!AtomicStore.exists(spark, s"$storeDir/$Sub"))
      Seq.empty[(String, Long, Double, Double, Long)]
        .toDF("stratum", "id", "weight", "__key", "rank")
        .write.mode(SaveMode.ErrorIfExists).parquet(s"$storeDir/$Sub")
  }

  /** Fold one micro-batch into the store; returns the updated sample
    * (stratum, id, weight, rank) — identical to
    * [[graft.api.Graft.weightedSamplePerStratum]] over every row ever
    * admitted. Non-positive weights are excluded (never sampleable). */
  def admitBatch(batch: DataFrame, stratum: String, id: String, weight: String,
      k: Int, storeDir: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // no key guard: exact re-offers are fine, conflicting ones are
    // caught by requireConsistent below
    store.admit(batch, storeDir, "IncrementalReservoir.admitBatch") { (pinned, phase) =>
    val spark = batch.sparkSession
    val live = s"$storeDir/$Sub"
    val keyed = pinned
      .filter(col(weight).cast("double") > 0.0d)
      .select(col(stratum).cast("string").as("stratum"),
        col(id).cast("long").as("id"),
        col(weight).cast("double").as("weight"),
        Graft.aresKey(col(id), col(weight)).as("__key"))
    // exact re-offers (replays) are identical rows by contract; a
    // CONFLICTING weight for a (stratum, id) — in the batch or against
    // the LIVE store rows — would be resolved arbitrarily by
    // dropDuplicates, so it fails loudly instead (store side is ≤ k
    // rows per stratum). Scope: the guard cannot see EVICTED ids (the
    // store keeps only the top-k), so a conflicting re-offer of an
    // evicted id is undetectable without remembering every id ever
    // seen — it re-enters on its new key. Keep weights value-derived
    // upstream and that case cannot arise.
    phase("requireConsistent")
    Admission.requireConsistent(
      spark.read.parquet(live).select(col("stratum"), col("id"), col("weight"))
        .unionByName(keyed.select(col("stratum"), col("id"), col("weight"))),
      "IncrementalReservoir.admitBatch", "weight", "stratum", "id")
    phase("rebuild")
    val next = spark.read.parquet(live)
      .select(col("stratum"), col("id"), col("weight"), col("__key"))
      .unionByName(keyed)
      // a replayed batch re-offers rows already in the store: the key is
      // value-derived, so copies are identical — keep one
      .dropDuplicates("stratum", "id")
      // rank ≤ k plans as a map-side WindowGroupLimit pre-prune; the
      // rank is PERSISTED so the read path never re-sorts the store
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("stratum"))
          .orderBy(col("__key").desc, col("id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .localCheckpoint(true) // cut lineage: the swap deletes the input files
    phase("swap")
    AtomicStore.swapIn(spark, storeDir, Sub) { (_, tmp) =>
      next.write.parquet(tmp)
    }
    phase("read-back")
    current(spark, storeDir)
    }
  }

  /** The store's sample as (stratum, id, weight, rank) — a plain scan
    * of the persisted admission state, no window on the read path. */
  def current(spark: SparkSession, storeDir: String): DataFrame = {
    store.recover(spark, storeDir)
    spark.read.parquet(s"$storeDir/$Sub")
      .select(col("stratum"), col("id"), col("weight"), col("rank"))
  }
}

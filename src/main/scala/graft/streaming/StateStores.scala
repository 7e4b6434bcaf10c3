package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store deployment knobs for the stateful streaming operators.
  *
  * The default HDFSBackedStateStoreProvider keeps every partition's
  * state map on the executor HEAP — fine for small keyed state, but a
  * 100 TB stream with millions of live keys (sessions, dedup horizons)
  * needs state that spills off-heap and snapshots incrementally. That
  * is RocksDB: state lives in native memory + local SST files, with
  * changelog checkpointing writing only per-batch deltas to the
  * checkpoint location instead of full snapshots.
  *
  * The provider is a session-level SQL conf read at query START, so set
  * it before `writeStream.start()` (existing running queries keep their
  * provider). All graft streaming operators are provider-agnostic;
  * RocksDBStateSpec runs the dedup + custom-state sessionizer against
  * RocksDB to pin that, and RocksDBArmsSpec pins RocksDB==default
  * parity for the other five keyed-state arms (SFT session assembly,
  * best-of-N, GRPO advantages, the RL-metrics monitor, domain quota).
  */
object StateStores {

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The session conf that selects RocksDB state with changelog
    * checkpointing (per-batch deltas instead of full SST re-uploads at
    * every commit). The gate's SFT binding scopes exactly these keys to
    * its own query start and restores what it found. */
  val RocksDBConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDBProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Switch subsequently-started streaming queries in this session to
    * [[RocksDBConf]]. Returns the session for chaining. This mutates
    * SESSION-wide conf: queries already running keep the provider they
    * latched at start. */
  def useRocksDB(spark: SparkSession): SparkSession = {
    RocksDBConf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** Restore the Spark default (heap-backed) provider. */
  def useDefault(spark: SparkSession): SparkSession = {
    RocksDBConf.foreach { case (k, _) => spark.conf.unset(k) }
    spark
  }
}

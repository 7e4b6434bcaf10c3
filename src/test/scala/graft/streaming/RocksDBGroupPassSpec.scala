package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkEntry, SparkTestBase}

/** The WHOLE 13-arm streaming gate group run under RocksDB (VERDICT
  * r17 item 7): RocksDBArmsSpec pins kernel-level RocksDB==default
  * parity arm by arm, but the 100 TB deployment posture is the one
  * CONCURRENT group pass — so this spec runs the full gate group once
  * on the default provider and once with RocksDB + changelog
  * checkpointing set session-wide, and requires every arm's rows to be
  * identical. A listener collects per-query state-operator metrics to
  * prove the provider really served the stateful arms (a silently
  * ignored conf would pass a rows-only comparison).
  *
  * Note the SFT arm's gate binding sets RocksDB for ITSELF in both
  * passes (its documented posture) and then restores whatever provider
  * the session had, so in the RocksDB pass every arm built after it
  * still starts on RocksDB, and in the default pass none does. */
class RocksDBGroupPassSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val leader = "q_streaming_best_of_n"
  private val arms = SparkEntry.queries.keys.filter(_.startsWith("q_streaming_")).toSeq.sorted

  /** Runs one full group pass; returns (rows per arm, the set of query
    * ids that reported stateful progress, the subset of those whose
    * state store reported rocksdb counters). */
  private def pass(): (Map[String, Set[String]], Set[String], Set[String]) = {
    val stateful = mutable.Set[String]()
    val rocks = mutable.Set[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.stateOperators.nonEmpty) synchronized {
          stateful += e.progress.id.toString
          val ks = e.progress.stateOperators.head.customMetrics.keySet
          val b = Set.newBuilder[String]; ks.forEach(k => b += k)
          if (b.result().exists(_.startsWith("rocksdb"))) rocks += e.progress.id.toString
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      // the leader always replays the whole group; non-leaders then
      // return that pass's deposits (calling the leader again would
      // start ANOTHER full pass)
      val leaderRows = SparkEntry.queries(leader)(spark, dir)
        .collect().map(_.toString).toSet
      val rest = arms.filterNot(_ == leader).map { a =>
        a -> SparkEntry.queries(a)(spark, dir).collect().map(_.toString).toSet
      }
      // progress events are delivered async; drain briefly
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (System.nanoTime() < deadline && listener.synchronized(stateful.isEmpty))
        Thread.sleep(200)
      (rest.toMap + (leader -> leaderRows),
        listener.synchronized(stateful.toSet), listener.synchronized(rocks.toSet))
    } finally spark.streams.removeListener(listener)
  }

  test("full gate group pass: RocksDB rows == default rows, provider really served") {
    assert(arms.size === 13, s"gate group changed size: $arms")
    val (defaultRows, defaultStateful, defaultRocks) = pass()
    // the SFT binding runs on RocksDB by design in EVERY pass; the
    // other stateful arms must be on the default provider here
    assert(defaultStateful.size > defaultRocks.size,
      "default pass: expected heap-backed stateful arms besides the SFT binding")
    StateStores.useRocksDB(spark)
    try {
      val (rocksRows, rocksStateful, rocksRocks) = pass()
      assert(rocksStateful.nonEmpty && rocksStateful === rocksRocks,
        s"rocksdb pass: ${rocksStateful.size} stateful queries but only " +
          s"${rocksRocks.size} on rocksdb — provider conf partially ignored")
      assert(rocksStateful.size >= 5,
        s"expected >= 5 stateful arms in the group, saw ${rocksStateful.size}")
      for (a <- arms) {
        assert(rocksRows(a) === defaultRows(a),
          s"$a: rows diverge between RocksDB and default group passes")
        assert(rocksRows(a).nonEmpty || defaultRows(a).isEmpty)
      }
      assert(arms.exists(a => defaultRows(a).nonEmpty),
        "fixture produced no rows at all — vacuous parity")
    } finally StateStores.useDefault(spark)
  }
}

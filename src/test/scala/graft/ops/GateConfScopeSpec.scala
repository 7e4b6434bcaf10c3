package graft.ops

import java.nio.file.{Files, Path, Paths}

import graft.SparkTestBase
import graft.streaming.StateStores

/** The gate's call contract and its conf scoping, each on a fresh copy
  * of the sf0.001 fixture: a `dir` that a group pass already ran on in
  * this JVM would hand every non-leader binding that pass's rows and
  * build nothing.
  *
  * Call contract: a non-leader arm called before any pass on its dir
  * runs solo (one query, its own); the leader, qStreamingBestOfN, runs
  * all thirteen arms as one pass; a non-leader called after that
  * starts no query and returns the same rows as its solo run.
  *
  * Conf scoping: the SFT binding scopes its RocksDB state-store conf,
  * and the gate its shuffle width, to the queries they start: the
  * caller's session must read back exactly the values it had before
  * the call — a session-wide RocksDB provider stays RocksDB, an unset
  * provider stays unset, and spark.sql.shuffle.partitions keeps its
  * value. qStreamingSft takes its solo path here. */
class GateConfScopeSpec extends SparkTestBase {

  private val keys = Seq(
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    "spark.sql.shuffle.partitions")

  private def copyFixture(): Path = {
    val src = Paths.get("/root/testdata/sf0.001")
    val dst = Files.createTempDirectory("gate-conf-")
    val ls = Files.list(src)
    try ls.forEach(p => Files.copy(p, dst.resolve(p.getFileName))) finally ls.close()
    dst
  }

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val ls = Files.list(p)
      try ls.forEach(rm) finally ls.close()
    }
    Files.deleteIfExists(p); ()
  }

  test("qStreamingSft leaves the caller's provider and shuffle width as it found them") {
    val dir = copyFixture()
    def sftKeepsConf(): Unit = {
      val before = keys.map(k => k -> spark.conf.getAll.get(k))
      assert(ConnectorQueries.qStreamingSft(spark, dir.toString).count() > 0)
      assert(keys.map(k => k -> spark.conf.getAll.get(k)) === before)
    }
    try {
      StateStores.useRocksDB(spark)
      try sftKeepsConf() finally StateStores.useDefault(spark)
      sftKeepsConf()
    } finally rm(dir)
  }

  test("a non-leader arm runs solo before any pass, the leader starts all " +
      "thirteen, and a later non-leader call starts nothing and returns its solo rows") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    // onQueryStarted runs synchronously inside start(), so the count is
    // complete when the binding returns
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // (sorted rows, queries started) of one binding call
    def call(arm: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): (Seq[String], Int) = {
      val before = started.get()
      val rows = arm(spark, dir).collect().map(_.toString).sorted.toSeq
      (rows, started.get() - before)
    }
    val dir = copyFixture()
    spark.streams.addListener(listener)
    try {
      val (solo, soloStarts) = call(ConnectorQueries.qStreamingKmv, dir.toString)
      assert(soloStarts === 1, "a non-leader's solo run must start exactly its own query")
      assert(solo.nonEmpty)
      val (_, passStarts) = call(ConnectorQueries.qStreamingBestOfN, dir.toString)
      assert(passStarts === 13, "the leader's pass must start every gate arm")
      val (fromPass, lookupStarts) = call(ConnectorQueries.qStreamingKmv, dir.toString)
      assert(lookupStarts === 0, "a non-leader after the pass must start no query")
      assert(fromPass === solo, "the pass's rows differ from the arm's solo rows")
    } finally {
      spark.streams.removeListener(listener)
      rm(dir)
    }
  }
}

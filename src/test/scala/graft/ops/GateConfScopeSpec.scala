package graft.ops

import java.nio.file.{Files, Path, Paths}

import graft.SparkTestBase
import graft.streaming.StateStores

/** The gate's SFT binding scopes its RocksDB state-store conf, and the
  * gate its shuffle width, to the queries they start: the caller's
  * session must read back exactly the values it had before the call —
  * a session-wide RocksDB provider stays RocksDB, an unset provider
  * stays unset, and spark.sql.shuffle.partitions keeps its value.
  *
  * The tables are a fresh copy of the sf0.001 fixture: a `dir` that a
  * group pass already ran on in this JVM would hand qStreamingSft the
  * leader's deposit and build nothing, so the binding under test must
  * take its solo path here. */
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
}

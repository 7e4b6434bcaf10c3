package graft.ops

import graft.SparkTestBase

/** The streaming KMV gate binding: the sketch's associative
  * union-then-trim merge makes the streamed estimate bit-identical to
  * the batch aggregate, whatever the micro-batching. */
class StreamingGateSpec extends SparkTestBase {

  test("streaming KMV estimate is bit-identical to the batch sketch") {
    val dir = "/root/testdata/sf0.001"
    val s = ConnectorQueries.qStreamingKmv(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = CoreQueries.qDistinctKmv(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s == b, s"streamed $s != batch $b")
    assert(s.nonEmpty && !s.contains("flush"))
  }

  test("group pass: the leader's shared AvailableNow run deposits every " +
      "member's rows, identical to the arm contracts") {
    val dir = "/root/testdata/sf0.001"
    // sessions group — leader runs all five arms in one concurrent pass
    val bofn = ConnectorQueries.qStreamingBestOfN(spark, dir)
    assert(bofn.count() > 0, "leader arm returned no rows")
    // kmv through the DEPOSIT path keeps the bit-identical-to-batch
    // contract the solo test pins
    val s = ConnectorQueries.qStreamingKmv(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = CoreQueries.qDistinctKmv(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s == b, s"deposited kmv $s != batch $b")
    assert(ConnectorQueries.qStreamingSessionize(spark, dir).count() > 0)
    assert(ConnectorQueries.qStreamingRlMetrics(spark, dir).count() > 0)
    // sft ran inside the group under the RocksDB state store binding
    assert(ConnectorQueries.qStreamingSft(spark, dir).count() > 0)
    // and the provider conf was scoped to that one query, not leaked
    // (unset restores Spark's HDFS-backed default)
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")),
      "RocksDB provider conf leaked out of the sft binding")

    // docs group — reservoir through the deposit path keeps the
    // byte-identical-to-batch A-Res contract
    val quota = ConnectorQueries.qStreamingDomainQuota(spark, dir)
    assert(quota.count() > 0)
    val res = ConnectorQueries.qStreamingReservoir(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batchRes = graft.api.Graft.weightedSamplePerStratum(
        Tables.documents(spark, dir), "lang", "doc_id", "n_chars", 20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(res == batchRes, "deposited reservoir != batch A-Res sample")
    assert(ConnectorQueries.qStreamingPsi(spark, dir).count() > 0)

    // docstext group — admission store arms through one shared pass
    val bm25 = ConnectorQueries.qStreamingBm25(spark, dir)
    assert(bm25.count() > 0)
    assert(ConnectorQueries.qStreamingNeardup(spark, dir).count() > 0)
    assert(ConnectorQueries.qStreamingChunks(spark, dir).count() > 0)
    assert(ConnectorQueries.qStreamingDecontam(spark, dir).count() > 0)
  }

  test("runArms: a failed arm is rethrown only after every other arm has " +
      "stopped, so no stream outlives the pass") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.{lit, raise_error}
    def arm(fail: Boolean): (SparkSession, String) => ConnectorQueries.Started = (s, _) => {
      val rate = s.readStream.format("rate").option("rowsPerSecond", "100").load()
      val q = (if (fail) rate.select(raise_error(lit("arm failed"))) else rate)
        .writeStream.format("noop").start()
      (q, () => s.emptyDataFrame)
    }
    val timeoutKey = "spark.graft.gate.timeoutMs"
    val found = spark.conf.getOption(timeoutKey)
    // the healthy arm never terminates on its own: the pass ends with
    // its await timing out
    spark.conf.set(timeoutKey, "5000")
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        ConnectorQueries.runArms(spark, "", Seq("fails" -> arm(fail = true),
          "streams" -> arm(fail = false)))
      }
      assert(e.getMessage.contains("arm failed"), e.getMessage)
      assert(spark.streams.active.isEmpty,
        s"streams still running after the pass threw: ${spark.streams.active.map(_.id).toSeq}")
    } finally {
      spark.streams.active.foreach(_.stop())
      found.fold(spark.conf.unset(timeoutKey))(spark.conf.set(timeoutKey, _))
    }
  }

  test("runArms: every job an arm's fetch runs is labelled gate/<arm>/fetch") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.SparkSession
    val armKey = "graft.test.fetchArm"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def get(k: String) = p.flatMap(q => Option(q.getProperty(k))).getOrElse("")
        jobs.add(get(armKey) -> get("spark.job.description"))
      }
    }
    // an arm whose stream is already stopped, so its await returns at
    // once; its fetch tags its thread with the arm and runs jobs
    def arm(name: String): (SparkSession, String) => ConnectorQueries.Started = (s, _) => {
      val q = s.readStream.format("rate").load().writeStream.format("noop").start()
      q.stop()
      (q, () => {
        s.sparkContext.setLocalProperty(armKey, name)
        s.range(100).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k")).count()
          .collect()
        s.emptyDataFrame
      })
    }
    val marker = "gate-fetch-marker"
    spark.sparkContext.addSparkListener(listener)
    try {
      ConnectorQueries.runArms(spark, "", Seq("a" -> arm("a"), "b" -> arm("b")))
      // listener events arrive in job order: once the marker job's start
      // is seen, every fetch job's start has been delivered too
      spark.sparkContext.setJobDescription(marker)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def seen = jobs.toArray(Array.empty[(String, String)]).toSeq
      while (!seen.exists(_._2 == marker) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.exists(_._2 == marker), "listener never saw the marker job")
      val fetched = seen.filter(_._1.nonEmpty)
      assert(fetched.map(_._1).toSet === Set("a", "b"), s"fetch jobs seen: $fetched")
      assert(fetched.forall { case (a, d) => d == s"gate/$a/fetch" },
        s"a fetch job ran without its arm's label: $fetched")
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}

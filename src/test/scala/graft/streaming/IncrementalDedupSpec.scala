package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sources.FileStreamClient

/** Incremental (micro-batch) near-dup dedup against accumulated
  * history: admitted docs form the store; later arrivals that near-dup
  * ANY admitted doc are rejected — across batch boundaries, through a
  * real dis-source stream. */
class IncrementalDedupSpec extends SparkTestBase {

  // 20-word base docs; a near-dup appends one word (19 of 20 shared
  // 3-shingles ⇒ Jaccard 18/19 ≈ 0.95 ≥ 0.8), distinct docs share
  // nothing
  private val baseA = (1 to 20).map(i => s"a$i").mkString(" ")
  private val baseB = (1 to 20).map(i => s"b$i").mkString(" ")
  private val docs = Seq(
    1L -> baseA,            // batch 1: canonical A
    2L -> (baseA + " ax"),  // batch 1: within-batch dup of A → cluster keeper drops it
    3L -> baseB,            // batch 1: canonical B
    4L -> (baseA + " ay"),  // batch 2: history dup of A → rejected by store
    5L -> (1 to 20).map(i => s"c$i").mkString(" "), // batch 2: novel C
    6L -> (baseB + " by")   // batch 2: history dup of B → rejected by store
  )

  test("streamed batches admit one canonical doc per duplicate family, " +
      "rejecting later near-dups against the persisted store") {
    val root = Files.createTempDirectory("incdedup-")
    val client = new FileStreamClient(root)
    client.createStream("docs", 1) // one partition ⇒ deterministic batch split
    docs.foreach { case (id, text) =>
      client.append("docs", 0, null,
        s"""{"doc_id":$id,"text":"$text"}""".getBytes("UTF-8"))
    }
    val store = Files.createTempDirectory("incdedup-store-").toString

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.format("dis")
      .option("client.root", root.toString).option("stream", "docs")
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", "3") // docs 1-3 then 4-6
      .load()
      .select(from_json(col("value").cast("string"), schema).as("d"))
      .select(col("d.*"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalDedup.admitBatch(batch, "doc_id", "text", 0.8, store)
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("incdedup-ck-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    val admitted = IncrementalDedup.admittedDocs(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(1L, 3L, 5L),
      s"admitted $admitted — expected canonical A, B and novel C only")

    // invariant: no two ADMITTED docs are verified near-dups
    val admittedPairs = graft.api.Graft.minhashDupes(
      IncrementalDedup.admittedDocs(spark, store), "doc_id", "text", 0.8).count()
    assert(admittedPairs === 0L, "store contains a near-dup pair")

    // band index stays consistent with the docs store
    val bandDocs = spark.read.parquet(s"$store/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandDocs === admitted, "band index out of sync with docs store")

    // a replayed batch is a no-op: every doc self-matches the store
    val replay = IncrementalDedup.admitBatch(
      spark.createDataFrame(docs.take(3).map(d => (d._1, d._2))).toDF("doc_id", "text"),
      "doc_id", "text", 0.8, store)
    assert(replay.count() === 0L, "replay re-admitted docs")
    assert(IncrementalDedup.admittedDocs(spark, store).count() === 3L)
  }

  test("a restarted stream resumes from its checkpoint and keeps rejecting " +
      "against the store built before the restart") {
    val root = Files.createTempDirectory("incdedup-rs-")
    val client = new FileStreamClient(root)
    client.createStream("docs", 1)
    val store = Files.createTempDirectory("incdedup-rs-store-").toString
    val ck = Files.createTempDirectory("incdedup-rs-ck-").toString

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def runOnce(): Unit = {
      val q = spark.readStream.format("dis")
        .option("client.root", root.toString).option("stream", "docs")
        .option("startingOffsets", "earliest")
        .option("maxRecordsPerTrigger", "2")
        .load()
        .select(from_json(col("value").cast("string"), schema).as("d"))
        .select(col("d.*"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          IncrementalDedup.admitBatch(batch, "doc_id", "text", 0.8, store)
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
    }

    def feed(id: Long, text: String): Unit =
      client.append("docs", 0, null, s"""{"doc_id":$id,"text":"$text"}""".getBytes("UTF-8"))

    // run 1: admit A and B
    feed(1L, baseA); feed(2L, baseB)
    runOnce()
    assert(IncrementalDedup.admittedDocs(spark, store)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))

    // run 2 (the restart): near-dups of A and B plus a novel doc arrive;
    // the resumed query must not re-read offsets 0-1 and must reject the
    // dups against the store persisted by run 1
    feed(3L, baseA + " az"); feed(4L, (1 to 20).map(i => s"d$i").mkString(" "))
    feed(5L, baseB + " bz")
    runOnce()
    assert(IncrementalDedup.admittedDocs(spark, store)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))

    // compaction: identical content, fewer files, admission still works
    def parquetFiles(sub: String): Int = IncrementalDedupSpec.walkParquet(s"$store/$sub").size
    val beforeDocs = parquetFiles("docs")
    val beforeBands = parquetFiles("bands")
    IncrementalDedup.compactStore(spark, store)
    // docs AND bands collapse to ONE file per non-empty bucket
    // directory (the pruned-read-optimal layout; docs are dbucket-
    // partitioned since the round-17 candidate-fetch pruning)
    val bucketDirs = new java.io.File(s"$store/bands").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    val docBucketDirs = new java.io.File(s"$store/docs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("dbucket="))
    assert(parquetFiles("docs") === docBucketDirs && parquetFiles("bands") === bucketDirs,
      s"docs ${parquetFiles("docs")} (was $beforeDocs) over $docBucketDirs dbuckets, " +
        s"bands ${parquetFiles("bands")} over $bucketDirs buckets (was $beforeBands)")
    assert(parquetFiles("bands") <= beforeBands)
    assert(IncrementalDedup.admittedDocs(spark, store)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    // rejection against the compacted band index still works
    val post = IncrementalDedup.admitBatch(
      spark.createDataFrame(Seq((9L, baseA + " aq"))).toDF("doc_id", "text"),
      "doc_id", "text", 0.8, store)
    assert(post.count() === 0L, "compacted store failed to reject a near-dup")
  }

  test("streaming crawl ingest: HTML extract → code routing → near-dup " +
      "admission composes per micro-batch against the persisted store") {
    // Raw pages: families share extracted BODY text while differing in
    // script/comment blocks (the dup is only visible AFTER extraction);
    // one page is code and must be routed out before admission.
    val bodyA = (1 to 20).map(i => s"a$i").mkString(" ")
    val bodyB = (1 to 20).map(i => s"b$i").mkString(" ")
    def page(id: Long, body: String) =
      s"<html><!-- crawl $id --><head><script>var p = $id;</script></head>" +
        s"<body><p>$body</p></body></html>"
    val pages = Seq(
      1L -> page(1, bodyA),            // batch 1: canonical A
      2L -> page(2, bodyA + " ax"),    // batch 1: extracted near-dup of A
      3L -> page(3, bodyB),            // batch 1: canonical B
      4L -> page(4, "x = 1; y = 2; z = 3;"), // batch 2: code → routed out
      5L -> page(5, bodyB + " bx"),    // batch 2: history near-dup of B
      6L -> page(6, (1 to 20).map(i => s"c$i").mkString(" "))) // batch 2: novel

    val root = Files.createTempDirectory("crawl-ingest-")
    val client = new FileStreamClient(root)
    client.createStream("pages", 1)
    pages.foreach { case (id, html) =>
      client.append("pages", 0, null,
        s"""{"page_id":$id,"html":"${html.replace("\"", "\\\"")}"}""".getBytes("UTF-8"))
    }
    val store = Files.createTempDirectory("crawl-ingest-store-").toString

    val schema = StructType(Seq(
      StructField("page_id", LongType), StructField("html", StringType)))
    val q = spark.readStream.format("dis")
      .option("client.root", root.toString).option("stream", "pages")
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", "3")
      .load()
      .select(from_json(col("value").cast("string"), schema).as("d"))
      .select(col("d.*"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the batch-level shape of the crawl chain: extract, route
        // code away, admit prose against all prior history
        val text = graft.api.Graft.htmlExtract(batch, "page_id", "html")
        val prose = text.join(
          graft.api.Graft.codeDetect(text, "page_id", "text")
            .filter(col("is_code") === 0L).select("page_id"),
          "page_id")
        IncrementalDedup.admitBatch(prose, "page_id", "text", 0.8, store)
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("crawl-ingest-ck-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    val admitted = IncrementalDedup.admittedDocs(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(1L, 3L, 6L),
      s"admitted $admitted — expected canonical A, canonical B, novel C")
    // the admitted store holds EXTRACTED text (no markup survived)
    val texts = IncrementalDedup.admittedDocs(spark, store)
      .collect().map(_.getString(1))
    assert(texts.forall(t => !t.contains("<") && !t.contains("crawl")),
      s"markup leaked into the store: ${texts.toSeq}")
  }

  private def doc(i: Long, prefix: String): (Long, String) =
    i -> (1 to 20).map(j => s"$prefix${i}w$j").mkString(" ")

  private def admit(pairs: Seq[(Long, String)], store: String) =
    IncrementalDedup.admitBatch(
      spark.createDataFrame(pairs).toDF("doc_id", "text"),
      "doc_id", "text", 0.8, store)

  test("a batch's band-index read is pruned to its own bucket directories " +
      "(strict subset of files, admission decisions unchanged)") {
    import graft.ops.DedupQueries
    val store = Files.createTempDirectory("incdedup-prune-").toString
    // seed 3 batches × 15 distinct docs → band files spread over many buckets
    admit((1L to 15L).map(doc(_, "p")), store)
    admit((16L to 30L).map(doc(_, "q")), store)
    admit((31L to 45L).map(doc(_, "r")), store)
    val bandsPath = s"$store/bands"
    val allFiles = IncrementalDedupSpec.walkParquet(bandsPath)
    assert(allFiles.size > 40, s"seed store too small to prove pruning: ${allFiles.size}")

    // the probe batch: one near-dup of doc 1 — its band rows hit ≤ Bands buckets
    val probe = spark.createDataFrame(Seq(doc(1L, "p")._1 -> (doc(1L, "p")._2 + " x")))
      .toDF("doc_id", "text")
    val probeBuckets = DedupQueries.bandsOf(
        DedupQueries.signatures(probe, "doc_id", "text"))
      .select(pmod(col("bandhash"), lit(BucketFanout.Base.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq

    // the exact scan admitBatch plans for this batch: execute it and read
    // the physical scan's numFiles metric
    val scan = BucketFanout.Bands.scan(spark, bandsPath, probeBuckets)
    scan.collect()
    val filesRead = IncrementalDedupSpec.scannedFiles(scan)
    val expected = probeBuckets.map(b =>
      IncrementalDedupSpec.walkParquet(s"$bandsPath/bucket=$b").size).sum
    assert(filesRead === expected,
      s"scan read $filesRead files, bucket dirs hold $expected")
    assert(filesRead > 0 && filesRead < allFiles.size,
      s"not a strict subset: $filesRead of ${allFiles.size}")

    // admission decisions unchanged by pruning: the near-dup is rejected
    // against history, a novel doc is admitted
    val out = admit(Seq(100L -> (doc(1L, "p")._2 + " x"), 101L -> doc(101L, "z")._2), store)
    assert(out.collect().map(_.getLong(0)).toSet === Set(101L),
      "pruned index changed admission decisions")
  }

  test("a flat-layout store (no bucket dirs) is not a supported layout: " +
      "admitBatch throws and adds no parquet file") {
    import graft.ops.DedupQueries
    val store = Files.createTempDirectory("incdedup-flat-").toString
    // docs/ and bands/ as FLAT parquet at the root, no dir columns —
    // a layout no code writes
    val seed = (1L to 10L).map(doc(_, "f"))
    val seedDf = spark.createDataFrame(seed).toDF("doc_id", "text")
    seedDf.write.parquet(s"$store/docs")
    DedupQueries.bandsOf(DedupQueries.signatures(seedDf, "doc_id", "text"))
      .write.parquet(s"$store/bands")
    def files(sub: String): Set[String] =
      IncrementalDedupSpec.walkParquet(s"$store/$sub").map(_.getPath).toSet
    val (docsBefore, bandsBefore) = (files("docs"), files("bands"))
    assert(new java.io.File(s"$store/bands").listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "seed store is not flat — test setup broken")

    intercept[org.apache.spark.sql.AnalysisException] {
      admit(Seq(90L -> (doc(1L, "f")._2 + " x"), 91L -> doc(91L, "n")._2), store)
    }
    assert(files("docs") === docsBefore, "admitBatch wrote into the flat docs/")
    assert(files("bands") === bandsBefore, "admitBatch wrote into the flat bands/")
  }

  test("a compaction crash at any point leaves a store that serves identical " +
      "admission decisions (self-recovery)") {
    val fsRoot = Files.createTempDirectory("incdedup-crash-").toString
    admit(Seq(doc(1L, "a"), doc(2L, "b")), fsRoot)
    val dupOf1 = Seq(50L -> (doc(1L, "a")._2 + " t"))

    // crash point 1: rewrite finished, swap not started → stale __compact_*
    // dirs next to an intact live store
    val fs = new org.apache.hadoop.fs.Path(fsRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$fsRoot/docs").write.parquet(s"$fsRoot/__compact_docs")
    spark.read.parquet(s"$fsRoot/bands").write.parquet(s"$fsRoot/__compact_bands")
    assert(admit(dupOf1, fsRoot).count() === 0L, "near-dup admitted after crash point 1")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$fsRoot/__compact_docs")),
      "stale compaction artifact not cleaned")
    // a fresh compaction over the recovered store succeeds
    IncrementalDedup.compactStore(spark, fsRoot)
    assert(admit(dupOf1, fsRoot).count() === 0L)

    // crash point 2: between the two renames — live dir moved aside,
    // rewrite never swapped in (the data-loss window)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$fsRoot/bands"),
      new org.apache.hadoop.fs.Path(s"$fsRoot/__old_bands")))
    assert(admit(dupOf1, fsRoot).count() === 0L,
      "near-dup admitted: band index lost in the rename window")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$fsRoot/bands")), "live bands not restored")

    // same window for docs/: admitted corpus must survive
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$fsRoot/docs"),
      new org.apache.hadoop.fs.Path(s"$fsRoot/__old_docs")))
    assert(IncrementalDedup.admittedDocs(spark, fsRoot)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("a legacy store bucketed at a HIGHER fan-out (no manifest) is " +
      "detected from its dirs: history witnesses in dirs >= 64 are still " +
      "probed and their near-dups rejected") {
    import graft.ops.DedupQueries
    // the ADVICE r16 regression: a store written when the fan-out
    // constant was 256 has bucket dirs up to 255; probing it with
    // mod-64 bucket values never scans dirs >= 64, so a doc whose ONLY
    // shared-band witnesses live there is silently re-admitted. Build
    // that store exactly: one admitted doc whose band index contains
    // ONLY its dirs->=64 rows (admission needs one witness; verify
    // re-shingles the full text).
    val store = Files.createTempDirectory("incdedup-legacy-").toString
    val seed = spark.createDataFrame(Seq(doc(1L, "g"))).toDF("doc_id", "text")
    seed.withColumn("dbucket", pmod(col("doc_id"), lit(64L)).cast("int"))
      .write.partitionBy("dbucket").parquet(s"$store/docs")
    val highBands = DedupQueries.bandsOf(
        DedupQueries.signatures(seed, "doc_id", "text"))
      .withColumn("bucket", pmod(col("bandhash"), lit(256L)).cast("int"))
      .filter(col("bucket") >= 64)
    assert(highBands.count() > 0, "fixture vacuous: no band landed in a dir >= 64")
    highBands.repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(s"$store/bands")

    val detected = BucketFanout.Bands.fanout(spark, store)
    val maxDir = new java.io.File(s"$store/bands").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toInt).max
    assert(detected >= maxDir + 1 && Integer.bitCount(detected) === 1 &&
      detected >= BucketFanout.Base,
      s"detected fan-out $detected does not cover max dir $maxDir")

    // near-dup of the seeded doc + a novel doc: pre-fix code admits BOTH
    // (all witnesses live in unprobed dirs); fixed code rejects the dup
    val out = admit(Seq(2L -> (doc(1L, "g")._2 + " zz"), 3L -> doc(3L, "h")._2), store)
    assert(out.collect().map(_.getLong(0)).toSet === Set(3L),
      "near-dup re-admitted: legacy high-fan-out dirs were not probed")
    // the store is now stamped and stays at the detected fan-out
    assert(BucketFanout.Bands.fanout(spark, store) === detected)
    // appended rows bucket consistently: every dir value is the row's
    // own bandhash mod the detected fan-out
    val bad = spark.read.parquet(s"$store/bands")
      .filter(col("bucket") =!= pmod(col("bandhash"), lit(detected.toLong)).cast("int"))
      .count()
    assert(bad === 0L, s"$bad band rows in dirs inconsistent with fan-out $detected")
  }

  test("maybeCompact: fires once files-per-bucket crosses the policy " +
      "threshold, is a no-op right after, decisions unchanged") {
    val store = Files.createTempDirectory("incdedup-policy-").toString
    for (i <- 0 until 4) admit(Seq(doc(10L * i + 1, s"mc$i")), store)
    val (files0, dirs0) = AtomicStore.filesPerDir(spark, s"$store/bands", "bucket")
    assert(files0 > dirs0, s"fixture vacuous: $files0 files over $dirs0 dirs")
    assert(IncrementalDedup.maybeCompact(spark, store, maxFilesPerBucket = 1),
      "policy did not fire above threshold")
    // compaction ends at one file per non-empty bucket → immediately quiet
    assert(!IncrementalDedup.maybeCompact(spark, store, maxFilesPerBucket = 1),
      "policy re-fired on a just-compacted store")
    // decisions unchanged: a near-dup of a pre-compaction doc still rejects
    assert(admit(Seq(99L -> (doc(1L, "mc0")._2 + " x")), store).count() === 0L,
      "compacted store lost rejection power")
  }

  test("size-adaptive fan-out growth: admission decisions identical across " +
      "a 64 -> 256 migration, cross-boundary history still rejects") {
    // "64" in the name is the fan-out floor when the test was written;
    // the migration it pins is BucketFanout.Base -> 256
    val fixed = Files.createTempDirectory("incdedup-fixed-").toString
    val adaptive = Files.createTempDirectory("incdedup-adapt-").toString
    val b1 = Seq(doc(1L, "p"), 2L -> (doc(1L, "p")._2 + " ax"), doc(3L, "q"))
    val b2 = Seq(4L -> (doc(1L, "p")._2 + " ay"), doc(5L, "r"))
    val b3 = Seq(6L -> (doc(3L, "q")._2 + " by"), doc(7L, "s"))
    def run(store: String): Seq[Set[Long]] =
      Seq(b1, b2, b3).map(b => admit(b, store).collect().map(_.getLong(0)).toSet)

    val control = run(fixed) // default thresholds: stays at Base
    try {
      // 1-byte threshold: batch 1 creates the store at Base (empty store
      // schedules Base), batch 2's reconcile sees bytes >= 1 and grows
      spark.conf.set(BucketFanout.GrowAt256Key, "1")
      val grown = run(adaptive)
      assert(grown === control,
        s"admission diverged across the migration: $grown vs $control")
      assert(BucketFanout.Bands.fanout(spark, adaptive) === 256,
        "adaptive store did not migrate")
      assert(BucketFanout.Bands.fanout(spark, fixed) === BucketFanout.Base)
      // batch-1 history (written at Base, re-bucketed to 256) still
      // rejects: replayed batch-1 docs self-match post-migration
      assert(admit(b1.map { case (i, t) => (i + 100L, t) }, adaptive).count() === 0L,
        "pre-migration history lost its rejection power")
      // growth is monotonic: removing the override cannot shrink 256
      spark.conf.unset(BucketFanout.GrowAt256Key)
      admit(Seq(doc(50L, "z")), adaptive)
      assert(BucketFanout.Bands.fanout(spark, adaptive) === 256,
        "fan-out shrank after the threshold override was removed")
    } finally spark.conf.unset(BucketFanout.GrowAt256Key)
  }

  test("an admitBatch that throws releases every per-batch cache") {
    val store = Files.createTempDirectory("incdedup-release-").toString
    // a flat-layout store: admitBatch materializes the batch's
    // signatures and bands, then throws on the pruned band scan
    val seed = spark.createDataFrame((1L to 10L).map(doc(_, "rl"))).toDF("doc_id", "text")
    seed.write.parquet(s"$store/docs")
    graft.ops.DedupQueries.bandsOf(
        graft.ops.DedupQueries.signatures(seed, "doc_id", "text"))
      .write.parquet(s"$store/bands")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[org.apache.spark.sql.AnalysisException] {
      admit(Seq(20L -> doc(20L, "rl")._2, 21L -> doc(21L, "rm")._2), store)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persistent RDDs left by the failed admitBatch: $leaked")
  }

  test("admitBatch leaves the caller's job description as it found it, " +
      "and labels no job admitBatch/null") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val store = Files.createTempDirectory("incdedup-desc-").toString
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        descriptions.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val caller = "incdedup-desc-caller"
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobDescription(caller)
    try {
      // a fresh store, then an append to it
      for (ids <- Seq(1L to 10L, 11L to 20L)) {
        val admitted = admit(ids.map(doc(_, "ld")), store)
        assert(spark.sparkContext.getLocalProperty("spark.job.description") === caller)
        // a job the caller runs after the return
        assert(admitted.count() === ids.size)
      }
      // listener events arrive in job order: once a marker job's start
      // is seen, every earlier job's start has been delivered too
      val marker = "incdedup-desc-marker"
      spark.sparkContext.setJobDescription(marker)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def seen = descriptions.toArray(Array.empty[String]).toSeq
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.contains(marker), "listener never saw the marker job")
      assert(!seen.contains("admitBatch/null"), "a job was labelled admitBatch/null")
      assert(seen.count(_ == caller) >= 2, "the caller's own jobs lost its description")
      assert(seen.exists(_.startsWith("admitBatch/")), "no job carried a phase label")
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("admitBatch on a fresh store runs no file-listing job, and each " +
      "append writes exactly one file per non-empty bucket") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val store = Files.createTempDirectory("incdedup-listing-").toString
    // (job group, description) of every job; the admits run under
    // their own group, so the checks' own reads below do not count
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(js.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.add(prop("spark.jobGroup.id") -> prop("spark.job.description"))
      }
    }
    // one new file per bucket dir that gained rows, and the dirs that
    // gained files are exactly the buckets of the batch's admitted rows
    def checkOneFilePerBucket(sub: String, dirCol: String, before: Set[java.io.File],
        admitted: Seq[Long]): Unit = {
      val added = IncrementalDedupSpec.walkParquet(s"$store/$sub").toSet -- before
      val perDir = added.groupBy(_.getParentFile.getName).map { case (d, fs) => d -> fs.size }
      assert(perDir.values.forall(_ == 1), s"$sub: more than one new file in a bucket: $perDir")
      val buckets = spark.read.parquet(s"$store/$sub")
        .filter(col("doc_id").isin(admitted.map(Long.box): _*))
        .select(col(dirCol)).distinct().collect().map(r => s"$dirCol=${r.getInt(0)}").toSet
      assert(perDir.keySet === buckets, s"$sub: new files do not match the touched buckets")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // 40 docs x 32 bands cover every band bucket, and at a 64-bucket
      // floor 40 doc ids would occupy more docs dirs than the 32 Spark
      // lists without a job
      for (ids <- Seq(1L to 40L, 41L to 80L)) {
        val bandsBefore = IncrementalDedupSpec.walkParquet(s"$store/bands").toSet
        val docsBefore = IncrementalDedupSpec.walkParquet(s"$store/docs").toSet
        spark.sparkContext.setJobGroup("admit-under-test", "admitBatch")
        val admitted =
          try admit(ids.map(doc(_, "lj")), store).collect().map(_.getLong(0)).toSeq
          finally spark.sparkContext.clearJobGroup()
        assert(admitted.size === ids.size)
        checkOneFilePerBucket("bands", "bucket", bandsBefore, admitted)
        checkOneFilePerBucket("docs", "dbucket", docsBefore, admitted)
      }
      // listener events arrive in job order: once a marker job's start
      // is seen, every earlier job's start has been delivered too
      val marker = "incdedup-listing-marker"
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def seen = jobs.toArray(Array.empty[(String, String)]).toSeq
      while (!seen.exists(_._2 == marker) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.exists(_._2 == marker), "listener never saw the marker job")
      val admitJobs = seen.filter(_._1 == "admit-under-test").map(_._2)
      assert(admitJobs.nonEmpty, "no admitBatch job carried the test's job group")
      val listing = admitJobs.filter(_.startsWith("Listing leaf files"))
      assert(listing.isEmpty, s"file-listing jobs ran: $listing")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("within-batch canonicalization keeps clusterDedup's keeper: only the " +
      "min id of a chain x~y~z (x and z not near-dups) is admitted") {
    val store = Files.createTempDirectory("incdedup-chain-").toString
    // windows of one 116-word run, shifted by 8 words: consecutive
    // windows share 90 of 106 3-shingles (J ≈ 0.85 ≥ 0.8), the ends
    // share 82 of 114 (J ≈ 0.72 < 0.8). The chain's min id sits at an
    // end, so a greedy keep-first rule would also admit z.
    def window(from: Int): String = (from until from + 100).map(j => s"cw$j").mkString(" ")
    val batch = Seq(1L -> window(0), 4L -> window(8), 6L -> window(16),
      2L -> doc(2L, "cs")._2, 9L -> doc(9L, "ct")._2)
    val df = spark.createDataFrame(batch).toDF("doc_id", "text")
    val dupes = graft.api.Graft.minhashDupes(df, "doc_id", "text", 0.8)
    val pairs = dupes.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 4L), (4L, 6L)), s"fixture is not a chain x~y~z: $pairs")
    val expected = graft.api.Graft.clusterDedup(df, "doc_id", dupes, "id_a", "id_b")
      .filter(col("kept")).collect().map(_.getLong(0)).toSet
    val admitted = admit(batch, store).collect().map(_.getLong(0)).toSet
    assert(admitted === expected)
    assert(admitted === Set(1L, 2L, 9L), s"admitted $admitted — expected the chain's min id and the singletons")
    assert(IncrementalDedup.admittedDocs(spark, store).collect().map(_.getLong(0)).toSet === admitted)
  }
}

object IncrementalDedupSpec {
  /** All parquet files under `dir`, recursively (bands/ is directory-
    * partitioned, so a flat listing sees only bucket dirs). */
  def walkParquet(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  /** Sum of the `numFiles` metric over the executed plan's file scans —
    * the count AFTER partition pruning (descends through AQE). */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }
}

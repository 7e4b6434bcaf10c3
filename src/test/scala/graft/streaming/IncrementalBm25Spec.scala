package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sources.FileStreamClient

/** Ingest-time retrieval-index maintenance: the streaming postings /
  * doc-stats store must answer BM25 queries exactly like the batch
  * [[graft.api.Graft.bm25Search]] over everything admitted so far —
  * across batch boundaries, through a restart, after replays, and
  * after (possibly crashed) compaction. */
class IncrementalBm25Spec extends SparkTestBase {

  import spark.implicits._

  // deterministic mixed-frequency corpus: "spark" is common, "tungsten"
  // rare, doc lengths vary — scores separate and ties are id-broken
  private def mkDoc(i: Long): String = {
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    words ++= Seq.fill((i % 5 + 1).toInt)("spark")
    if (i % 3 == 0) words ++= Seq.fill(2)("shuffle")
    if (i % 7 == 0) words += "tungsten"
    words ++= (1 to (i % 11 + 3).toInt).map(j => s"filler${(i + j) % 13}")
    words.mkString(" ")
  }
  private val corpus: Seq[(Long, String)] = (1L to 30L).map(i => i -> mkDoc(i))
  private val query = Seq("spark", "tungsten", "shuffle")

  private def batchTopK(docs: Seq[(Long, String)], k: Int = 10) =
    graft.api.Graft.bm25Search(docs.toDF("doc_id", "text"), "doc_id", "text", query, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  private def storeTopK(store: String, k: Int = 10) =
    IncrementalBm25.search(spark, store, query, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("cross-batch equality: the incremental index answers exactly like the " +
      "batch bm25Search over everything admitted, at every prefix") {
    val store = Files.createTempDirectory("bm25store-").toString
    val splits = Seq(corpus.take(9), corpus.slice(9, 21), corpus.drop(21))
    var seen = Seq.empty[(Long, String)]
    splits.foreach { s =>
      val acct = IncrementalBm25.admitBatch(s.toDF("doc_id", "text"), "doc_id", "text", store)
      assert(acct.filter(!col("admitted")).count() === 0L, "fresh docs must all admit")
      seen ++= s
      assert(storeTopK(store) === batchTopK(seen),
        s"incremental diverges from batch after ${seen.size} docs")
    }
  }

  test("replayed batch admits nothing and changes no answer; keep-first " +
      "ignores a re-crawled id with different text") {
    val store = Files.createTempDirectory("bm25store-replay-").toString
    IncrementalBm25.admitBatch(corpus.take(12).toDF("doc_id", "text"), "doc_id", "text", store)
    val before = storeTopK(store)
    val nPostings = spark.read.parquet(s"$store/postings").count()

    val replay = IncrementalBm25.admitBatch(
      corpus.take(5).toDF("doc_id", "text"), "doc_id", "text", store)
    assert(replay.filter(col("admitted")).count() === 0L, "replay re-admitted docs")
    assert(spark.read.parquet(s"$store/postings").count() === nPostings)

    // re-crawl of id 3 with totally different content: keep-first ignores it
    val recrawl = IncrementalBm25.admitBatch(
      Seq(3L -> "tungsten tungsten tungsten").toDF("doc_id", "text"),
      "doc_id", "text", store)
    assert(recrawl.filter(col("admitted")).count() === 0L)
    assert(storeTopK(store) === before, "replay/re-crawl changed answers")
  }

  test("a restarted stream resumes from its checkpoint; post-restart answers " +
      "equal the batch search over the union of both runs") {
    val root = Files.createTempDirectory("bm25-rs-")
    val client = new FileStreamClient(root)
    client.createStream("docs", 1)
    val store = Files.createTempDirectory("bm25-rs-store-").toString
    val ck = Files.createTempDirectory("bm25-rs-ck-").toString

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def runOnce(): Unit = {
      val q = spark.readStream.format("dis")
        .option("client.root", root.toString).option("stream", "docs")
        .option("startingOffsets", "earliest")
        .option("maxRecordsPerTrigger", "4")
        .load()
        .select(from_json(col("value").cast("string"), schema).as("d"))
        .select(col("d.*"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          IncrementalBm25.admitBatch(batch, "doc_id", "text", store)
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
    }
    def feed(id: Long, text: String): Unit =
      client.append("docs", 0, null,
        s"""{"doc_id":$id,"text":"$text"}""".getBytes("UTF-8"))

    val run1 = corpus.take(10)
    run1.foreach { case (i, t) => feed(i, t) }
    runOnce()
    assert(storeTopK(store) === batchTopK(run1), "run 1 diverges")

    val run2 = corpus.slice(10, 18)
    run2.foreach { case (i, t) => feed(i, t) }
    runOnce()
    assert(IncrementalBm25.admittedDocs(spark, store).count() === 18L,
      "restart re-admitted already-indexed docs")
    assert(storeTopK(store) === batchTopK(run1 ++ run2), "post-restart diverges")
  }

  // fold the stats deltas the way reads do: dedup by anchor, then sum
  private def foldedStats(store: String): (Long, Long) = {
    val r = spark.read.parquet(s"$store/stats")
      .groupBy(col("anchor")).agg(first(col("n")).as("n"), first(col("dlsum")).as("dlsum"))
      .agg(sum(col("n")), sum(col("dlsum"))).head()
    (r.getLong(0), r.getLong(1))
  }
  private def recomputedStats(store: String): (Long, Long) = {
    val r = spark.read.parquet(s"$store/docstats")
      .agg(count(lit(1)), sum(col("dl"))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("a duplicate-id batch fails loudly instead of silently merging texts") {
    val store = Files.createTempDirectory("bm25store-dup-").toString
    val dup = Seq(1L -> "spark shuffle", 2L -> "tungsten", 1L -> "totally different text")
    val e = intercept[IllegalArgumentException] {
      IncrementalBm25.admitBatch(dup.toDF("doc_id", "text"), "doc_id", "text", store)
    }
    assert(e.getMessage.contains("duplicates"), s"unexpected: $e")
    // nothing was committed
    assert(IncrementalBm25.admittedDocs(spark, store).count() === 0L)
  }

  test("crash between the postings and docstats appends: the replayed batch " +
      "re-appends everything; answers and stats equal the batch side exactly") {
    for (crashPoint <- Seq(1, 2)) {
      val store = Files.createTempDirectory(s"bm25store-crash$crashPoint-").toString
      IncrementalBm25.admitBatch(corpus.take(8).toDF("doc_id", "text"), "doc_id", "text", store)
      val second = corpus.slice(8, 16)
      intercept[IncrementalBm25.InjectedCrash] {
        IncrementalBm25.admitBatchImpl(second.toDF("doc_id", "text"),
          "doc_id", "text", store, crashAfter = crashPoint)
      }
      // the batch is NOT committed: docstats (the commit record) has
      // only the first batch, so a replay re-admits all of it
      assert(IncrementalBm25.admittedDocs(spark, store).count() === 8L,
        s"crash point $crashPoint leaked a partial commit")
      val replay = IncrementalBm25.admitBatch(
        second.toDF("doc_id", "text"), "doc_id", "text", store)
      assert(replay.filter(col("admitted")).count() === second.size.toLong,
        s"crash point $crashPoint: replay did not re-admit the uncommitted batch")
      // the crashed attempt left duplicate postings rows on disk …
      if (crashPoint >= 1) {
        val raw = spark.read.parquet(s"$store/postings").count()
        val distinctRows = spark.read.parquet(s"$store/postings")
          .select(col("term"), col("doc_id"), col("tf")).distinct().count()
        assert(raw > distinctRows, s"crash point $crashPoint test is vacuous (no dups on disk)")
      }
      // … but answers and the folded stats are exact
      assert(storeTopK(store) === batchTopK(corpus.take(16)),
        s"crash point $crashPoint: post-replay answers diverge")
      assert(foldedStats(store) === recomputedStats(store),
        s"crash point $crashPoint: stats deltas diverge from the docstats history")
      // compaction garbage-collects the duplicate rows
      IncrementalBm25.compactStore(spark, store)
      assert(spark.read.parquet(s"$store/postings").count() ===
        spark.read.parquet(s"$store/postings")
          .select(col("term"), col("doc_id"), col("tf")).distinct().count())
      assert(storeTopK(store) === batchTopK(corpus.take(16)))
      assert(foldedStats(store) === recomputedStats(store))
    }
  }

  test("a crashed batch that is NEVER replayed: search scores only committed " +
      "docs, and compaction garbage-collects the orphan postings") {
    val store = Files.createTempDirectory("bm25store-orphan-").toString
    IncrementalBm25.admitBatch(corpus.take(10).toDF("doc_id", "text"), "doc_id", "text", store)
    intercept[IncrementalBm25.InjectedCrash] {
      IncrementalBm25.admitBatchImpl(corpus.slice(10, 20).toDF("doc_id", "text"),
        "doc_id", "text", store, crashAfter = 1) // postings landed, nothing else
    }
    // orphan postings are invisible to search (docstats is the commit record)
    assert(storeTopK(store) === batchTopK(corpus.take(10)),
      "uncommitted postings leaked into scoring")
    IncrementalBm25.compactStore(spark, store)
    val orphans = spark.read.parquet(s"$store/postings")
      .filter(col("doc_id") > 10L).count()
    assert(orphans === 0L, s"compaction kept $orphans orphan postings rows")
    assert(storeTopK(store) === batchTopK(corpus.take(10)))
    assert(foldedStats(store) === recomputedStats(store))
    // the replay still lands cleanly after the GC
    IncrementalBm25.admitBatch(corpus.slice(10, 20).toDF("doc_id", "text"), "doc_id", "text", store)
    assert(storeTopK(store) === batchTopK(corpus.take(20)))
  }

  test("crash AFTER the stats append (crashAfter=2), never replayed: the " +
      "orphan delta does not inflate N/avgdl — search equals the committed " +
      "batch side before any replay or compaction") {
    val store = Files.createTempDirectory("bm25store-orphan2-").toString
    IncrementalBm25.admitBatch(corpus.take(10).toDF("doc_id", "text"), "doc_id", "text", store)
    intercept[IncrementalBm25.InjectedCrash] {
      IncrementalBm25.admitBatchImpl(corpus.slice(10, 20).toDF("doc_id", "text"),
        "doc_id", "text", store, crashAfter = 2) // postings AND stats landed
    }
    // the orphan delta is ON DISK (raw fold over-counts) …
    val rawFold = foldedStats(store)
    assert(rawFold._1 === 20L, s"test vacuous: orphan delta missing ($rawFold)")
    assert(recomputedStats(store)._1 === 10L)
    // … but search's corpus aggregate checks anchors against the
    // docstats commit record, so scores equal the 10-doc batch side
    // exactly — BM25 scores depend on N/avgdl, so an inflated corpus
    // aggregate would shift every score, not just the orphan's docs
    assert(storeTopK(store) === batchTopK(corpus.take(10)),
      "orphan stats delta leaked into N/avgdl")
    // compaction reconciles the delta log itself from docstats
    IncrementalBm25.compactStore(spark, store)
    assert(foldedStats(store) === recomputedStats(store))
    assert(storeTopK(store) === batchTopK(corpus.take(10)))
    // a later replay of the crashed batch commits it; its delta now
    // passes the commit check and the store matches the 20-doc side
    IncrementalBm25.admitBatch(corpus.slice(10, 20).toDF("doc_id", "text"), "doc_id", "text", store)
    assert(storeTopK(store) === batchTopK(corpus.take(20)))
    assert(foldedStats(store) === recomputedStats(store))
  }

  test("search reads no full docstats scan: the dl read is pruned to the " +
      "candidates' dbuckets and the corpus aggregate comes from the stats deltas") {
    val store = Files.createTempDirectory("bm25store-dlprune-").toString
    // docs spread over many dbuckets, queried term confined to a few docs
    val docs = (1L to 200L).map(i => i -> (if (i % 64 == 3) "needle haystack" else mkDoc(i)))
    docs.grouped(50).foreach { s =>
      IncrementalBm25.admitBatch(s.toDF("doc_id", "text"), "doc_id", "text", store)
    }
    val res = IncrementalBm25.search(spark, store, Seq("needle"), 5)
    res.collect()
    val allDocstatsFiles = IncrementalDedupSpec.walkParquet(s"$store/docstats").size
    val prunedScan = spark.read.parquet(s"$store/docstats")
      .filter(col("dbucket").isin(Seq(3).map(Int.box): _*))
    prunedScan.collect()
    val docstatsRead = IncrementalDedupSpec.scannedFiles(prunedScan)
    assert(docstatsRead > 0 && docstatsRead < allDocstatsFiles,
      s"dbucket pruning inert: $docstatsRead of $allDocstatsFiles")
    // equality with the batch side through the stats-delta corpus path
    assert(res.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq ===
      graft.api.Graft.bm25Search(docs.toDF("doc_id", "text"), "doc_id", "text",
        Seq("needle"), 5).collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq)
    assert(foldedStats(store) === recomputedStats(store))
  }

  test("a query's postings read is pruned to its terms' buckets; compaction " +
      "(and a crash mid-compaction) preserve answers") {
    val store = Files.createTempDirectory("bm25store-prune-").toString
    // several batches so every bucket holds multiple small files
    corpus.grouped(6).foreach { s =>
      IncrementalBm25.admitBatch(s.toDF("doc_id", "text"), "doc_id", "text", store)
    }
    val expected = batchTopK(corpus)
    assert(storeTopK(store) === expected)

    val postingsPath = s"$store/postings"
    val allFiles = IncrementalDedupSpec.walkParquet(postingsPath)
    // 16 = a quarter of the 64-bucket floor this guard was written
    // for; kept at that strength under the 32-bucket floor
    assert(allFiles.size > 16,
      s"seed store too small to prove pruning: ${allFiles.size}")
    val qBuckets = query
      .map(t => math.floorMod(TermHash.xx64(t), BucketFanout.Base.toLong).toInt)
      .distinct
    val scan = spark.read.parquet(postingsPath)
      .filter(col("bucket").isin(qBuckets.map(Int.box): _*))
    scan.collect()
    val filesRead = IncrementalDedupSpec.scannedFiles(scan)
    assert(filesRead > 0 && filesRead < allFiles.size,
      s"not a strict subset: $filesRead of ${allFiles.size}")
    // the driver-side term hash must agree with the writer's xxhash64
    val sparkBuckets = corpus.take(1).toDF("doc_id", "text")
      .select(explode(split(lit(query.mkString(" ")), " ")).as("term"))
      .select(pmod(xxhash64(col("term")), lit(BucketFanout.Base.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(qBuckets.toSet === sparkBuckets, "driver xxhash64 disagrees with Spark's")

    IncrementalBm25.compactStore(spark, store)
    assert(IncrementalDedupSpec.walkParquet(postingsPath).size < allFiles.size,
      "compaction did not shrink the file count")
    assert(storeTopK(store) === expected, "compaction changed answers")

    // crash point: live moved aside, swap never completed → recovery
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(postingsPath),
      new org.apache.hadoop.fs.Path(s"$store/__old_postings")))
    assert(storeTopK(store) === expected, "postings lost in the rename window")
    assert(fs.exists(new org.apache.hadoop.fs.Path(postingsPath)), "live postings not restored")
  }

  test("maybeCompact: fires above the files-per-bucket threshold, no-op " +
      "after, answers unchanged") {
    val store = Files.createTempDirectory("bm25-policy-").toString
    for (b <- Seq(corpus.take(9), corpus.slice(9, 21), corpus.drop(21)))
      IncrementalBm25.admitBatch(b.toDF("doc_id", "text"), "doc_id", "text", store)
        .count()
    val expected = storeTopK(store)
    assert(IncrementalBm25.maybeCompact(spark, store, maxFilesPerBucket = 1))
    assert(!IncrementalBm25.maybeCompact(spark, store, maxFilesPerBucket = 1))
    assert(storeTopK(store) === expected, "policy compaction changed answers")
  }

  test("size-adaptive fan-out growth: search answers identical across a " +
      "64 -> 256 migration of both indexes, query pruning follows the store") {
    // "64" in the name is the fan-out floor when the test was written;
    // the migration it pins is BucketFanout.Base -> 256
    val fixed = Files.createTempDirectory("bm25-fixed-").toString
    val adaptive = Files.createTempDirectory("bm25-adapt-").toString
    def run(store: String): Seq[Seq[(Long, Double, Long)]] =
      Seq(corpus.take(9), corpus.slice(9, 21), corpus.drop(21)).map { b =>
        IncrementalBm25.admitBatch(b.toDF("doc_id", "text"), "doc_id", "text", store)
          .count()
        storeTopK(store)
      }
    val control = run(fixed)
    try {
      spark.conf.set(BucketFanout.GrowAt256Key, "1")
      val grown = run(adaptive)
      assert(grown === control,
        "search answers diverged across the fan-out migration")
      assert(BucketFanout.Postings.fanout(spark, adaptive) === 256)
      assert(BucketFanout.DocStats.fanout(spark, adaptive) === 256)
      assert(BucketFanout.Postings.fanout(spark, fixed) === BucketFanout.Base)
      // post-migration dirs are self-consistent with the new fan-out
      val badP = spark.read.parquet(s"$adaptive/postings")
        .filter(col("bucket") =!= pmod(xxhash64(col("term")), lit(256L)).cast("int"))
        .count()
      val badD = spark.read.parquet(s"$adaptive/docstats")
        .filter(col("dbucket") =!= pmod(col("doc_id"), lit(256L)).cast("int"))
        .count()
      assert(badP === 0L && badD === 0L,
        s"$badP postings / $badD docstats rows inconsistent with fan-out 256")
    } finally spark.conf.unset(BucketFanout.GrowAt256Key)
  }
}

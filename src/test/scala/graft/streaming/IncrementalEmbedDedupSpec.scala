package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Incremental (micro-batch) EMBEDDING near-dup dedup against
  * accumulated history: admitted vectors form the store; later arrivals
  * whose cosine to ANY admitted vector clears the threshold are rejected
  * — across batch boundaries, with the IVF index trained once and
  * amortized. */
class IncrementalEmbedDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val Dim = 24
  private val T = 0.98

  /** Member `m` of family `f` (f < 16): the one-hot family direction
    * plus a family-specific spread axis. Consecutive members sit at
    * cosine ≈ 0.958/0.969 — same cell, NOT near-dups at 0.98. */
  private def fam(f: Int, m: Int): Array[Float] = {
    val v = new Array[Float](Dim)
    v(f) = 1.0f
    if (m > 0) v(16 + f % 8) = 0.3f * m
    v
  }

  /** A near-duplicate of [[fam]](f, m): cosine ≈ 0.99995 ≥ 0.98. */
  private def dupOf(f: Int, m: Int): Array[Float] = {
    val v = fam(f, m)
    v(Dim - 1) = 0.01f
    v
  }

  private def admit(rows: Seq[(Long, Array[Float])], store: String) =
    IncrementalEmbedDedup.admitBatch(
      rows.toDF("doc_id", "vec"), "doc_id", "vec", T, store)

  private def admittedIds(store: String): Set[Long] =
    IncrementalEmbedDedup.admittedVecs(spark, store)
      .collect().map(_.getLong(0)).toSet

  test("streamed batches admit one canonical vector per duplicate family, " +
      "rejecting later near-dups against the persisted store") {
    import graft.sources.FileStreamClient
    val root = Files.createTempDirectory("incembed-")
    val client = new FileStreamClient(root)
    client.createStream("vecs", 1) // one partition ⇒ deterministic batch split
    val feedRows = Seq(
      1L -> fam(0, 0),   // batch 1: canonical A
      2L -> dupOf(0, 0), // batch 1: within-batch dup of A → cluster keeper drops it
      3L -> fam(1, 0),   // batch 1: canonical B
      4L -> dupOf(0, 0), // batch 2: history dup of A → rejected by store
      5L -> fam(2, 0),   // batch 2: novel C
      6L -> dupOf(1, 0)  // batch 2: history dup of B → rejected by store
    )
    feedRows.foreach { case (id, v) =>
      client.append("vecs", 0, null,
        s"""{"doc_id":$id,"vec":[${v.mkString(",")}]}""".getBytes("UTF-8"))
    }
    val store = Files.createTempDirectory("incembed-store-").toString

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("vec", ArrayType(FloatType))))
    val q = spark.readStream.format("dis")
      .option("client.root", root.toString).option("stream", "vecs")
      .option("startingOffsets", "earliest")
      .option("maxRecordsPerTrigger", "3") // docs 1-3 then 4-6
      .load()
      .select(from_json(col("value").cast("string"), schema).as("d"))
      .select(col("d.*"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalEmbedDedup.admitBatch(batch, "doc_id", "vec", T, store)
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("incembed-ck-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    assert(admittedIds(store) === Set(1L, 3L, 5L),
      s"admitted ${admittedIds(store)} — expected canonical A, B and novel C only")

    // invariant: no two ADMITTED vectors are near-dups (exhaustive check)
    import graft.functions.VecMath.float_dot
    val adm = IncrementalEmbedDedup.admittedVecs(spark, store)
      .withColumn("n", sqrt(float_dot(col("vec"), col("vec"))))
    val admittedPairs = adm.as("a").join(adm.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(round(float_dot(col("a.vec"), col("b.vec"))
        / col("a.n") / col("b.n"), 12) >= T)
      .count()
    assert(admittedPairs === 0L, "store contains a near-dup pair")

    // the index was trained once, on the first batch, and persisted
    assert(graft.ops.Ivf.load(spark, s"$store/index").nlist > 0)

    // a replayed batch is a no-op: every vector self-matches the store
    val replay = admit(feedRows.take(3), store)
    assert(replay.count() === 0L, "replay re-admitted vectors")
    assert(admittedIds(store) === Set(1L, 3L, 5L))
  }

  test("a batch's vector-index read is pruned to its probed buckets " +
      "(strict subset of files, admission decisions unchanged)") {
    val store = Files.createTempDirectory("incembed-prune-").toString
    // 3 batches × 16 families: members at spread 0/1/2 are same-cell but
    // below the dup threshold, so all 48 are admitted → 3 files in each
    // of 16 bucket directories
    admit((0 until 16).map(f => (f + 1).toLong -> fam(f, 0)), store)
    admit((0 until 16).map(f => (f + 101).toLong -> fam(f, 1)), store)
    admit((0 until 16).map(f => (f + 201).toLong -> fam(f, 2)), store)
    assert(admittedIds(store).size === 48, s"seed admitted ${admittedIds(store).size}")
    val vecsPath = s"$store/vecs"
    val allFiles = IncrementalDedupSpec.walkParquet(vecsPath)
    assert(allFiles.size >= 16, s"seed store too small to prove pruning: ${allFiles.size}")

    // the probe vector near-dups family 3's first member: the radius
    // rule probes only cell 3's neighborhood, so the scan must read a
    // strict subset of bucket directories
    import graft.ops.Ivf
    val index = Ivf.load(spark, s"$store/index")
    val radii = new Array[Double](index.nlist)
    spark.read.parquet(s"$store/radii").groupBy(col("cell"))
      .agg(max(col("radius")).as("r"))
      .collect().foreach(r => radii(r.getInt(0)) = r.getDouble(1))
    val probeDf = Seq(500L -> dupOf(3, 0)).toDF("doc_id", "vec")
    val probeBuckets = Ivf.assignWithinRadii(probeDf, "doc_id", "vec",
        index.centroids, radii, math.acos(T))
      .select(pmod(col("cell"), lit(BucketFanout.Base)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(probeBuckets.nonEmpty && probeBuckets.size < 16,
      s"probe fan-out ${probeBuckets.size} buckets — radius rule not selective")

    val scan = BucketFanout.Vecs.scan(spark, vecsPath, probeBuckets)
    scan.collect()
    val filesRead = IncrementalDedupSpec.scannedFiles(scan)
    val expected = probeBuckets.map(b =>
      IncrementalDedupSpec.walkParquet(s"$vecsPath/bucket=$b").size).sum
    assert(filesRead === expected,
      s"scan read $filesRead files, bucket dirs hold $expected")
    assert(filesRead > 0 && filesRead < allFiles.size,
      s"not a strict subset: $filesRead of ${allFiles.size}")

    // admission decisions unchanged by pruning: the near-dup is rejected
    // against history, a genuinely novel direction is admitted
    val novel = Array.tabulate(Dim)(d => if (d < 4) 0.5f else 0.0f)
    val out = admit(Seq(500L -> dupOf(3, 0), 501L -> novel), store)
    assert(out.collect().map(_.getLong(0)).toSet === Set(501L),
      "pruned index changed admission decisions")
  }

  test("compaction collapses the store without changing admission decisions, " +
      "and a crash at any point self-recovers") {
    val store = Files.createTempDirectory("incembed-crash-").toString
    admit((0 until 16).map(f => (f + 1).toLong -> fam(f, 0)), store)
    admit((0 until 16).map(f => (f + 101).toLong -> fam(f, 1)), store)
    val dupOf3 = Seq(600L -> dupOf(3, 0))

    def parquetFiles(sub: String): Int =
      IncrementalDedupSpec.walkParquet(s"$store/$sub").size
    val beforeVecs = parquetFiles("vecs")
    IncrementalEmbedDedup.compactStore(spark, store)
    val bucketDirs = new java.io.File(s"$store/vecs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(parquetFiles("vecs") === bucketDirs && parquetFiles("vecs") < beforeVecs,
      s"vecs ${parquetFiles("vecs")} over $bucketDirs buckets (was $beforeVecs)")
    assert(parquetFiles("radii") === 1, "radii not collapsed to one file")
    assert(admittedIds(store).size === 32)
    assert(admit(dupOf3, store).count() === 0L,
      "compacted store failed to reject a near-dup")

    // crash window: live vecs/ moved aside, rewrite never swapped in
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$store/vecs"),
      new org.apache.hadoop.fs.Path(s"$store/__old_vecs")))
    assert(admit(dupOf3, store).count() === 0L,
      "near-dup admitted: vector index lost in the rename window")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/vecs")), "live vecs not restored")

    // stale __compact_* artifacts are cleaned by the next entry point
    spark.read.parquet(s"$store/radii").write.parquet(s"$store/__compact_radii")
    assert(admit(dupOf3, store).count() === 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/__compact_radii")),
      "stale compaction artifact not cleaned")
  }

  test("maybeCompact: fires above the files-per-bucket threshold, no-op " +
      "after, rejection unchanged") {
    val store = java.nio.file.Files.createTempDirectory("embdedup-policy-").toString
    for (k <- 0 until 3)
      admit((0 until 4).map(f => (10L * k + f, fam(f, k))), store)
    assert(IncrementalEmbedDedup.maybeCompact(spark, store, maxFilesPerBucket = 1))
    assert(!IncrementalEmbedDedup.maybeCompact(spark, store, maxFilesPerBucket = 1))
    assert(admit(Seq((99L, dupOf(0, 0))), store).count() === 0L,
      "policy compaction lost rejection power")
  }

  test("size-adaptive fan-out growth: admission decisions identical across " +
      "a 64 -> 256 migration, pre-migration history still rejects") {
    // "64" in the name is the fan-out floor when the test was written;
    // the migration it pins is BucketFanout.Base -> 256
    def run(store: String): Seq[Set[Long]] =
      Seq(
        (0 until 8).map(f => (f.toLong, fam(f, 0))),
        (0 until 8).map(f => (100L + f, if (f < 4) dupOf(f, 0) else fam(f, 1))),
        (0 until 4).map(f => (200L + f, dupOf(f, 1)))
      ).map(b => admit(b, store).collect().map(_.getLong(0)).toSet)

    val fixed = java.nio.file.Files.createTempDirectory("embdedup-fixed-").toString
    val adaptive = java.nio.file.Files.createTempDirectory("embdedup-adapt-").toString
    val control = run(fixed)
    try {
      spark.conf.set(BucketFanout.GrowAt256Key, "1")
      val grown = run(adaptive)
      assert(grown === control,
        s"admission diverged across the migration: $grown vs $control")
      assert(BucketFanout.Vecs.fanout(spark, adaptive) === 256)
      assert(BucketFanout.Vecs.fanout(spark, fixed) === BucketFanout.Base)
      // batch-1 vectors (written at Base, re-bucketed to 256) still reject
      assert(admit(Seq((300L, fam(0, 0))), adaptive).count() === 0L,
        "pre-migration history lost its rejection power")
      val bad = spark.read.parquet(s"$adaptive/vecs")
        .filter(col("bucket") =!= pmod(col("cell"), lit(256)).cast("int"))
        .count()
      assert(bad === 0L, s"$bad vec rows inconsistent with fan-out 256")
    } finally spark.conf.unset(BucketFanout.GrowAt256Key)
  }

  test("a batch holding an all-zero vector is admitted without error; " +
      "the zero vector is no near-dup of anything") {
    val store = Files.createTempDirectory("incembed-zero-").toString
    admit(Seq(1L -> fam(0, 0), 2L -> fam(1, 0)), store)
    // against history (the store exists) and within the batch: the zero
    // vector's cosine is 0 with every vector, so it is admitted, and the
    // near-dup of family 0 is still rejected
    val out = admit(Seq(3L -> new Array[Float](Dim), 4L -> dupOf(0, 0), 5L -> fam(2, 0)), store)
    assert(out.collect().map(_.getLong(0)).toSet === Set(3L, 5L))
    assert(admittedIds(store) === Set(1L, 2L, 3L, 5L))
  }

  test("a replayed batch holding an all-zero vector is a no-op: the zero " +
      "vector is stored once") {
    val store = Files.createTempDirectory("incembed-zero-replay-").toString
    val batch = Seq(1L -> fam(0, 0), 3L -> new Array[Float](Dim))
    assert(admit(batch, store).collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // the zero vector's cosine to its admitted copy is 0.0: only its id
    // marks it as already admitted
    assert(admit(batch, store).count() === 0L, "replay re-admitted vectors")
    val stored = IncrementalEmbedDedup.admittedVecs(spark, store)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(stored === Seq(1L, 3L))
  }
}

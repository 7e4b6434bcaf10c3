package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{DisExactlyOnce, FileStreamClient}
import graft.streaming.IncrementalDedup

/** `admit`: streaming admission. A seeded, id-ordered document feed
  * (one `dis` stream partition, documents shaped like the sf0.1
  * fixture, see [[Corpus]]) drains at a fixed `maxRecordsPerTrigger`
  * through Spark's micro-batch loop into `foreachBatch`, which calls
  * `IncrementalDedup.admitBatch` against a store that already holds a
  * seeded history (so every trigger writes docs and band rows beside
  * band-index probes) and publishes the admitted docs to an output
  * stream through the `dis` sink with `exactlyOnceKey` (epoch = batch
  * id). One unit = a fresh copy of the history store + one
  * `AvailableNow` pass over the feed; units repeat for the measured
  * time. The warm-up builds the history store through the same path,
  * in triggers of the same size, so its later triggers already probe
  * a history.
  *
  * `p50_ms` is ingest-to-admission time per trigger: the trigger's start
  * (its progress timestamp) to `admitBatch` returning.
  *
  * Checks, which hold whatever MinHash family and banding the store
  * uses, over the trigger boundaries read from the progress offsets and
  * the exact word 3-shingle Jaccard of every pair of docs:
  *  - every doc `admitBatch` rejects has a witness at Jaccard ≥ the
  *    threshold: a doc admitted before the trigger, or a smaller admitted
  *    id of the trigger in its near-dup component (within-batch
  *    keep-first). So the smallest id of each component without a
  *    history witness is admitted;
  *  - `admitBatch` returns only ids of its trigger, each once;
  *  - the exactly-once view of the published stream holds exactly the
  *    returned ids (set difference and order-free digest);
  *  - the store rejects near-dups: LSH may miss a pair that shares no
  *    band, so an admitted doc with an admitted near-dup is counted in
  *    `streaming.near_dups_missed`, but a pass fails when misses exceed
  *    a tenth of its docs that had an admitted near-dup to reject them. */
final class Admit(ctx: Ctx) extends Workload {
  import Admit._
  private val spark = ctx.spark
  private val feedRoot = ctx.work.resolve("feed")
  private val historyRoot = ctx.work.resolve("history-feed")
  private val history = ctx.work.resolve("history-store")
  private var hist: Seq[Corpus.Doc] = _
  private var feed: Seq[Corpus.Doc] = _
  private var near: Map[Long, Set[Long]] = Map.empty
  private var historyAdmitted: Set[Long] = Set.empty
  // traced figures, from the last measured phase
  private val callS = mutable.ArrayBuffer[Double]()
  private val viewS = mutable.ArrayBuffer[Double]()
  private val admitSpans = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val queryIds = mutable.Set[String]()
  private var considered = 0L
  private var admittedN = 0L
  private var missed = 0L
  private var lastStore: Path = _

  override def generate(): Unit = {
    val rnd = new java.util.Random(ctx.seed ^ 0x5DEECE66DL)
    val docs = Corpus.documents(rnd, HistoryDocs + FeedDocs, rnd.nextInt(1000000).toLong)
    hist = docs.take(HistoryDocs)
    feed = docs.drop(HistoryDocs)
    near = Corpus.nearDups(docs, Threshold)
    writeStream(historyRoot, hist)
    writeStream(feedRoot, feed)
  }

  /** A one-partition `dis` stream of `docs` in id order at `root`. */
  private def writeStream(root: Path, docs: Seq[Corpus.Doc]): Unit = {
    val dir = ctx.freshDir("stream")
    val client = new FileStreamClient(dir)
    client.createStream("docs", 1)
    docs.grouped(PerTrigger).foreach { g =>
      client.appendAll("docs", 0, g.map(d => d.id.toString.getBytes(UTF_8) -> d.text.getBytes(UTF_8)))
    }
    if (Files.exists(root)) deleteTree(root)
    Files.move(dir, root)
  }

  override def warmup(): Unit =
    historyAdmitted = pass(history, historyRoot, hist, PerTrigger, Set.empty, "history admission")._3

  override def measure(): Map[String, Double] = {
    callS.clear(); viewS.clear(); queryIds.clear(); considered = 0L; admittedN = 0L; missed = 0L
    val t0 = System.nanoTime()
    val units = mutable.ArrayBuffer[(Double, Seq[Double])]()
    while (units.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      units += ctx.span("admit.unit") {
        val store = ctx.freshDir("store")
        copyTree(history, store)
        lastStore = store
        val (secs, triggers, _) = pass(store, feedRoot, feed, PerTrigger, historyAdmitted, "feed admission")
        considered += feed.size
        (secs, triggers)
      }
    System.err.println(s"[graftbench] admit units ${units.map(u => f"${u._1}%.2f s: " +
      u._2.map(x => f"$x%.0f").mkString(" ")).mkString("; ")} ms")
    Map("p50_ms" -> Stats.median(units.flatMap(_._2).toSeq))
  }

  override def layers(): Map[String, Double] = {
    val jobs = ctx.listeners.jobSpans.asScala.toSeq.filter(j => admitSpans.contains(j._1.parent))
    val phases = jobs.groupBy { case (_, desc, _, _) =>
      if (desc != null && desc.startsWith("admitBatch/")) desc.stripPrefix("admitBatch/") else "other"
    }.map { case (p, js) => p -> js.map(_._1.durUs / 1000.0).sum }
    val progress = ctx.listeners.progress.asScala.toSeq.filter(p => queryIds.contains(p.id.toString))
    val lags = progress.map(p =>
      offsetSum(p.sources.head.latestOffset) - offsetSum(p.sources.head.endOffset))
    val (bytes, files) = Stats.dirSize(lastStore)
    Phases.map(p => s"streaming.phase.${p}_ms" -> phases.getOrElse(p, 0.0)).toMap ++ Map(
      "streaming.admit_call_s_p50" -> Stats.median(callS.toSeq),
      "streaming.admitted_ratio" -> admittedN.toDouble / math.max(considered, 1L),
      "streaming.near_dups_missed" -> missed.toDouble,
      "streaming.store_mb" -> bytes / 1048576.0,
      "streaming.store_files" -> files.toDouble,
      "streaming.history_docs_end" ->
        IncrementalDedup.admittedDocs(spark, lastStore.toString).count().toDouble,
      "sources.lag_records_max" -> (if (lags.isEmpty) 0.0 else lags.max.toDouble),
      "sources.rows_per_trigger_p50" -> Stats.median(progress.map(_.numInputRows.toDouble)),
      "sources.xo_view_s" -> Stats.median(viewS.toSeq)) ++
      ctx.span("sources.legs")(new SourceLegs(ctx).run())
  }

  /** One `AvailableNow` pass of the stream at `root` (holding `docs`)
    * into the store, which already holds the `prior` admitted ids, and
    * its checks. Returns the pass's wall time, each trigger's admission
    * time and the admitted ids, `prior` included. */
  private def pass(store: Path, root: Path, docs: Seq[Corpus.Doc], perTrigger: Int,
      prior: Set[Long], label: String): (Double, Seq[Double], Set[Long]) = {
    val out = ctx.freshDir("admitted")
    new FileStreamClient(out).createStream("admitted", 1)
    val writer = s"admit-${out.getFileName}"
    val ends = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val returned = new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()
    val admit: (DataFrame, Long) => Unit = (batch, batchId) => {
      ctx.span("streaming.admitBatch", Map("batch" -> batchId.toString)) {
        Option(spark.sparkContext.getLocalProperty(Tracer.SpanProp)).foreach(s => admitSpans.add(s.toLong))
        val c0 = System.nanoTime()
        val admitted = IncrementalDedup.admitBatch(batch, "doc_id", "text", Threshold, store.toString)
        ends.put(batchId, System.currentTimeMillis())
        callS.synchronized(callS += (System.nanoTime() - c0) / 1e9)
        returned.put(batchId, admitted.select(col("doc_id")).collect().map(_.getLong(0)))
        admitted.select(col("doc_id").cast("string").as("key"), col("text").as("value"))
          .write.format("dis").option("client.root", out.toString).option("stream", "admitted")
          .option("exactlyOnceKey", "true").option("exactlyOnceEpoch", batchId.toString)
          .option("exactlyOnceWriterId", writer).mode("append").save()
      }
    }
    var starts = Map[Long, Long]()
    var batches = Seq[(Long, Seq[Corpus.Doc])]()
    val secs = Stats.time {
      val q = spark.readStream.format("dis")
        .option("client.root", root.toString).option("stream", "docs")
        .option("startingOffsets", "earliest")
        .option("maxRecordsPerTrigger", perTrigger.toString).load()
        .select(col("key").cast("string").cast("long").as("doc_id"),
          col("value").cast("string").as("text"))
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", ctx.freshDir("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      ctx.register(q)
      queryIds += q.id.toString
      q.awaitTermination()
      val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
      starts = progress.map(p => p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
      batches = progress.map(p => p.batchId -> docs.slice(
        offsetSum(p.sources.head.startOffset).toInt, offsetSum(p.sources.head.endOffset).toInt))
    }
    val v0 = System.nanoTime()
    val published = DisExactlyOnce.view(spark.read.format("dis")
        .option("client.root", out.toString).option("stream", "admitted").load(), strict = true)
      .select(col("key").cast("string").cast("long")).collect().map(_.getLong(0))
    viewS += (System.nanoTime() - v0) / 1e9
    admittedN += published.length
    val admitted = check(label, docs.size, batches, returned.asScala.toMap, published, prior)
    (secs, ends.asScala.toSeq.map { case (b, end) => (end - starts(b)).toDouble }, admitted)
  }

  /** The admission checks of one pass (see the class comment); returns
    * the admitted ids after it. */
  private def check(label: String, total: Int, batches: Seq[(Long, Seq[Corpus.Doc])],
      returned: Map[Long, Array[Long]], published: Array[Long], prior: Set[Long]): Set[Long] = {
    var admitted = prior
    var wrong = 0L
    var eligible = 0L
    var miss = 0L
    val fed = batches.flatMap(_._2.map(_.id)).toSet
    wrong += returned.filterNot { case (b, _) => batches.exists(_._1 == b) }.values.map(_.length).sum
    batches.foreach { case (b, batch) =>
      val ids = batch.map(_.id).toSet
      val got = returned.getOrElse(b, Array.empty[Long])
      val kept = got.toSet
      wrong += (kept -- ids).size + (got.length - kept.size)
      // components of the exact near-dup graph within the trigger
      val root = mutable.HashMap[Long, Long]()
      def find(x: Long): Long = { val r = root.getOrElse(x, x); if (r == x) x else find(r) }
      for (d <- ids; o <- near.getOrElse(d, Set.empty) if ids(o)) {
        val (x, y) = (find(d), find(o))
        if (x != y) root(math.max(x, y)) = math.min(x, y)
      }
      val firstKept = (kept & ids).groupBy(find).map { case (r, xs) => r -> xs.min }
      batch.foreach { d =>
        val nb = near.getOrElse(d.id, Set.empty)
        val witness = nb.exists(admitted) || firstKept.get(find(d.id)).exists(_ < d.id)
        if (!kept(d.id) && !witness) wrong += 1
        if (witness) eligible += 1
        if (kept(d.id) && nb.exists(o => admitted(o) || (kept(o) && o < d.id))) miss += 1
      }
      admitted ++= kept
    }
    val all = returned.values.flatten.toSeq
    val view = published.toSet
    val viewWrong = (all.toSet -- view).size + (view -- all).size + (published.length - view.size)
    missed += miss
    // the triggers must cover the feed, each doc once
    wrong += (total - fed.size).abs + (batches.map(_._2.size).sum - fed.size)
    ctx.ops(label, total, wrong + viewWrong,
      s"${all.size} of $total admitted, ${published.length} in the exactly-once view, digest " +
        (if (Stats.digest(published.map(_.toString)) == Stats.digest(all.map(_.toString))) "ok"
         else "mismatch") + s", near-dups admitted $miss of $eligible")
    ctx.ops(s"$label near-dup rejection", 1, if (miss * 10 > eligible) 1 else 0,
      s"$miss of $eligible near-dups admitted")
    admitted
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

object Admit {
  val Threshold = 0.8
  val PerTrigger = 500
  val HistoryDocs = 1000
  val FeedDocs = 1000

  /** Job descriptions `admitBatch` sets, plus `other` for its jobs
    * that run without one. */
  val Phases: Seq[String] = Seq("requireUnique", "reconcile-fanout", "bucket-discovery",
    "within-batch-cc", "admitted-checkpoint", "docs-append", "bands-append", "other")

  /** Sum of the per-partition offsets in a source progress offset JSON. */
  def offsetSum(json: String): Long =
    if (json == null) 0L
    else "\"\\d+\":(\\d+)".r.findAllMatchIn(json).map(_.group(1).toLong).sum
}

/** The connector's legs, measured alone in the traced run: a seeded
  * backlog across 8 stream partitions written with
  * `FileStreamClient.appendAll`, read by the `dis` source into Spark's
  * no-op sink, and the same records written from a materialized frame
  * into the `dis` sink with `exactlyOnceKey`, checked through the
  * exactly-once view. */
final class SourceLegs(ctx: Ctx) {
  private val spark = ctx.spark
  val Partitions = 8
  val Records = 200000

  def run(): Map[String, Double] = {
    val in = ctx.freshDir("backlog")
    val client = new FileStreamClient(in)
    client.createStream("in", Partitions)
    val rnd = new java.util.Random(ctx.seed)
    val keys = Array.tabulate(Records)(i => s"${ctx.seed}-$i-${rnd.nextLong()}")
    val byPart = keys.groupBy(_ => rnd.nextInt(Partitions))
    val appendMs = mutable.ArrayBuffer[Double]()
    byPart.foreach { case (p, ks) =>
      ks.grouped(5000).foreach { g =>
        val recs = g.toSeq.map(k => k.getBytes(UTF_8) -> s"""{"v":${rnd.nextInt(100000)}}""".getBytes(UTF_8))
        appendMs += ctx.span("sources.appendAll")(Stats.time(client.appendAll("in", p, recs))) * 1000.0
      }
    }
    val src = Map("client.root" -> in.toString, "stream" -> "in", "startingOffsets" -> "earliest")
    val readS = ctx.span("sources.read-only") {
      Stats.time {
        val q = spark.readStream.format("dis").options(src).load()
          .writeStream.format("noop").option("checkpointLocation", ctx.freshDir("ck").toString)
          .trigger(Trigger.AvailableNow()).start()
        ctx.register(q)
        q.awaitTermination()
      }
    }
    val frame = spark.read.format("dis").options(src).load()
      .select(col("key"), col("value")).localCheckpoint(true)
    val out = ctx.freshDir("write-only")
    new FileStreamClient(out).createStream("out", Partitions)
    val writeS = ctx.span("sources.write-only") {
      Stats.time {
        frame.write.format("dis").option("client.root", out.toString).option("stream", "out")
          .option("exactlyOnceKey", "true").option("exactlyOnceEpoch", "0")
          .option("exactlyOnceWriterId", s"write-only-${out.getFileName}").mode("append").save()
      }
    }
    val got = DisExactlyOnce.view(spark.read.format("dis").option("client.root", out.toString)
        .option("stream", "out").load(), strict = true)
      .select(col("key")).collect().map(r => new String(r.getAs[Array[Byte]](0), UTF_8))
    val have = got.toSet
    val wrong = (keys.toSet -- have).size + (have -- keys.toSet).size + (got.length - have.size)
    ctx.ops("source legs", Records, wrong, s"read back ${got.length} of $Records")
    Map("sources.append_ms_p50" -> Stats.quantile(appendMs.toSeq, 0.5),
      "sources.append_ms_p99" -> Stats.quantile(appendMs.toSeq, 0.99),
      "sources.read_rps" -> Records / readS, "sources.write_rps" -> Records / writeS)
  }
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Shared store-contract behaviors for the Incremental* admission
  * stores. Every store re-proves the same four guarantees; this trait
  * writes the assertions ONCE, parameterized by an admit / observe
  * binding, so adding store #7 costs one fixture instead of a copied
  * spec:
  *
  *  1. replay idempotence — re-admitting any already-admitted batch
  *     leaves the observable state unchanged (the at-least-once
  *     `foreachBatch` contract);
  *  2. batch-boundary invariance — the final observable state is the
  *     same whether the rows arrive as one batch or many;
  *  3. crash roll-forward — for every [[AtomicStore]] sub, the
  *     rename-window crash (live moved aside, swap never completed) is
  *     repaired by the next entry point;
  *  4. compaction safety — compaction preserves the observable state
  *     and replays remain idempotent afterwards;
  *  5. the [[Admission]] step — every admission job is labelled
  *     `<prefix>/<phase>` and the caller's job description is left as
  *     found; a rejected batch leaves no persistent RDD behind; the
  *     compaction policy fires above `maxFilesPerBucket`, is a no-op
  *     right after, and preserves the observable state.
  *
  * `observe` returns a CANONICAL sequence (sorted, multiset semantics):
  * duplicates must stay visible so a double-append cannot hide behind a
  * set-dedup in the test itself. */
trait StoreContractBehaviors { this: SparkTestBase =>

  final case class StoreFixture(
    name: String,
    mkStore: () => String,
    mkBatches: () => Seq[DataFrame],
    admit: (DataFrame, String) => Unit,
    observe: String => Seq[String],
    crashSubs: Seq[String] = Nil,
    compact: Option[String => Unit] = None,
    jobPrefix: Option[String] = None,
    rejectBatch: Option[() => DataFrame] = None,
    maybeCompact: Option[(String, Int) => Boolean] = None,
    compactWatches: Seq[String] = Nil)

  private def build(f: StoreFixture): (String, Seq[DataFrame]) = {
    val store = f.mkStore()
    val batches = f.mkBatches()
    batches.foreach(b => f.admit(b, store))
    (store, batches)
  }

  def storeContract(mkFixture: => StoreFixture): Unit = {
    lazy val f = mkFixture

    test(s"contract[${f.name}]: replaying any batch leaves the observable state unchanged") {
      val (store, batches) = build(f)
      val before = f.observe(store)
      assert(before.nonEmpty, "fixture observable is empty — the contract test is vacuous")
      f.admit(batches.head, store)
      f.admit(batches.last, store)
      assert(f.observe(store) === before, "replay mutated the store")
    }

    test(s"contract[${f.name}]: the final observable state is invariant under batch boundaries") {
      val (multi, batches) = build(f)
      val one = f.mkStore()
      f.admit(batches.reduce(_ unionByName _), one)
      assert(f.observe(one) === f.observe(multi),
        "one-shot and per-batch admission disagree on the final state")
    }

    if (f.crashSubs.nonEmpty)
      test(s"contract[${f.name}]: the rename-window crash rolls forward at the next " +
          s"entry point, for every sub (${f.crashSubs.mkString(", ")})") {
        val (store, _) = build(f)
        val before = f.observe(store)
        val fs = new org.apache.hadoop.fs.Path(store)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        for (sub <- f.crashSubs) {
          val live = new org.apache.hadoop.fs.Path(s"$store/$sub")
          assert(fs.exists(live), s"fixture never wrote $sub — its crash window is untested")
          require(fs.rename(live, new org.apache.hadoop.fs.Path(s"$store/__old_$sub")),
            s"could not simulate the $sub crash")
          assert(f.observe(store) === before, s"state lost in the $sub rename window")
          assert(fs.exists(live), s"live $sub not restored by recovery")
        }
      }

    f.compact.foreach { compactFn =>
      test(s"contract[${f.name}]: compaction preserves the observable state and " +
          "replays stay idempotent after it") {
        val (store, batches) = build(f)
        val before = f.observe(store)
        compactFn(store)
        assert(f.observe(store) === before, "compaction changed the observable state")
        f.admit(batches.head, store)
        assert(f.observe(store) === before, "replay after compaction mutated the store")
      }
    }

    f.jobPrefix.foreach { prefix =>
      test(s"contract[${f.name}]: admission labels every job $prefix/<phase> and " +
          "leaves the caller's job description as found") {
        import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
        val sc = spark.sparkContext
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val listener = new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit =
            seen.add(Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        }
        def marker(m: String): Unit = { sc.setJobDescription(m); spark.range(1).count() }
        val caller = s"contract-caller-${f.name}"
        val store = f.mkStore()
        val batches = f.mkBatches()
        sc.addSparkListener(listener)
        try {
          marker("contract-start")
          sc.setJobDescription(caller)
          // a fresh store, then appends to it
          batches.foreach { b =>
            f.admit(b, store)
            assert(sc.getLocalProperty("spark.job.description") === caller,
              "admission did not restore the caller's job description")
          }
          // listener events arrive in job order: once the end marker's
          // start is seen, every admission job's start has been too
          marker("contract-end")
          val deadline = System.nanoTime() + 30L * 1000000000L
          def all = seen.toArray(Array.empty[String]).toSeq
          while (!all.contains("contract-end") && System.nanoTime() < deadline) Thread.sleep(50)
          val during = all.dropWhile(_ != "contract-start").dropWhile(_ == "contract-start")
            .takeWhile(_ != "contract-end")
          assert(during.nonEmpty, "no admission job seen — the check is vacuous")
          val stray = during.filterNot(d => d.startsWith(s"$prefix/") && !d.endsWith("/null"))
            .distinct
          assert(stray.isEmpty, s"admission jobs not labelled $prefix/<phase>")
        } finally {
          sc.setJobDescription(null)
          sc.removeSparkListener(listener)
        }
      }
    }

    f.rejectBatch.foreach { reject =>
      test(s"contract[${f.name}]: a rejected batch leaves no persistent RDD behind " +
          "and the observable state unchanged") {
        val (store, _) = build(f)
        val before = f.observe(store)
        val cached = spark.sparkContext.getPersistentRDDs.keySet
        intercept[IllegalArgumentException](f.admit(reject(), store))
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cached
        assert(leaked.isEmpty, s"persistent RDDs left by the rejected batch: $leaked")
        assert(f.observe(store) === before, "the rejected batch mutated the store")
      }
    }

    f.maybeCompact.foreach { policy =>
      test(s"contract[${f.name}]: the compaction policy fires above maxFilesPerBucket, " +
          "is a no-op right after, and preserves the observable state") {
        val (store, _) = build(f)
        val before = f.observe(store)
        val fs = new org.apache.hadoop.fs.Path(store)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // (parquet files, bucket dirs) of one watched index
        def filesAndDirs(sub: String): (Int, Int) = {
          val p = new org.apache.hadoop.fs.Path(s"$store/$sub")
          val dirs = fs.listStatus(p).count(st => st.isDirectory && st.getPath.getName.contains("="))
          val it = fs.listFiles(p, true)
          var files = 0
          while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) files += 1
          (files, dirs)
        }
        val counts = f.compactWatches.map(sub => sub -> filesAndDirs(sub))
        assert(counts.exists { case (_, (files, dirs)) => files > dirs },
          s"fixture vacuous: no watched index holds more files than bucket dirs: $counts")
        assert(policy(store, 1), "policy did not fire above maxFilesPerBucket = 1")
        assert(!policy(store, 1), "policy re-fired on a just-compacted store")
        assert(f.observe(store) === before, "the policy's compaction changed the observable state")
      }
    }
  }
}

/** The six Incremental* stores under the shared contract.
  * [[IncrementalDecontam]] is excluded by design: its store is
  * write-once (`buildStore`) and admission is a stateless filter over
  * it — there is no admission state for the contract to exercise;
  * [[IncrementalDecontamSpec]] pins decision equality with the batch
  * operator instead. Store-SPECIFIC semantics (keep-first accounting,
  * pruned reads, equality oracles, duplicate-id guards, injected
  * crashes between appends) stay in each store's own spec. */
class StoreContractSpec extends SparkTestBase with StoreContractBehaviors {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // ---- IncrementalBm25: mixed-frequency corpus, observable = top-k
  //      answers for a fixed query + the admitted-id multiset ----
  private def bmDoc(i: Long): String = {
    val w = scala.collection.mutable.ArrayBuffer.empty[String]
    w ++= Seq.fill((i % 5 + 1).toInt)("spark")
    if (i % 3 == 0) w ++= Seq.fill(2)("shuffle")
    w ++= (1 to (i % 7 + 2).toInt).map(j => s"fill${(i + j) % 11}")
    w.mkString(" ")
  }
  storeContract(StoreFixture(
    name = "IncrementalBm25",
    mkStore = () => tmp("contract-bm25-"),
    mkBatches = () => Seq(1L to 8L, 9L to 16L, 17L to 24L)
      .map(r => r.map(i => i -> bmDoc(i)).toDF("doc_id", "text")),
    admit = (b, s) => { IncrementalBm25.admitBatch(b, "doc_id", "text", s); () },
    observe = s => {
      val top = IncrementalBm25.search(spark, s, Seq("spark", "shuffle"), 10)
        .collect().map(r => s"${r.getLong(0)}@${r.getDouble(1)}#${r.getLong(2)}").toSeq
      val ids = IncrementalBm25.admittedDocs(spark, s)
        .collect().map(_.getLong(0)).sorted.map(_.toString).toSeq
      top ++ ids
    },
    crashSubs = Seq("postings", "docstats", "stats"),
    compact = Some(s => IncrementalBm25.compactStore(spark, s)),
    jobPrefix = Some("admitBatch/bm25"),
    rejectBatch = Some(() => Seq(1L -> bmDoc(1L), 1L -> bmDoc(2L)).toDF("doc_id", "text")),
    maybeCompact = Some((s, n) => IncrementalBm25.maybeCompact(spark, s, n)),
    compactWatches = Seq("postings", "docstats")))

  // ---- IncrementalDedup: IDENTICAL-copy families (Jaccard 1), so one
  //      admit per family holds regardless of arrival order; observable
  //      = family-key multiset of the admitted docs ----
  private def dedupDoc(fam: Int): String =
    (1 to 20).map(i => s"f${fam}w$i").mkString(" ")
  storeContract(StoreFixture(
    name = "IncrementalDedup",
    mkStore = () => tmp("contract-dedup-"),
    mkBatches = () => Seq(
      Seq(1L -> dedupDoc(1), 2L -> dedupDoc(1), 3L -> dedupDoc(2), 4L -> dedupDoc(3)),
      Seq(5L -> dedupDoc(1), 6L -> dedupDoc(4), 7L -> dedupDoc(2), 8L -> dedupDoc(5)),
      Seq(9L -> dedupDoc(5), 10L -> dedupDoc(6), 11L -> dedupDoc(3), 12L -> dedupDoc(6)))
      .map(_.toDF("doc_id", "text")),
    admit = (b, s) => { IncrementalDedup.admitBatch(b, "doc_id", "text", 0.8, s); () },
    observe = s => IncrementalDedup.admittedDocs(spark, s)
      .collect().map(r => r.getString(1).split(" ").head.takeWhile(_ != 'w'))
      .sorted.toSeq,
    crashSubs = Seq("docs", "bands"),
    compact = Some(s => IncrementalDedup.compactStore(spark, s)),
    jobPrefix = Some("admitBatch"),
    rejectBatch = Some(() => Seq(1L -> dedupDoc(1), 1L -> dedupDoc(2)).toDF("doc_id", "text")),
    maybeCompact = Some((s, n) => IncrementalDedup.maybeCompact(spark, s, n)),
    compactWatches = Seq("bands")))

  // ---- IncrementalEmbedDedup: EXACT-copy vector families (cosine 1);
  //      observable = one-hot family index multiset ----
  private def evec(fam: Int): Array[Float] = {
    val v = new Array[Float](16); v(fam) = 1.0f; v
  }
  storeContract(StoreFixture(
    name = "IncrementalEmbedDedup",
    mkStore = () => tmp("contract-embed-"),
    mkBatches = () => Seq(
      Seq(1L -> evec(0), 2L -> evec(0), 3L -> evec(1), 4L -> evec(2)),
      Seq(5L -> evec(0), 6L -> evec(3), 7L -> evec(1), 8L -> evec(4)),
      Seq(9L -> evec(4), 10L -> evec(5), 11L -> evec(2), 12L -> evec(5)))
      .map(_.toDF("doc_id", "vec")),
    admit = (b, s) => { IncrementalEmbedDedup.admitBatch(b, "doc_id", "vec", 0.98, s); () },
    observe = s => IncrementalEmbedDedup.admittedVecs(spark, s)
      .collect().map { r =>
        val v = r.getSeq[Float](1)
        s"fam${v.indexOf(v.max)}"
      }.sorted.toSeq,
    crashSubs = Seq("vecs", "radii"),
    compact = Some(s => IncrementalEmbedDedup.compactStore(spark, s)),
    jobPrefix = Some("admitBatch/embed"),
    rejectBatch = Some(() => Seq(1L -> evec(0), 1L -> evec(1)).toDF("doc_id", "vec")),
    maybeCompact = Some((s, n) => IncrementalEmbedDedup.maybeCompact(spark, s, n)),
    compactWatches = Seq("vecs")))

  // ---- IncrementalChunkStore: observable = stored chunk-key multiset
  //      (novelty accounting is derivable from it: Σ novel_chars ==
  //      Σ chunk_len over the store, so key-set invariance is the
  //      STRONGER form of the old novelty-sum boundary test) ----
  private def chunkDoc(seed: Int, n: Int): String =
    scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .alphanumeric.take(n).mkString
  storeContract(StoreFixture(
    name = "IncrementalChunkStore",
    mkStore = () => tmp("contract-chunk-"),
    mkBatches = () => Seq(
      (1L to 4L).map(i => i -> (chunkDoc(i.toInt % 3, 800) + chunkDoc(50 + i.toInt, 200))),
      (5L to 8L).map(i => i -> (chunkDoc(i.toInt % 3, 800) + chunkDoc(50 + i.toInt, 200))),
      (9L to 12L).map(i => i -> chunkDoc(i.toInt, 600)))
      .map(_.toDF("doc_id", "text")),
    admit = (b, s) => { IncrementalChunkStore.admitBatch(b, "doc_id", "text", s); () },
    observe = s => IncrementalChunkStore.storedChunks(spark, s)
      .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").sorted.toSeq,
    crashSubs = Seq("chunks"),
    compact = Some(s => IncrementalChunkStore.compactStore(spark, s)),
    jobPrefix = Some("admitBatch/chunks"),
    rejectBatch = Some(() => Seq(1L -> chunkDoc(1, 300), 1L -> chunkDoc(2, 300))
      .toDF("doc_id", "text")),
    maybeCompact = Some((s, n) => IncrementalChunkStore.maybeCompact(spark, s, n)),
    compactWatches = Seq("chunks")))

  // ---- IncrementalReservoir: observable = the sample itself (the
  //      A-Res key is value-derived, so the top-k is boundary- and
  //      replay-invariant by construction) ----
  storeContract(StoreFixture(
    name = "IncrementalReservoir",
    mkStore = () => { val s = tmp("contract-resv-"); IncrementalReservoir.init(spark, s); s },
    mkBatches = () => Seq(0L until 50L, 50L until 120L, 120L until 200L)
      .map(r => r.map(i => (s"l${i % 3}", i, (i % 11 + 1).toDouble))
        .toDF("lang", "doc_id", "w")),
    admit = (b, s) => { IncrementalReservoir.admitBatch(b, "lang", "doc_id", "w", 10, s); () },
    observe = s => IncrementalReservoir.current(spark, s)
      .collect().map(r =>
        s"${r.getString(0)}:${r.getLong(1)}:${r.getDouble(2)}:${r.getLong(3)}")
      .sorted.toSeq,
    crashSubs = Seq("sample"),
    jobPrefix = Some("admitBatch/reservoir"),
    // exact re-offers are allowed; a conflicting weight is not
    rejectBatch = Some(() => Seq(("l0", 1L, 1.0), ("l0", 1L, 2.0)).toDF("lang", "doc_id", "w"))))
}

package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line
  * `{"metric":"total","value":sec,"unit":"sec","queries":{...},"sf":...}`
  * followed by a compact one-line summary (same metric/value/unit/sf,
  * plus n/nerr/cpus/loadavg, no per-query map) as the LAST stdout line:
  * the full line is ~8 KB at 199 queries and cannot survive the
  * driver's 2000-char tail capture (BENCH_r16..r18 all parsed:null),
  * so the machine-readable summary must fit the window. Per-query
  * timings remain in the full line and the persisted artifact.
  *
  * Each query is forced through a noop DSv2 write (full column
  * materialization — `count()` would let Catalyst prune the work).
  * A warmup query absorbs session/codegen startup so per-query numbers
  * reflect steady state; the warmup cost is reported separately inside
  * "queries" as "_warmup" (not part of the graded per-query set).
  *
  * Contention-proofing: each query runs SPARK_GRAFT_BENCH_REPS times
  * (default 3) and the MIN is reported. A single timed run on a loaded
  * machine can read 4-12x slower than the engine's steady state (round-2
  * bench recorded 60.8s for a 34.8s engine); min-of-N restores signal.
  * The schedule is HYBRID: one interleaved sweep of the whole list
  * first, then reps-1 back-to-back samples per query. Back-to-back
  * pairs hit Spark's codegen/broadcast caches warm, so the min stays
  * comparable to the historical pins (a fully interleaved schedule
  * measured every sample cold: +14% total, ~1.3x on small queries);
  * the sweep sample lands minutes away from the pair, so a contention
  * window can no longer swallow ALL of a query's samples (round-10: a
  * 0.49 s query read 4.18 s as its back-to-back min-of-3) — worst case
  * the min degrades to the cold sweep sample, ~1.3x, not 9x. Same
  * total budget.
  *
  * Each sample (and each warm-prelude query) runs in its own
  * [[Frames.scope]], so a query ends with what it cached and no sample
  * reads an earlier sample's cache. After each sample, outside the
  * timed region, the session's cache must be empty: a plan left cached
  * fails that sample with a "left a cached plan after its scope" error
  * and is cleared so the next sample starts clean. The same check runs
  * once before the first sample.
  *
  * SPARK_GRAFT_BENCH_ONLY (comma-separated query names) restricts the
  * run — the isolation-audit mode for chasing a drifted number without
  * the other queries contending for the same cores. Streaming-arm
  * caveat (ADVICE r17): a subset containing a non-leader q_streaming_*
  * arm WITHOUT q_streaming_best_of_n makes that arm take its SOLO
  * fallback (full per-arm replay, 10-100x the full-run deposit
  * number) — compare such runs against tools/bench_reference_solo.json
  * via `check_bench_drift.py --solo`, never against the full-run pins
  * (the checker enforces this by skipping non-leader arms when the
  * leader is absent from the artifact).
  *
  * SPARK_GRAFT_BENCH_WARM=<queries> is the pin-seeding flavor of ONLY:
  * same restriction, but after the standard warmup it first runs two
  * unrelated mid-size queries untimed. A bare isolated JVM pays
  * first-touch costs (codegen compiler warmup, parquet footer caches,
  * shuffle/broadcast paths) that a full run amortizes across 160
  * queries — the round-11 judge measured q_similarity_ivf at 2.7× its
  * full-run share in a cold isolated JVM with ZERO code difference.
  * The warm prelude puts isolated numbers in the same regime as
  * full-run shares, so pins seeded either way stay comparable (the
  * drift gate's apples-to-apples requirement).
  */
object Bench {
  /** 1-minute load average from /proc/loadavg (-1.0 where unreadable,
    * e.g. non-Linux). Captured before AND after the run so the drift
    * checker can mechanically annotate flags raised under host-steal
    * contention (BASELINE.md's recurring "load ~10 with zero local
    * processes" windows) instead of each one costing a manual
    * re-measure-idle adjudication. */
  private def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadBefore = loadAvg1m()
    // true (and the cache cleared) iff a plan is still cached
    def leaked(): Boolean = !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty && { spark.catalog.clearCache(); true }
    val leakError = "left a cached plan after its scope"

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    val warmup = time {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    }

    // A failed query must be distinguishable from a fast one: its time is
    // reported as -1 and its message lands in the "errors" map.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val warm = sys.env.get("SPARK_GRAFT_BENCH_WARM")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .orElse(warm)
    // warm prelude (see header): two unrelated mid-size queries, run
    // untimed, chosen to exercise join+agg and text-explode paths; a
    // target query is never its own warmer
    warm.foreach { targets =>
      Seq("q_join_enrich", "q_agg_stats", "q_wordcount")
        .filterNot(targets.contains).take(2)
        .foreach { w =>
          SparkEntry.queries.get(w).foreach { fn =>
            try Frames.scope(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
            catch { case e: Throwable =>
              System.err.println(s"[bench] warm prelude $w failed: ${e.getMessage}")
            }
          }
        }
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    if (leaked()) errors("_warmup") = leakError
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    // the scope's release and the leak check run outside the timed region
    def sample(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try {
        val sec = Frames.scope(time(fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
        if (leaked()) throw new IllegalStateException(leakError)
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
      } catch { case e: Throwable =>
        leaked()
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    // hybrid schedule: one interleaved sweep (the window-proof sample,
    // minutes away from the rest), then reps-1 warm back-to-back
    // samples per query (comparable to the historical warm-min pins)
    for ((name, fn) <- queries) sample(name, fn)
    for ((name, fn) <- queries; _ <- 2 to reps) sample(name, fn)
    // min over successful passes; -1 only if every pass failed
    val results = queries.map { case (name, _) => name -> best.getOrElse(name, -1.0) }

    val qs = (results :+ ("_warmup" -> warmup))
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // full JSON string escaping (same table as Verify): any control
    // char in an exception message must not break the machine-read line
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadAfter = loadAvg1m()
    val line = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"errors":$errs,"sf":${jstr(sfDir)},"loadavg":[$loadBefore,$loadAfter]}"""
    println(line)
    // The stdout line is also persisted: at 80+ queries it exceeds the
    // driver's tail-capture window, so tools/check_bench_drift.py falls
    // back to this file when the captured artifact is truncated. Only
    // full runs persist — a BENCH_ONLY isolation run must not clobber
    // the full-run artifact the drift gate reads — UNLESS an explicit
    // SPARK_GRAFT_BENCH_OUT names a destination (the streaming solo
    // sweep is a BENCH_ONLY run whose artifact
    // target/bench_solo_last.json feeds check_bench_drift.py --solo).
    // Amplified-scale runs persist to their own artifacts by default:
    // clobbering target/bench_last.json would poison the sf0.1 drift
    // fallback with ~10-100x numbers. check_bench_drift.py --sf1
    // reads bench_sf1_last.json; sf10 (the x100 scale gate) gets its
    // own file likewise. Runs at cpus != 32 likewise get a cpus-keyed
    // artifact (bench_last_c<cpus>.json): the round-18 driver's cpus=8
    // scaling run clobbered bench_last.json and poisoned the drift
    // fallback with 8-core numbers (VERDICT r18 item 2); the pins are
    // seeded at the driver's 32-core regime, so only cpus=32 full runs
    // may write the fallback path.
    val trimmed = sfDir.replaceAll("/+$", "")
    val cpuSuffix = if (cpus == "32") "" else s"_c$cpus"
    val defaultOut =
      if (trimmed.endsWith("sf10")) s"target/bench_sf10_last$cpuSuffix.json"
      else if (trimmed.endsWith("sf1")) s"target/bench_sf1_last$cpuSuffix.json"
      else s"target/bench_last$cpuSuffix.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    val persist = only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    // The full line above is ~8 KB at 199 queries and can never survive
    // the driver's 2000-char tail capture (BENCH_r16..r18: parsed:null —
    // the head of the line is always cut off, so nothing parses and
    // PERF_rN arrives empty). Print a compact summary as the LAST stdout
    // line: it is well under the window, so the driver's tail always
    // contains one complete parseable JSON object. Per-query timings
    // stay in the full line and in the persisted artifact; "ok" says
    // whether queries_file holds THIS run's full line (false when the
    // run did not persist or the write failed).
    val ok = persist && (try {
      val out = java.nio.file.Paths.get(outPath)
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, line.getBytes("UTF-8"))
      true
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist $outPath: ${e.getMessage}")
      false
    })
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"nerr":${errors.size},"cpus":$cpus,"sf":${jstr(sfDir)},"loadavg":[$loadBefore,$loadAfter],"queries_file":${jstr(outPath)},"ok":$ok}""")
    spark.stop()
  }
}

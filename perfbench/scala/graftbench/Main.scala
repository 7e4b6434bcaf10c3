package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the seed, the work
  * directory inside the checkout, the tracer and the operation tally
  * that becomes `attempted` / `failed`. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val work: Path) {
  var tracer = new Tracer(spark, enabled = false)
  var listeners: Listeners = _
  val checks = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Record `n` operations of which `bad` failed or were incorrect. */
  def ops(label: String, n: Long, bad: Long, detail: String = ""): Unit = synchronized {
    attempted += n
    failed += bad
    val line = s"$label: $n attempted, $bad failed${if (detail.isEmpty) "" else s" ($detail)"}"
    checks += line
    if (bad != 0) System.err.println(s"[graftbench] CHECK FAILED $line")
  }

  /** A fresh directory under the work dir. */
  def freshDir(name: String): Path = {
    val p = work.resolve(s"$name-${dirs.incrementAndGet()}")
    Files.createDirectories(p)
    p
  }

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    tracer.span(name, attrs)(body)

  /** Streaming queries started under a span, so trigger spans built
    * from progress events find their parent. */
  val queryParents = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  def register(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val sc = spark.sparkContext
    Option(sc.getLocalProperty(Tracer.SpanProp)).foreach { id =>
      queryParents.put(q.id.toString, (sc.getLocalProperty(Tracer.TraceProp).toLong, id.toLong))
    }
  }
}

/** One workload. `generate` builds the seeded inputs, replacing any
  * earlier ones; `warmup` is one untimed pass; `measure` runs for at
  * least `ctx.seconds` and returns the workload's end-to-end figures;
  * `layers` returns the per-layer figures only a traced run computes
  * (extra legs, store sizes). */
trait Workload {
  def generate(): Unit
  def warmup(): Unit
  def measure(): Map[String, Double]
  def layers(): Map[String, Double]
}

object Main {
  /** End-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "heap_live_mb" -> "MB", "p50_ms" -> "ms")

  /** Per-layer metrics, with their units. A layer a workload does not
    * exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.append_ms_p50" -> "ms", "sources.append_ms_p99" -> "ms",
    "sources.read_rps" -> "1/s", "sources.write_rps" -> "1/s",
    "sources.lag_records_max" -> "count", "sources.rows_per_trigger_p50" -> "count",
    "sources.xo_view_s" -> "s") ++
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "triggerExecution").map(p => s"microbatch.${p}_ms_p50" -> "ms") ++
    Seq("microbatch.triggers" -> "count", "streaming.admit_call_s_p50" -> "s") ++
    Admit.Phases.map(p => s"streaming.phase.${p}_ms" -> "ms") ++
    Seq("streaming.admitted_ratio" -> "ratio", "streaming.near_dups_missed" -> "count",
      "streaming.store_mb" -> "MB",
      "streaming.store_files" -> "count", "streaming.history_docs_end" -> "count") ++
    Curate.Steps.map(s => s"api.${s}_s" -> "s") ++
    Seq("gate.pass_s" -> "s", "gate.arm_s_max" -> "s", "gate.arm_s_p50" -> "s",
      "gate.arms" -> "count", "gate.build_s" -> "s", "gate.tail_s" -> "s") ++
    Seq("spark.planning_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.task_skew_max" -> "ratio", "spark.gc_ms" -> "ms", "spark.cached_mb_end" -> "MB")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "trace").contains("1")
    val work = Paths.get(arg(args, "work").getOrElse(sys.error("--work is required"))).toAbsolutePath
    val out = Paths.get(arg(args, "out").getOrElse(sys.error("--out is required")))
    val traceOut = arg(args, "trace-out").map(Paths.get(_))
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder().master("local[4]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ck-default").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ctx = new Ctx(spark, seed, seconds, work)
    val w: Workload = workload match {
      case "admit"  => new Admit(ctx)
      case "curate" => new Curate(ctx)
      case other    => sys.error(s"unknown workload '$other' (admit, curate)")
    }
    val result = mutable.LinkedHashMap[String, Any]()
    try {
      // set-up: session start, input generation three times (each
      // replaces the last; the median counts) and one untimed warm-up
      val gens = (1 to 3).map(_ => Stats.time(w.generate()))
      val warmS = Stats.time(w.warmup())
      System.err.println(f"[graftbench] session $sessionS%.2fs, " +
        s"inputs ${gens.map(x => f"$x%.2f").mkString(" ")} s, warm-up ${f"$warmS%.2f"} s")
      val setupS = sessionS + Stats.median(gens) + warmS

      val untraced = w.measure() ++ Map("setup_s" -> setupS, "heap_live_mb" -> Stats.heapLiveMb())
      result("e2e") = untraced
      if (!trace) {
        result("metrics") = metrics(EndToEnd, untraced)
      } else {
        val layers = tracedPass(ctx, w)
        result("e2e_traced") = layers._2
        result("metrics") = metrics(PerLayer, layers._1)
        val overhead = EndToEnd.filterNot(_._1 == "setup_s").map { case (m, u) =>
          val a = untraced(m); val b = layers._2.getOrElse(m, Double.NaN)
          System.err.println(f"[graftbench] tracing overhead $m%-14s untraced $a%12.3f  traced $b%12.3f $u")
          m -> Map("untraced" -> a, "traced" -> b, "unit" -> u)
        }
        result("tracing_overhead") = overhead.toMap
        traceOut.foreach { p =>
          writeSpans(p, ctx.tracer.spans.asScala.toSeq ++ layers._3)
          System.err.println(s"[graftbench] spans written to $p")
        }
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        ctx.ops("run", 1, 1, s"aborted: ${t.getClass.getSimpleName}: ${t.getMessage}")
    } finally {
      result("checks") = ctx.checks.toSeq
      result("attempted") = math.max(ctx.attempted, 1L)
      result("failed") = if (ctx.attempted == 0L) 1L else ctx.failed
      result("correct") = ctx.failed == 0L && ctx.attempted > 0L
      Files.write(out, Json.render(result).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  private def metrics(names: Seq[(String, String)], values: Map[String, Double]) =
    mutable.LinkedHashMap(names.map { case (m, u) =>
      m -> Map("value" -> values.getOrElse(m, 0.0), "unit" -> u)
    }: _*)

  /** The traced measure: listeners on, spans on, the same measured phase
    * again, then the workload's traced-only legs. Returns per-layer
    * metrics, the traced end-to-end figures and the listener spans. */
  private def tracedPass(ctx: Ctx, w: Workload): (Map[String, Double], Map[String, Double], Seq[Span]) = {
    val spark = ctx.spark
    ctx.tracer = new Tracer(spark, enabled = true)
    val ls = new Listeners(spark, ctx.tracer)
    ctx.listeners = ls
    val gc0 = Stats.gcMs()
    ls.install()
    val e2e = ctx.span("measure")(w.measure()) ++ Map("heap_live_mb" -> Stats.heapLiveMb())
    ls.drain()
    val gcMs = Stats.gcMs() - gc0
    val jobs = ls.jobSpans.size.toDouble
    val stages = ls.stages.asScala.toSeq
    val skew = stages.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble))
      if (med <= 0) 1.0 else s.taskMs.max / med
    }
    val cachedMb = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    val sparkLayer = Map(
      "spark.planning_ms" -> ls.planningMs.get.toDouble,
      "spark.jobs" -> jobs,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> ls.tasks.get.toDouble,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1048576.0,
      "spark.spill_mb" -> stages.map(_.spillBytes).sum / 1048576.0,
      "spark.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.gc_ms" -> gcMs,
      "spark.cached_mb_end" -> cachedMb)
    val progress = ls.progress.asScala.toSeq
    def phaseP50(ph: String): Double =
      Stats.median(progress.flatMap(p => Option(p.durationMs.get(ph)).map(_.doubleValue)))
    val micro = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "triggerExecution").map(ph => s"microbatch.${ph}_ms_p50" -> phaseP50(ph)).toMap +
      ("microbatch.triggers" -> progress.size.toDouble)
    val extra = ctx.span("layers")(w.layers())
    ls.uninstall()
    val queryParents = ctx.queryParents.asScala.toMap
    val listenerSpans = ls.spans(q => queryParents.getOrElse(q, (0L, 0L)))
    (sparkLayer ++ micro ++ extra, e2e, listenerSpans)
  }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    val self = Tracer.selfTimes(spans)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try spans.sortBy(_.startUs).foreach { s =>
      w.write(Json.render(mutable.LinkedHashMap[String, Any](
        "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "dur_ms" -> s.durUs / 1000.0,
        "self_ms" -> self.getOrElse(s.id, 0.0) / 1000.0, "attrs" -> s.attrs)))
      w.write('\n')
    } finally w.close()
  }
}

object Stats {
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Heap left live by forced full collections: each heap pool's usage
    * as of the end of its last collection. Spark's context cleaner
    * frees the blocks of unreachable RDDs asynchronously after a
    * collection, so collect again until two readings agree. */
  def heapLiveMb(): Double = {
    def live(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum / 1048576.0
    }
    var prev = live()
    Thread.sleep(300)
    var cur = live()
    var i = 0
    while (i < 8 && math.abs(cur - prev) > 0.5) {
      Thread.sleep(300)
      prev = cur
      cur = live()
      i += 1
    }
    cur
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Order-free 64-bit digest of a set of strings: sum and xor of
    * per-element 64-bit hashes, folded together. */
  def digest(xs: Iterable[String]): String = {
    var sum = 0L
    var xor = 0L
    xs.foreach { x => val h = hash64(x); sum += h; xor ^= h * 0x9E3779B97F4A7C15L }
    f"$sum%016x$xor%016x"
  }

  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h ^ (h >>> 29)
  }

  /** Total size and file count under a directory. */
  def dirSize(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case (a, b) => s"[${render(a)},${render(b)}]"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: times are epoch microseconds so benchmark spans (taken
  * from `System.nanoTime`) and Spark listener spans (epoch millis) sit
  * on one axis. `parent` is 0 for a root span. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startUs: Double, endUs: Double, attrs: Map[String, String] = Map.empty) {
  def durUs: Double = endUs - startUs
}

/** In-memory span recorder. Disabled, `span` only runs its body. The
  * current span is a Spark local property: jobs carry it, and child
  * threads (the stream thread, foreachBatch and append pools) inherit
  * it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val nanoToEpochUs = System.currentTimeMillis() * 1000.0 - System.nanoTime() / 1000.0
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()
  def nowUs(): Double = System.nanoTime() / 1000.0 + nanoToEpochUs

  /** Time `body` as a span named `name`; a root span starts a new trace. */
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val parent = Option(sc.getLocalProperty(Tracer.SpanProp))
    val prevTrace = sc.getLocalProperty(Tracer.TraceProp)
    val id = nextId()
    val trace = Option(prevTrace).fold(id)(_.toLong)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    sc.setLocalProperty(Tracer.TraceProp, trace.toString)
    val t0 = nowUs()
    try body
    finally {
      spans.add(Span(trace, id, parent.fold(0L)(_.toLong), name, t0, nowUs(), attrs))
      sc.setLocalProperty(Tracer.SpanProp, parent.orNull)
      sc.setLocalProperty(Tracer.TraceProp, prevTrace)
    }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val TraceProp = "graftbench.trace"
  // local properties Spark's micro-batch engine sets on its jobs
  val QueryIdProp = "sql.streaming.queryId"
  val BatchIdProp = "streaming.sql.batchId"

  /** Self time of every span: its duration minus the union of the
    * intervals its children cover (children clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(s.durUs - covered, 0.0)
    }.toMap
  }
}

/** What the listeners saw of one stage. */
final case class StageStat(shuffleWriteBytes: Long, spillBytes: Long, taskMs: Seq[Long])

/** Spark's own listener events, registered by the benchmark itself:
  * jobs and stages (SparkListener), Catalyst phases
  * (QueryExecutionListener) and trigger progress
  * (StreamingQueryListener). Jobs become spans under the benchmark span
  * named by their local property, or under their micro-batch trigger. */
final class Listeners(spark: SparkSession, tracer: Tracer) {
  private val jobProps = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Properties]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  val stages = new ConcurrentLinkedQueue[StageStat]()
  val jobSpans = new ConcurrentLinkedQueue[(Span, String, String, String)]() // span, desc, queryId, batchId
  val planningMs = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  // streaming query id -> start (event stamp) and termination (delivery
  // time), epoch ms
  val queryStarts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  val queryEnds = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      if (e.properties != null) jobProps.put(e.jobId, e.properties)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val p = Option(jobProps.remove(e.jobId)).getOrElse(new java.util.Properties())
      val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      def prop(k: String) = Option(p.getProperty(k)).getOrElse("")
      val parent = prop(Tracer.SpanProp)
      val trace = prop(Tracer.TraceProp)
      val desc = prop("spark.job.description")
      jobSpans.add((Span(if (trace.isEmpty) 0L else trace.toLong, tracer.nextId(),
        if (parent.isEmpty) 0L else parent.toLong, "spark.job",
        t0 * 1000.0, e.time * 1000.0,
        Map("job" -> e.jobId.toString, "desc" -> desc)),
        desc, prop(Tracer.QueryIdProp), prop(Tracer.BatchIdProp)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null)
        stageTaskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
          .add(e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val ms = Option(stageTaskMs.remove((si.stageId, si.attemptNumber())))
        .map(_.asScala.toSeq).getOrElse(Nil)
      stages.add(StageStat(
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled, ms))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planningMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryStarts.put(e.id.toString, java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      queryEnds.put(e.id.toString, System.currentTimeMillis())
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Trigger spans (from progress events) and the job spans, with jobs
    * that ran inside a trigger re-parented under it. */
  def spans(queryParent: String => (Long, Long)): Seq[Span] = {
    val triggers = mutable.Map[(String, String), Span]()
    val out = mutable.ArrayBuffer[Span]()
    progress.asScala.foreach { p =>
      val (trace, parent) = queryParent(p.id.toString)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000.0
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trig = Span(trace, tracer.nextId(), parent, "microbatch.trigger",
        start, start + d.getOrElse("triggerExecution", 0L) * 1000.0,
        Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
      triggers((p.id.toString, p.batchId.toString)) = trig
      out += trig
      // progress reports phase durations, not start times: lay the
      // phases out in the order the micro-batch engine runs them
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          d.get(ph).foreach { ms =>
            out += Span(trace, tracer.nextId(), trig.id, s"microbatch.$ph", t, t + ms * 1000.0)
            t += ms * 1000.0
          }
        }
    }
    jobSpans.asScala.foreach { case (s, _, qid, bid) =>
      triggers.get((qid, bid)) match {
        case Some(trig) if s.parent == 0L || s.parent == queryParent(qid)._2 =>
          out += s.copy(trace = trig.trace, parent = trig.id)
        case _ => out += s
      }
    }
    out.toSeq
  }
}

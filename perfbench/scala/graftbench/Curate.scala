package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Graft

/** `curate`: batch operators, shuffles and planning do the work — no
  * connector, no streaming. One pass runs `CurationPipelineDrive`'s
  * chain (URL gate → quality gate → MinHash near-dup pairs → clusters
  * → keep-first → decontaminate → token-budget mixture → sequence
  * packing) over a synthetic document table shaped like the sf0.1
  * fixture (see [[Corpus]]), each operator on its input materialized
  * with `localCheckpoint` (the stage-boundary pattern the engine's own
  * pipeline specs use for long chains). Passes repeat for the measured
  * time; `p50_ms` is the median pass time and each operator's call is
  * a span, so the traced run reports every `api` step's own time.
  *
  * The table's content is fixed; the seed decides the row order and
  * how the rows split into parquet files. Every operator is
  * deterministic, so each pass must reproduce the recorded shape
  * counts and the digest of its packed (doc_id, seq_id) rows on every
  * seed. */
final class Curate(ctx: Ctx) extends Workload {
  import Curate._
  private val spark = ctx.spark
  private val input = ctx.work.resolve("documents.parquet").toString
  // per-step seconds of every pass of the last measured phase
  private val stepSecs = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  override def generate(): Unit = {
    val rnd = new java.util.Random(ctx.seed)
    val rows = mutable.ArrayBuffer(documents(): _*)
    // seeded row order (Fisher-Yates) and file count
    for (i <- rows.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = rows(i); rows(i) = rows(j); rows(j) = t
    }
    spark.createDataFrame(rows.asJava, Schema)
      .repartition(2 + rnd.nextInt(5)).write.mode("overwrite").parquet(input)
  }

  override def warmup(): Unit = check("warm-up pass", pass())

  override def measure(): Map[String, Double] = {
    stepSecs.clear()
    val t0 = System.nanoTime()
    val times = mutable.ArrayBuffer[Double]()
    while (times.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      var shape: Shape = null
      times += Stats.time { shape = ctx.span("curate.pass")(pass()) }
      check(s"pass ${times.size}", shape)
    }
    val ms = times.map(_ * 1000.0).toSeq
    System.err.println(s"[graftbench] curate passes ${ms.map(x => f"$x%.0f").mkString(" ")} ms")
    Map("p50_ms" -> Stats.median(ms))
  }

  override def layers(): Map[String, Double] =
    Steps.map(s => s"api.${s}_s" -> Stats.median(stepSecs.getOrElse(s, Nil).toSeq)).toMap ++
      ctx.span("gate")(new Gate(ctx).run())

  /** One pass of the chain; each operator call is timed on its own. */
  private def pass(): Shape = {
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def step(name: String)(op: => DataFrame): DataFrame = {
      var out: DataFrame = null
      val secs = ctx.span(s"api.$name")(Stats.time { out = mat(op) })
      stepSecs.getOrElseUpdate(name, mutable.ArrayBuffer()) += secs
      out
    }
    val docs = mat(spark.read.parquet(input)
      .select(col("doc_id"), col("text"), col("lang"), col("source")))
    val urls = mat(docs.select(col("doc_id"), url(col("doc_id")).as("url")))
    val urlKept = step("urlDedup")(Graft.urlDedup(urls, "doc_id", "url"))
    val gated0 = mat(docs.join(urlKept.filter(col("kept")).select(col("doc_id")), "doc_id"))
    val quality = step("qualityScore")(Graft.qualityScore(gated0, "doc_id", "text"))
    val gated = mat(gated0.join(quality.filter(col("quality") > 0.3 && col("n_words") >= 5)
      .select(col("doc_id")), "doc_id"))
    val pairs = step("minhashDupes")(Graft.minhashDupes(gated, "doc_id", "text", 0.8))
    val clusters = step("dupClusters")(Graft.dupClusters(pairs, "id_a", "id_b"))
    val keyed = mat(gated.join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id"))))
    val canonical = step("dedupKeepFirst")(Graft.dedupKeepFirst(keyed, Seq("cluster_id"), "doc_id"))
    val bench = mat(docs.filter(pmod(col("doc_id"), lit(97)) === 0).select(col("doc_id"), col("text")))
    val train = mat(canonical.filter(pmod(col("doc_id"), lit(97)) =!= 0))
    val contam = step("decontaminate")(Graft.decontaminate(train, "doc_id", "text", bench, "text", 8))
    val clean = mat(train.join(contam.filter(col("contaminated") === 0).select(col("doc_id")), "doc_id"))
    val counts = step("tokenCounts")(Graft.tokenCounts(clean, "doc_id", "text"))
    val withTokens = mat(counts.select(col("doc_id"), col("ws_tokens").as("n_tokens"))
      .join(clean.select(col("doc_id"), col("lang")), "doc_id"))
    val sampled = step("tokenBudgetSample")(
      Graft.tokenBudgetSample(withTokens, "doc_id", "lang", "n_tokens", Budgets))
    val mixed = mat(sampled.filter(col("kept") === 1).select(col("doc_id"), col("n_tokens")))
    val packed = step("packSequences")(Graft.packSequences(mixed, "doc_id", "n_tokens", SeqTokens))
    val rows = packed.select(col("doc_id"), col("seq_id")).collect()
    Shape(gated.count(), rows.map(_.getLong(0)).distinct.length.toLong,
      rows.map(_.get(1).toString).distinct.length.toLong,
      Stats.digest(rows.map(r => s"${r.getLong(0)}:${r.get(1)}")))
  }

  private def check(label: String, s: Shape): Unit =
    ctx.ops(label, 1, if (s == Expected) 0 else 1, s"shape $s, expected $Expected")
}

object Curate {
  val Docs = 5000
  val SeqTokens = 2048L
  // per-language token budgets at about half of each language's
  // token mass after the gates, so the mixture step drops docs
  val Budgets: Map[String, Long] = Map("en" -> 10L * Docs, "de" -> 17L * Docs / 5,
    "es" -> 17L * Docs / 5, "fr" -> 17L * Docs / 5, "zh" -> 17L * Docs / 5)

  /** Chain shape: docs after the URL and quality gates, docs packed,
    * sequences, digest of the packed (doc_id, seq_id) rows. */
  final case class Shape(afterGates: Long, packedDocs: Long, sequences: Long, digest: String)
  val Expected = Shape(5000L, 2162L, 58L, "ce0a03c777d05928c6ac1f5be85890b4")

  val Steps: Seq[String] = Seq("urlDedup", "qualityScore", "minhashDupes", "dupClusters",
    "dedupKeepFirst", "decontaminate", "tokenCounts", "tokenBudgetSample", "packSequences")

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType), StructField("source", StringType)))

  /** `CurationPipelineDrive`'s messy synthetic URLs: host case,
    * userinfo, default and explicit ports, tracking parameters and
    * fragments. */
  def url(id: Column): Column =
    when(id % 11 === 0, lit("not a url")).otherwise(concat(
      lit("HTTPS://u:p@Site"), id % 7001, lit(".COM"),
      when(id % 3 === 0, ":443").when(id % 3 === 1, ":8443").otherwise(""),
      lit("/p/"), id % 503,
      when(id % 2 === 0, "?utm_source=x&b=2&a=1#f").otherwise("?z=9&a=0")))

  /** The fixed document table: sf0.1-shaped docs (see [[Corpus]]). */
  def documents(): Seq[Row] = Corpus.documents(new java.util.Random(20261017L), Docs, 0L)
    .map(d => Row(d.id, d.text, d.lang, d.source))
}

package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.ConnectorQueries

/** The `gate` layer, measured as a leg of the traced `curate` run: one
  * `ConnectorQueries.qStreamingBestOfN` leader call, i.e. the thirteen
  * streaming gate arms as concurrent `AvailableNow` queries over shared
  * feeds on one session, on generated fixture tables the size of the
  * sf0.01 fixture (10,000 events over 150 users and 30 days, 500
  * documents, 500 embeddings). It is timed from outside: the call
  * itself, and each arm's query start and termination as the
  * `StreamingQueryListener` reports them.
  *
  * The tables' content is fixed; the seed permutes their row order and
  * file split, which the arms must not see. Check: every arm's rows
  * (the leader's result and the deposits the other arms' bindings
  * return) must match the order-free digest recorded for these tables. */
final class Gate(ctx: Ctx) {
  import Gate._
  private val spark = ctx.spark

  def run(): Map[String, Double] = {
    val dir = ctx.freshDir("gate-fixture").toString
    writeTables(dir)
    // the gate's streams plan at the session's shuffle width, as every
    // other query of the run does
    spark.conf.set("spark.graft.gate.shufflePartitions", spark.conf.get("spark.sql.shuffle.partitions"))
    val ls = ctx.listeners
    ls.drain()
    val known = ls.queryStarts.keySet.asScala.toSet
    val t0 = System.currentTimeMillis()
    val (leader, parent) = ctx.span("gate.pass") {
      val sc = spark.sparkContext
      val parent = Option(sc.getLocalProperty(Tracer.SpanProp))
        .map(id => (sc.getLocalProperty(Tracer.TraceProp).toLong, id.toLong))
      (ConnectorQueries.qStreamingBestOfN(spark, dir), parent)
    }
    val t1 = System.currentTimeMillis()
    ls.drain()
    val arms = ls.queryStarts.asScala.toMap -- known
    // the arms' trigger spans hang under the pass
    parent.foreach(p => arms.keys.foreach(ctx.queryParents.put(_, p)))
    val ends = ls.queryEnds.asScala.toMap.filter { case (q, _) => arms.contains(q) }
    val armS = arms.toSeq.flatMap { case (q, s) => ends.get(q).map(e => (e - s) / 1000.0) }
    val rows = Arms.map { case (name, call) =>
      name -> Stats.digest((if (call == null) leader else call(spark, dir)).collect().map(_.toString))
    }
    val wrong = rows.count { case (name, d) => Expected.get(name).forall(_ != d) }
    ctx.ops("gate arms", Arms.size, wrong + math.abs(arms.size - Arms.size),
      s"${arms.size} arm queries, digests ${rows.map { case (n, d) =>
        s"$n=$d${if (Expected.get(n).contains(d)) "" else " (mismatch)"}" }.mkString(", ")}")
    Map(
      "gate.pass_s" -> (t1 - t0) / 1000.0,
      "gate.arms" -> arms.size.toDouble,
      "gate.arm_s_max" -> (if (armS.isEmpty) 0.0 else armS.max),
      "gate.arm_s_p50" -> Stats.median(armS),
      "gate.build_s" -> (if (arms.isEmpty) 0.0 else (arms.values.max - t0) / 1000.0),
      "gate.tail_s" -> (if (ends.isEmpty) 0.0 else (t1 - ends.values.max).max(0L) / 1000.0))
  }

  private def writeTables(dir: String): Unit = {
    val rnd = new java.util.Random(ctx.seed)
    def write(name: String, rows: Seq[Row], schema: StructType): Unit = {
      val shuffled = rows.map(r => (rnd.nextLong(), r)).sortBy(_._1).map(_._2)
      spark.createDataFrame(shuffled.asJava, schema)
        .repartition(1 + rnd.nextInt(4)).write.parquet(s"$dir/$name.parquet")
    }
    write("events", events(), EventSchema)
    write("documents", Corpus.documents(new java.util.Random(20261017L), 500, 0L)
      .map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), DocSchema)
    write("embeddings", embeddings(), EmbeddingSchema)
  }
}

object Gate {
  /** The thirteen arms' public bindings; the leader (null) is the call
    * the pass is timed on. */
  val Arms: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_streaming_best_of_n" -> null,
    "q_streaming_bm25" -> ConnectorQueries.qStreamingBm25 _,
    "q_streaming_chunks" -> ConnectorQueries.qStreamingChunks _,
    "q_streaming_decontam" -> ConnectorQueries.qStreamingDecontam _,
    "q_streaming_domain_quota" -> ConnectorQueries.qStreamingDomainQuota _,
    "q_streaming_embed_neardup" -> ConnectorQueries.qStreamingEmbedNeardup _,
    "q_streaming_kmv" -> ConnectorQueries.qStreamingKmv _,
    "q_streaming_neardup" -> ConnectorQueries.qStreamingNeardup _,
    "q_streaming_psi" -> ConnectorQueries.qStreamingPsi _,
    "q_streaming_reservoir" -> ConnectorQueries.qStreamingReservoir _,
    "q_streaming_rl_metrics" -> ConnectorQueries.qStreamingRlMetrics _,
    "q_streaming_sessionize" -> ConnectorQueries.qStreamingSessionize _,
    "q_streaming_sft" -> ConnectorQueries.qStreamingSft _)

  /** Digest of each arm's rows on the fixed tables. */
  val Expected: Map[String, String] = Map(
    "q_streaming_best_of_n" -> "6a8e7438195ed87f5908d69507e9e20d",
    "q_streaming_bm25" -> "6685c87055c5db1d361fc141723c51d7",
    "q_streaming_chunks" -> "5a46c1d972ec5f724f6e287903e7150c",
    "q_streaming_decontam" -> "824d5f665db61106e8197ad2d640f0fe",
    "q_streaming_domain_quota" -> "09be3cd1c140e4e4855cb0d4ec8d002c",
    "q_streaming_embed_neardup" -> "9cbb0c853cdc7dac6da6aefb0ac28618",
    "q_streaming_kmv" -> "08fcc7e6ee098629e3c90dae63ecc251",
    "q_streaming_neardup" -> "7348eb43468507121505f24ad3184398",
    "q_streaming_psi" -> "3d6f5826b57cf98931a7624554ef10f3",
    "q_streaming_reservoir" -> "cf7c32507e5ec517e336c04c02973ae5",
    "q_streaming_rl_metrics" -> "da2a000f9c8c91b8013b9c9f6224796c",
    "q_streaming_sessionize" -> "8cf1276509c7cf2ba4a829ecf0078d4f",
    "q_streaming_sft" -> "ef7c7655766e6a055f20e19cb553f31b")

  val EventSchema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))
  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val EmbeddingSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  private val Types = Array("click", "error", "purchase", "signup", "view")

  /** 10,000 events in id order over 30 days from 2024-01-01 UTC, times
    * at whole microseconds, 150 users, five event types, values at
    * cents. */
  def events(): Seq[Row] = {
    val rnd = new java.util.Random(20261017L)
    val t0 = 1704067200000000L
    val span = 30L * 86400L * 1000000L
    val ts = Array.fill(10000)((rnd.nextDouble() * span).toLong).sorted
    ts.indices.map { i =>
      Row(i.toLong, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos((t0 + ts(i)) * 1000L)),
        rnd.nextInt(150).toLong, Types(rnd.nextInt(Types.length)),
        math.round(rnd.nextDouble() * rnd.nextDouble() * 56000.0) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  /** 500 64-dimensional embeddings in ten labelled clusters. */
  def embeddings(): Seq[Row] = {
    val rnd = new java.util.Random(20261018L)
    val centres = Array.fill(10, 64)(rnd.nextGaussian() * 0.12)
    (0 until 500).map { i =>
      val label = rnd.nextInt(10)
      Row(i.toLong, centres(label).map(c => (c + rnd.nextGaussian() * 0.06).toFloat).toSeq, label)
    }
  }
}

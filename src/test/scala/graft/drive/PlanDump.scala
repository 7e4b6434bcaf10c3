package graft.drive

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans, or the oracle text. Three modes:
  *
  *  - no args: the headline queries at sf0.001 to PLANS.md — the
  *    at-a-glance evidence that pushdown/broadcast/partial-agg/
  *    TakeOrdered actually happen. Regenerate:
  *    `sbt "Test/runMain graft.drive.PlanDump"`.
  *  - `<round> <tag> <q1,q2,...> [sfDir]`: each named query to
  *    plans/<round>/<query>_<tag>.txt — an optimization round's
  *    before/after plan evidence, at sf0.01 unless `sfDir` is given
  *    (plan shape, not data scale, is the evidence; AQE initial plans
  *    are identical across SFs for these queries).
  *  - `oracle <outFile>`: every `SparkEntry.oracleSql` value, one
  *    `name<TAB>sql` line per query in name order, with all whitespace
  *    deleted — diff two dumps to show a refactor left the oracle text
  *    unchanged up to layout.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracle")) { oracleText(args(1)); return }
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.nonEmpty) roundPlans(spark, args) else headlinePlans(spark)
    spark.stop()
  }

  private def explain(spark: SparkSession, name: String, dir: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  private def roundPlans(spark: SparkSession, args: Array[String]): Unit = {
    val round = args(0)
    val tag = if (args.length > 1) args(1) else "before"
    val names = if (args.length > 2) args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
                else Seq.empty
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    Files.createDirectories(Paths.get(s"plans/$round"))
    names.foreach { name =>
      val txt = explain(spark, name, dir)
      Files.write(Paths.get(s"plans/$round/${name}_$tag.txt"), txt.getBytes("UTF-8"))
      println(s"wrote plans/$round/${name}_$tag.txt (${txt.length} chars)")
    }
  }

  private def oracleText(out: String): Unit = {
    val lines = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (name, sql) =>
      s"$name\t${sql.replaceAll("\\s+", "")}\n"
    }
    Files.write(Paths.get(out), lines.mkString.getBytes("UTF-8"))
    println(s"wrote $out (${lines.size} oracle queries)")
  }

  private def headlinePlans(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.001"
    val headline = Seq(
      "q_filter_range", "q_agg_stats", "q_join_enrich", "q_topk",
      "q_minhash_dupes", "q_similarity_knn", "q_dis_roundtrip",
      "q_embed_neardup", "q_asof_join", "q_late_data", "q_pack_sequences",
      "q_pii_redact", "q_line_dedup", "q_shuffle_shards",
      "q_decontaminate_bloom", "q_similarity_pq", "q_domain_filter",
      "q_nb_classify", "q_profile", "q_cross_dedup", "q_split_groups",
      "q_heavy_hitters", "q_winnow", "q_url_normalize", "q_quality_gate",
      "q_mix_weights", "q_ccnet_bucket", "q_pagerank", "q_decontaminate_embed",
      "q_domain_cap", "q_bm25_search", "q_range_join", "q_skew_join",
      "q_semdedup", "q_dsir", "q_weighted_sample", "q_weighted_stratum",
      "q_psi_drift", "q_unicode_norm", "q_pmi", "q_blocklist",
      "q_html_extract", "q_oov_rate", "q_knn_classify", "q_cluster_dedup",
      "q_anchor_extract", "q_chunk_windows", "q_code_detect", "q_chunk_search",
      "q_scd2", "q_edit_dupes", "q_cdc_chunks", "q_pricing_summary",
      "q_top_orders", "q_revenue_forecast", "q_gap_fill", "q_rank_eval",
      "q_rouge", "q_skyline", "q_time_weighted", "q_multimodal_wav",
      "q_phrase_search", "q_maxsim_search", "q_regional_volume",
      "q_phash_dupes", "q_version_diff", "q_chi2", "q_cascade", "q_kanon",
      "q_hard_negatives", "q_hard_negatives_ivf", "q_knn_classify_ivf",
      "q_sft_pack_tokens", "q_dpo_export",
      "q_similarity_sq8", "q_ann_recall", "q_heavy_hitters_cms",
      "q_ece_calibration", "q_distinct_kmv")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.drive.PlanDump` at sf0.001. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for dims,\n")
    sb.append("`TakeOrderedAndProject` for top-N, partial+final `HashAggregate`,\n")
    sb.append("`floatvecdot` staying native in projections.\n")
    headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n")
      sb.append(explain(spark, name, dir).take(6000))
      sb.append("\n```\n")
    }
    Files.write(Paths.get("PLANS.md"), sb.toString.getBytes("UTF-8"))
    println("WROTE PLANS.md " + sb.length + " chars")
  }
}

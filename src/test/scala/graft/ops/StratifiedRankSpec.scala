package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The distributed two-pass stratified rank must be VALUE-identical to
  * the dense per-stratum window it replaces — the whole point is that
  * only the plan changes. Checked against the naive window on real
  * fixture data (64 chunks over 500–10k rows exercises many chunks per
  * stratum, including empty and single-row ones) plus adversarial
  * shapes: heavy ties, a single stratum, descending keys via negate. */
class StratifiedRankSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("row_number matches the dense window (documents, 2-col strata, desc key)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("lang"), col("doc_id"), col("n_chars"))
    val naive = docs.withColumn("rn", row_number().over(
      Window.partitionBy(col("source"), col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long"))
    val kernel = StratifiedRank.stratifiedRank(docs, Seq("source", "lang"),
      negate(col("n_chars")), Seq(col("doc_id").asc), rankName = "rn")
    assert(kernel.count() === naive.count())
    assert(naive.join(kernel, Seq("source", "lang", "doc_id", "n_chars", "rn"))
      .count() === naive.count())
  }

  test("weight prefix sum matches the dense running sum (events, heavy ties)") {
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("event_type"), col("value"))
      // collapse values to ~20 distinct per stratum: many exact ties,
      // several chunk boundaries landing ON tie groups
      .withColumn("v", floor(col("value") * 2).cast("long"))
      .withColumn("w", pmod(col("event_id"), lit(7L)) + 1L)
    val naive = e.withColumn("ps", coalesce(
      sum(col("w")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("v"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val kernel = StratifiedRank.stratifiedRank(e, Seq("event_type"),
      col("v"), Seq(col("event_id")), weight = Some(col("w")),
      psumName = "ps").drop("__srank")
    assert(naive.join(kernel,
      Seq("event_id", "event_type", "value", "v", "w", "ps")).count() === naive.count())
  }

  test("single stratum and single-row strata degenerate correctly") {
    import spark.implicits._
    val one = Seq(("a", 5L), ("a", 3L), ("a", 9L), ("b", 1L))
      .toDF("s", "x")
    val r = StratifiedRank.stratifiedRank(one, Seq("s"), col("x"))
      .collect().map(row => (row.getString(0), row.getLong(1), row.getLong(2))).toSet
    assert(r === Set(("a", 3L, 1L), ("a", 5L, 2L), ("a", 9L, 3L), ("b", 1L, 1L)))
  }

  test("ranks are a dense 1..n permutation per stratum regardless of chunking") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("doc_id"))
    val r = StratifiedRank.stratifiedRank(docs, Seq("lang"), col("doc_id"))
    val bad = r.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), max(col("__srank")).as("mx"),
        min(col("__srank")).as("mn"), countDistinct(col("__srank")).as("d"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1L || col("d") =!= col("n"))
    assert(bad.count() === 0)
  }

  test("no strata: rank and weight prefix sum match the global window (documents)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("w", pmod(col("doc_id"), lit(7L)) + 1L)
    val global = Window.orderBy(col("n_chars"), col("doc_id"))
    val naive = docs
      .withColumn("rn", row_number().over(global).cast("long"))
      .withColumn("ps", coalesce(sum(col("w")).over(
        global.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val kernel = StratifiedRank.stratifiedRank(docs, Nil, col("n_chars"),
      Seq(col("doc_id")), weight = Some(col("w")), rankName = "rn", psumName = "ps")
    assert(kernel.columns.toSeq === naive.columns.toSeq)
    assert(kernel.count() === naive.count())
    assert(naive.exceptAll(kernel).count() === 0L)
  }

  test("running max matches the global running max (events, heavy ties)") {
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("value"))
      // ~20 distinct keys: chunk boundaries land on tie groups
      .withColumn("v", floor(col("value") / 7).cast("long"))
      .withColumn("w", pmod(col("event_id") * 7919L, lit(1000L)))
    val naive = e.withColumn("mx", max(col("w")).over(
      Window.orderBy(col("v"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    val kernel = StratifiedRank.stratifiedRank(e, Nil, col("v"),
      Seq(col("event_id")), weight = Some(col("w")), psumName = "mx",
      running = StratifiedRank.Running.Max).drop("__srank")
    val keys = naive.select(countDistinct(col("v"))).head().getLong(0)
    assert(keys >= 10L && keys <= 40L, s"$keys distinct keys")
    assert(kernel.count() === naive.count())
    // the first row in the order has no predecessor: null in both
    assert(kernel.filter(col("mx").isNull).count() === 1L)
    assert(naive.exceptAll(kernel).count() === 0L)
  }
}

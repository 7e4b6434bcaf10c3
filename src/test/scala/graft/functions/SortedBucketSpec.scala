package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** SortedBucket must agree exactly with the fold-of-comparisons it
  * replaced (`sum_b (v > b)`) — including values sitting exactly ON a
  * boundary (lower bucket) and empty boundary arrays. */
class SortedBucketSpec extends SparkTestBase {

  test("sorted_bucket matches the comparison fold, boundaries included") {
    import spark.implicits._
    val boundaries = Array(10.0, 20.0, 20.0, 35.5, 100.0)
    val vals = (Seq(-5L, 0L, 10L, 11L, 20L, 21L, 35L, 36L, 100L, 101L, 1000L) ++
      (0L to 200L by 7)).distinct
    val df = vals.toDF("v")
    val fold = boundaries.foldLeft(lit(0L))((acc, b) => acc + (col("v") > b).cast("long"))
    val rows = df.select(col("v"),
        SortedBucket.sorted_bucket(col("v"), boundaries).as("bs"),
        fold.as("bf"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"v=${r.getLong(0)}"))
  }

  test("sorted_bucket with no boundaries is always bucket 0; null in, null out") {
    import spark.implicits._
    val df = Seq(Some(1L), None, Some(99L)).toDF("v")
    val out = df.select(SortedBucket.sorted_bucket(col("v"), Array.empty[Double]).as("b"))
      .collect()
    assert(out.map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq === Seq(0L, null, 0L))
  }

  test("chunk counts derive from parallelism: pow2 in [64, 4096]") {
    val n = graft.ops.StratifiedRank.chunkCount(spark)
    assert(n >= 64 && n <= 4096 && Integer.bitCount(n) == 1)
    assert(n >= math.min(4 * spark.sparkContext.defaultParallelism, 4096) ||
      n == 4096)
  }
}

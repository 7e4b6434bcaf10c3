package graft.ops

import org.apache.spark.sql.SparkSession

/** Chunk-count policy for the distributed two-pass prefix aggregations:
  * the running max in qLateData, the prefix sum in Graft.packSequences,
  * the per-stratum ranks and weight sums of [[StratifiedRank]], and the
  * analytic LCG-key grid of Graft.tokenBudgetSample.
  *
  * The within-chunk window's parallelism equals the chunk count, so a
  * fixed constant (the old 64) caps scaling forever: at 100 TB each
  * chunk's window would sort ~1.5 TB on one task. Deriving it from
  * defaultParallelism (4× for slot headroom / stragglers) keeps chunks
  * sized to the cluster. Capped at 4096 because the exploded exclusive
  * prefix is O(chunks²) rows — 4096² / 2 ≈ 8.4M tiny constant-size rows
  * is still a trivial hash aggregate, while an uncapped count on a
  * large cluster would make the "constant" prefix data-sized. Rounded
  * to a power of two so uniform axes (the 2^31 LCG arrival axis) divide
  * exactly. Results of every consumer are chunk-count-independent by
  * construction — this only tunes parallelism.
  */
object Chunking {
  def chunkCount(spark: SparkSession): Int = {
    val target = math.min(math.max(64, 4 * spark.sparkContext.defaultParallelism), 4096)
    var n = 64
    while (n < target) n <<= 1
    n
  }
}

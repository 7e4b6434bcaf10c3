package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-stratum ranking — the scale-safe replacement for
  * `row_number().over(Window.partitionBy(lowCardCols).orderBy(...))`.
  *
  * A dense window partitioned by a FIXED-cardinality key (source, lang,
  * event_type...) is a single-task sort per stratum: the partition key's
  * cardinality does not grow with the data, so at 100× each task sorts
  * 100× the rows — the "weak" plan class round-11 flagged in
  * q_pref_pairs / q_ntile / q_rank_funcs / q_interleave. This kernel is
  * the q_pack_sequences two-pass prefix shape generalized to strata:
  *
  *  1. chunk the rank key's value space by an approx-quantile sketch
  *     (one bounded driver action; `Chunking.chunkCount` scales the
  *     chunk count with the cluster) — chunks are row-balanced under
  *     ANY key distribution, and every row with a given key value lands
  *     in exactly one chunk, so chunk order refines rank order;
  *  2. aggregate per-(stratum, chunk) row/weight counts — a frame of at
  *     most |strata| × chunks constant-size rows;
  *  3. exclusive prefix over that frame (window over ≤ `chunkCount`
  *     rows per stratum — bounded by the 4096 chunk cap, NOT by data
  *     size, so the single-task sort it implies is O(4096) forever);
  *  4. broadcast the prefix back and add the within-(stratum, chunk)
  *     window — parallelism = strata × chunks, each task sorting
  *     ~rows/chunks rows regardless of stratum skew.
  *
  * The quantile sketch only decides chunking, never values: the rank is
  * exact and deterministic for any boundary set. Requirements: the rank
  * key must be numeric, non-null, and ASCENDING in the desired rank
  * order (negate for descending); (rankKey, tieCols) must totally order
  * each stratum for `rankName` to be deterministic; strata columns must
  * be low-cardinality (the broadcast prefix is |strata| × chunks rows —
  * for id-like partition keys a plain window is already scale-safe and
  * this kernel is the wrong tool). Rows whose rank key collapses to the
  * same double co-locate in one chunk and are ordered there by the
  * exact (rankKey, tieCols) — correct for any monotone numeric→double
  * cast.
  *
  * Output: the input columns plus `rankName` (1-based per-stratum
  * row_number in (rankKey, tieCols) order) and, when `weight` is given,
  * `psumName` (the EXCLUSIVE per-stratum prefix sum of the weight in
  * the same order — rank/cume_dist over tie-grouped frames fall out of
  * it, see EvalQueries.qRankFuncs).
  */
object StratifiedRank {

  def stratifiedRank(
      df: DataFrame,
      strata: Seq[String],
      rankKey: Column,
      tieCols: Seq[Column] = Nil,
      weight: Option[Column] = None,
      rankName: String = "__srank",
      psumName: String = "__spsum",
      fixedBoundaries: Option[Array[Double]] = None): DataFrame = {
    require(strata.nonEmpty, "stratifiedRank needs at least one stratum column")
    val n = Chunking.chunkCount(df.sparkSession)
    val base0 = df.withColumn("__rk", rankKey.cast("double"))
    val base1 = weight.fold(base0)(w => base0.withColumn("__w", w.cast("long")))
    // the input subtree feeds THREE consumers (the 5% quantile-sketch
    // sample, the per-(stratum, chunk) counts agg, and the final
    // within-chunk window join) — persist it once so callers' possibly
    // expensive projections (qPrefPairsQuality's stopword scoring,
    // qRankFuncs' tie-group agg) run a single time. Lazy and
    // spillable; recomputes on executor loss.
    val base = base1.persist()
    // Boundaries only decide CHUNKING, never values, so they come as
    // cheaply as possible: a caller whose key distribution is known
    // (e.g. the uniform 31-bit LCG of tokenBudgetSample) passes an
    // analytic grid and the sketch pass disappears entirely; otherwise
    // a seeded 5% sample feeds the quantile sketch — the same
    // sample-for-balance tradeoff Spark's own RangePartitioner makes,
    // cutting the extra pass at 100 TB to 5% of one scan. Sketch error
    // shrinks with the quantile step so adjacent boundaries don't
    // collapse (the Graft.packSequences policy).
    val boundaries = fixedBoundaries.getOrElse(
      base.sample(withReplacement = false, 0.05, seed = 42L)
        .stat.approxQuantile("__rk",
          (1 until n).map(_ / n.toDouble).toArray, math.min(0.01, 0.25 / n)))
      .distinct.sorted
    val chunked = base.withColumn("__chunk",
      graft.functions.SortedBucket.sorted_bucket(col("__rk"), boundaries))
    val strataCols = strata.map(col)

    // per-(stratum, chunk) counts — the only data-sized aggregation
    val aggFirst = count(lit(1)).as("__c")
    val aggRest = weight.map(_ => sum(col("__w")).as("__ws")).toSeq
    val counts = chunked.groupBy((strataCols :+ col("__chunk")): _*)
      .agg(aggFirst, aggRest: _*)

    // exclusive prefix over the bounded counts frame: ≤ chunkCount rows
    // per stratum by construction, so this window never sees data-sized
    // partitions however large the corpus grows
    val wPre = Window.partitionBy(strataCols: _*).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixCols = strataCols ++ Seq(
      col("__chunk"),
      coalesce(sum(col("__c")).over(wPre), lit(0L)).as("__cpre")) ++
      weight.map(_ => coalesce(sum(col("__ws")).over(wPre), lit(0L)).as("__wpre"))
    val prefix = counts.select(prefixCols: _*)

    // within-(stratum, chunk) window: parallelism strata × chunks; the
    // exact (rankKey, tieCols) order is applied here, so the double
    // sketch key never decides a rank, only a chunk
    val wIn = Window.partitionBy((strataCols :+ col("__chunk")): _*)
      .orderBy((rankKey.asc +: tieCols): _*)
    val joined = chunked.join(broadcast(prefix), strata :+ "__chunk")
      .withColumn(rankName, col("__cpre") + row_number().over(wIn).cast("long"))
    val withPsum = weight.fold(joined)(_ => joined.withColumn(psumName,
      col("__wpre") + coalesce(
        sum(col("__w")).over(wIn.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
    // the using-columns join moved the strata first; restore the
    // caller's column order so positional consumers are unaffected
    val outCols = df.columns.map(col) ++ (col(rankName) +:
      weight.map(_ => col(psumName)).toSeq)
    withPsum.select(outCols: _*)
  }
}

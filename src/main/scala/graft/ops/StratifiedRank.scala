package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one chunked prefix scan: a per-stratum (or global)
  * rank and exclusive running aggregate in a total order, without a
  * data-sized single-task window. It replaces
  * `row_number().over(Window.partitionBy(lowCardCols).orderBy(...))`
  * and `sum/max(w).over(Window.orderBy(...).rowsBetween(unbounded, -1))`:
  * a dense window partitioned by a FIXED-cardinality key (source, lang,
  * event_type...) is a single-task sort per stratum, and an
  * unpartitioned one is a single-task sort of everything — at 100× each
  * task sorts 100× the rows (the round-11 weak class). Callers: with
  * strata, q_pref_pairs(_quality), q_ntile, q_rank_funcs, q_interleave
  * and [[graft.api.Graft.tokenBudgetSample]]; without,
  * [[graft.api.Graft.packSequences]] (global prefix sum) and
  * [[CoreQueries.qLateData]] (global running max).
  *
  *  1. chunk the rank key's value space. Boundaries only decide
  *     chunking, never values, so they come as cheaply as possible: a
  *     key that is the engine's 31-bit LCG ([[graft.api.Graft.lcg]] mod
  *     2^31, `uniformKey`) is uniform by construction and chunks on the
  *     analytic grid with no pass at all; any other key feeds a seeded
  *     5% sample to an approx-quantile sketch — the sample-for-balance
  *     tradeoff of Spark's own RangePartitioner, one bounded driver
  *     action costing 5% of one scan, with the sketch error shrinking
  *     with the quantile step so adjacent boundaries don't collapse.
  *     Sketched chunks are row-balanced under ANY key distribution
  *     (uniform-width chunks would collapse a skewed id space into one
  *     chunk), and every row with a given key value lands in exactly one
  *     chunk, so chunk order refines rank order;
  *  2. aggregate per-(stratum, chunk) row counts and weights — a frame
  *     of at most |strata| × chunks constant-size rows;
  *  3. exclusive prefix over that frame. With strata, a window
  *     partitioned by the strata over ≤ `chunkCount` rows each. With
  *     none, the explode+groupBy form of [[explodePrefix]]:
  *     `Window.partitionBy(lit(0))` would be constant-folded into an
  *     unpartitioned window, and a global window is what this kernel
  *     exists to avoid;
  *  4. broadcast the prefix back and add the within-(stratum, chunk)
  *     window — parallelism = strata × chunks, each task sorting
  *     ~rows/chunks rows regardless of stratum skew.
  *
  * The chunk count ([[chunkCount]]) is 4× the cluster's default
  * parallelism, at least 64, rounded up to a power of two (so the 2^31
  * grid divides exactly) and capped at 4096. A constant would cap the
  * within-chunk parallelism forever (at 100 TB each of 64 chunks would
  * sort ~1.5 TB on one task); the cap bounds the prefix step, whose
  * explode form is O(chunks²) rows — 4096² / 2 ≈ 8.4M tiny rows is
  * still one cheap hash aggregate, and the window form sorts ≤ 4096
  * rows per stratum. Past that, add a second prefix level instead of
  * more chunks.
  *
  * The rank and the aggregate are exact and deterministic for any
  * boundary set. Requirements: the rank key must be numeric, non-null,
  * and ASCENDING in the desired order (negate for descending);
  * (rankKey, tieCols) must totally order each stratum; strata columns
  * must be low-cardinality (the broadcast prefix is |strata| × chunks
  * rows — for id-like partition keys a plain window is already
  * scale-safe and this kernel is the wrong tool). Rows whose rank key
  * collapses to the same double co-locate in one chunk and are ordered
  * there by the exact (rankKey, tieCols) — correct for any monotone
  * numeric→double cast.
  *
  * Output: the input columns plus `rankName` (1-based per-stratum
  * row_number in (rankKey, tieCols) order) and, when `weight` is given,
  * `psumName`: the `running` aggregate of the long-cast weight over
  * every EARLIER row of the stratum in the same order (SUM: 0 on the
  * first row; MAX: null there). rank/cume_dist over tie-grouped frames
  * fall out of it, see EvalQueries.qRankFuncs.
  */
object StratifiedRank {

  /** The running aggregate of the weight: its Spark aggregate (applied
    * per chunk, over the chunk prefix and inside the chunk), its value
    * over no rows, and how the earlier chunks' prefix meets the earlier
    * rows of the row's own chunk. */
  final class Running private (val agg: Column => Column,
      val orEmpty: Column => Column, val combine: (Column, Column) => Column)

  object Running {
    val Sum = new Running(sum(_), coalesce(_, lit(0L)), (pre, in) => pre + coalesce(in, lit(0L)))
    // greatest skips nulls: null only when neither side saw a row
    val Max = new Running(max(_), identity, greatest(_, _))
  }

  /** Chunk count: 4× default parallelism in [64, 4096], rounded up to a
    * power of two (the scale argument is in the object scaladoc). */
  def chunkCount(spark: SparkSession): Int = Integer.highestOneBit(
    2 * math.min(math.max(64, 4 * spark.sparkContext.defaultParallelism), 4096) - 1)

  /** Exclusive prefix over a constant-size frame keyed by a dense long
    * ordinal `key` ≤ `last`: every row's other columns are exploded to
    * each LATER key and re-aggregated by `aggs` — O(keys²) constant-size
    * rows and one hash aggregate, never a window. Keys with no
    * predecessor get no row (callers left-join and fill). */
  private[graft] def explodePrefix(frame: DataFrame, key: String, last: Long,
      aggs: Column*): DataFrame =
    frame.select((col(key).as("__src") +:
        explode(sequence(col(key) + 1, lit(last))).as(key) +:
        frame.columns.filter(_ != key).map(col)): _*)
      // sequence(start, stop) runs DESCENDING when start > stop: the last
      // key would otherwise feed its own prefix
      .filter(col(key) > col("__src"))
      .groupBy(col(key)).agg(aggs.head, aggs.tail: _*)

  def stratifiedRank(
      df: DataFrame,
      strata: Seq[String],
      rankKey: Column,
      tieCols: Seq[Column] = Nil,
      weight: Option[Column] = None,
      rankName: String = "__srank",
      psumName: String = "__spsum",
      uniformKey: Boolean = false,
      running: Running = Running.Sum): DataFrame = {
    val n = chunkCount(df.sparkSession)
    // the rank key is evaluated once: a key that is not a plain column
    // of `df` is kept in `base` in its own type (`__rko`), and the
    // within-chunk window orders by that copy — ordering by the
    // expression would recompute it above the prefix join, and the
    // double `__rk` is exact only below 2^53
    val plainKey = df.columns.exists(c => col(c) == rankKey)
    val key = if (plainKey) rankKey else col("__rko")
    val base0 = (if (plainKey) df else df.withColumn("__rko", rankKey))
      .withColumn("__rk", key.cast("double"))
    val base1 = weight.fold(base0)(w => base0.withColumn("__w", w.cast("long")))
    // the input subtree feeds THREE consumers (the 5% quantile-sketch
    // sample, the per-(stratum, chunk) counts agg, and the final
    // within-chunk window join) — share it once ([[graft.Frames]]) so
    // callers' possibly expensive projections (qPrefPairsQuality's
    // stopword scoring, qRankFuncs' tie-group agg) run a single time.
    // The returned plan reads it, so it lives in the caller's scope.
    val base = graft.Frames.shared(base1)
    val boundaries = (
      if (uniformKey) (1 until n).map(i => 2147483648.0 * i / n).toArray
      else base.sample(withReplacement = false, 0.05, seed = 42L)
        .stat.approxQuantile("__rk",
          (1 until n).map(_ / n.toDouble).toArray, math.min(0.01, 0.25 / n)))
      .distinct.sorted
    val chunked = base.withColumn("__chunk",
      graft.functions.SortedBucket.sorted_bucket(col("__rk"), boundaries))
    val strataCols = strata.map(col)

    // per-(stratum, chunk) counts — the only data-sized aggregation
    val aggFirst = count(lit(1)).as("__c")
    val aggRest = weight.map(_ => running.agg(col("__w")).as("__ws")).toSeq
    val counts = chunked.groupBy((strataCols :+ col("__chunk")): _*)
      .agg(aggFirst, aggRest: _*)

    // exclusive prefix over the bounded counts frame, broadcast back
    val joined =
      if (strata.isEmpty) {
        val prefix = explodePrefix(counts, "__chunk", boundaries.length,
          (sum(col("__c")).as("__cpre") +:
            weight.map(_ => running.agg(col("__ws")).as("__wpre")).toSeq): _*)
        val j = chunked.join(broadcast(prefix), Seq("__chunk"), "left")
          .withColumn("__cpre", coalesce(col("__cpre"), lit(0L)))
        weight.fold(j)(_ => j.withColumn("__wpre", running.orEmpty(col("__wpre"))))
      } else {
        val wPre = Window.partitionBy(strataCols: _*).orderBy(col("__chunk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val prefixCols = strataCols ++ Seq(
          col("__chunk"),
          coalesce(sum(col("__c")).over(wPre), lit(0L)).as("__cpre")) ++
          weight.map(_ => running.orEmpty(running.agg(col("__ws")).over(wPre)).as("__wpre"))
        chunked.join(broadcast(counts.select(prefixCols: _*)), strata :+ "__chunk")
      }

    // within-(stratum, chunk) window: the exact (rankKey, tieCols) order
    // is applied here, so the double sketch key never decides a rank,
    // only a chunk
    val wIn = Window.partitionBy((strataCols :+ col("__chunk")): _*)
      .orderBy((key.asc +: tieCols): _*)
    val ranked = joined
      .withColumn(rankName, col("__cpre") + row_number().over(wIn).cast("long"))
    val withPsum = weight.fold(ranked)(_ => ranked.withColumn(psumName,
      running.combine(col("__wpre"),
        running.agg(col("__w")).over(wIn.rowsBetween(Window.unboundedPreceding, -1)))))
    // the using-columns join moved the strata first; restore the
    // caller's column order so positional consumers are unaffected
    val outCols = df.columns.map(col) ++ (col(rankName) +:
      weight.map(_ => col(psumName)).toSeq)
    withPsum.select(outCols: _*)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C batch query set — the relational/dataflow surface the
  * reference's demos exercise on top of the connector, re-expressed as
  * declarative DataFrame programs so Catalyst owns pushdown, pruning,
  * join selection and whole-stage codegen.
  *
  * Reference anchors are cited per query (paths into /root/reference/,
  * shortened: dis/ = dis-spark-streaming/src/main/scala/org/apache/spark/
  * streaming/dis/).
  *
  * Scale notes (100 TB): every query here shuffles at most once on its
  * natural key, dimension joins are broadcast, and top-N uses
  * TakeOrderedAndProject (per-partition partial limits) rather than a
  * global sort.
  */
object CoreQueries {

  /** Metadata+payload projection — the RDD demo's record projection
    * (demo DISSparkRDDExample.scala:41 prints topic/partition/offset/
    * key/value). Column-pruned at the parquet scan. */
  def qScanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  /** Half-open offset-range predicate [from, until) — OffsetRange
    * semantics (dis/OffsetRange.scala:98-99: fromOffset inclusive,
    * untilOffset exclusive). Pushed to the parquet scan. */
  def qFilterRange(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id") >= 100L && col("event_id") < 5000L)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  /** The canonical demo query: tokenize + count per word
    * (demo DISSparkStreamingSubscribeExample.scala:46 —
    * `.flatMap(_.split(" ")).map((_, 1L)).reduceByKey(_ + _)`).
    * explode(split()) is a Catalyst Generator; groupBy.count is a
    * partial+final HashAggregate (map-side combine = reduceByKey). */
  def qWordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** O(1)-count semantics generalized: per-key record counts
    * (dis/DISRDD.scala:89-94 count = untilOffset-fromOffset). */
  def qCountMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  /** take(num) (dis/DISRDD.scala:114-144 computes per-partition quotas
    * driver-side) → orderBy+limit compiles to TakeOrderedAndProject:
    * per-partition partial top-N, no global sort — the same
    * only-touch-what-you-need idea at executor scale. */
  def qTakeLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
      .limit(100)

  /** Per-key numeric aggregation — the reduceByKey generalization
    * (SURVEY §2.B). Single shuffle on event_type, partial agg map-side. */
  def qAggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"),
        avg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Enrich facts with dimensions (orders ⋈ customer ⋈ nation) —
    * the standard downstream composition the connector exists to feed.
    * Dimensions are broadcast: zero shuffle of the fact side. At 100 TB
    * the fact table streams through executors while customer/nation
    * (≤ GBs) ship once per executor. */
  def qJoinEnrich(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"), col("n_name"))
  }

  /** EXISTS / NOT EXISTS — events for users with/without orders.
    * left_semi/left_anti against a broadcast build side: no shuffle of
    * events. */
  def qJoinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_id"), col("user_id"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val semi = e.join(broadcast(o), e("user_id") === o("o_custkey"), "left_semi")
      .withColumn("side", lit("with_orders"))
    val anti = e.join(broadcast(o), e("user_id") === o("o_custkey"), "left_anti")
      .withColumn("side", lit("no_orders"))
    semi.unionAll(anti)
  }

  /** Tumbling event-time window — O4's per-trigger offset ranges
    * generalized to event time (dis/DirectDISInputDStream.scala:234-265).
    * window() is epoch-aligned, so start == date_trunc('hour', ts). */
  def qWindowTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))

  /** Sliding event-time window: 1 hour every 15 minutes — each event
    * lands in 4 windows. Spark expands via a Generator then hash-aggs;
    * one shuffle on window start. */
  def qWindowSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cnt"))

  /** Corpus version diff: the added/removed/changed/unchanged report
    * between two dataset snapshots — the audit step every versioned
    * corpus release runs. v2 is derived deterministically from the
    * fixture (drop id%17==3, edit id%13==5, add id%19==2 under new
    * ids), so the diff exercises all four statuses at every SF. The
    * comparison is a full-outer join on the id with CONTENT-hash
    * equality (never text equality across the shuffle — hashes are 8
    * bytes, texts unbounded), then a 4-row status rollup. */
  def qVersionDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v2 = v1.filter(pmod(col("doc_id"), lit(17)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 5, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(v1.filter(pmod(col("doc_id"), lit(19)) === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val h1 = v1.select(col("doc_id"), xxhash64(col("text")).as("__h1"))
    val h2 = v2.select(col("doc_id"), xxhash64(col("text")).as("__h2"))
    h1.join(h2, Seq("doc_id"), "full_outer")
      .select(
        when(col("__h1").isNull, "added")
          .when(col("__h2").isNull, "removed")
          .when(col("__h1") === col("__h2"), "unchanged")
          .otherwise("changed").as("status"),
        col("doc_id"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("first_id"))
  }

  /** The oracle compares CONTENT equality directly (texts, not
    * hashes): engine-side xxhash64 equality must induce the identical
    * partition — any collision would show up as a status mismatch. */
  val versionDiffOracle: String =
    """WITH v1 AS (SELECT doc_id, text FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 5 THEN text || ' [rev2]' ELSE text END AS text
      |  FROM v1 WHERE doc_id % 17 <> 3
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM v1 WHERE doc_id % 19 = 2
      |)
      |SELECT status, count(*) AS cnt, min(doc_id) AS first_id FROM (
      |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
      |    CASE WHEN v1.doc_id IS NULL THEN 'added'
      |         WHEN v2.doc_id IS NULL THEN 'removed'
      |         WHEN v1.text = v2.text THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |GROUP BY status""".stripMargin

  /** Sliding-window DISTINCT cardinality (unique users per overlapping
    * hour) — exact distinct inside event-time windows. Spark plans the
    * window Generator expand then a two-phase distinct agg
    * (partial-dedup map-side on (window, user), final count) — one
    * shuffle, no per-window set materialization. */
  def qWindowDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(countDistinct(col("user_id")).as("users"))
      .select(col("window.start").as("window_start"), col("users"))

  /** Analytic window: top event per user by value (row_number, tiebreak
    * event_id for determinism). Single shuffle on user_id; no global
    * sort. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("value"))
  }

  /** Session windows (gap 30 min) per user. session_window merges
    * events whose gap from the previous event is < 30 min; window end =
    * last ts + gap. Batch analog of the stateful streaming op (the
    * reference keeps only offset state, dis/DirectDISInputDStream
    * .scala:66 — record-level state is ours to add). */
  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Watermark semantics as a batch-checkable query: a row is late iff
    * its event time trails the running max event time (the watermark)
    * by > 10 min at its arrival position — exactly what
    * withWatermark("ts","10 minutes") drops. The fixture's ts is
    * monotone in event_id, so arrival order is simulated with a
    * deterministic LCG permutation of event_id ([[graft.api.Graft.lcg]],
    * identical integer arithmetic in Spark and the SQL oracle; event_id
    * breaks ties). Returns the dropped rows. The running max is the
    * global MAX scan of the [[StratifiedRank]] kernel over the arrival
    * key, compared in epoch microseconds — exact, since ts has
    * microsecond precision. */
  def qLateData(spark: SparkSession, dir: String): DataFrame =
    StratifiedRank.stratifiedRank(
        Tables.events(spark, dir).select(col("event_id"), col("ts"), col("user_id")),
        Nil, graft.api.Graft.lcg(col("event_id"), 2147483648L), Seq(col("event_id")),
        weight = Some(unix_micros(col("ts"))), psumName = "__max_before",
        uniformKey = true, running = StratifiedRank.Running.Max)
      .filter(unix_micros(col("ts")) < col("__max_before") - lit(600000000L))
      .select(col("event_id"), col("ts"), col("user_id"))

  /** Exact dedup (north star; exactly-once analog of O1's doc,
    * dis/DISUtils.scala:43-45): distinct (user_id, event_type) pairs.
    * Hash-aggregate dedup, partial map-side. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"))
      .distinct()

  /** Approx distinct users per event_type — HLL++, the scalable analog
    * of O8's countApprox (dis/DISRDD.scala:96-105). Sketches merge
    * map-side: constant memory per key regardless of cardinality.
    * No DuckDB oracle (different sketch impl) — rows-only check +
    * ScalaTest accuracy bound vs exact. */
  def qDedupApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))

  /** Approx distinct users per event_type via the KMV sketch
    * ([[graft.api.Graft.kmvDistinct]], k = 64) — the hash-oracled
    * sibling of [[qDedupApprox]]: same question, but the sketch is a
    * pure function of the data (LCG 31-bit hashes), so DuckDB replays
    * the k-minimum-values state and the ESTIMATE itself is
    * gate-checked, not just accuracy-bounded. */
  def qDistinctKmv(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.kmvDistinct(
      Tables.events(spark, dir).select(col("event_type"), col("user_id")),
      "event_type", "user_id", 64)

  // Sign-safe replay: Spark's pmod is non-negative while DuckDB's %
  // keeps the dividend's sign, so the inner mod is folded to
  // ((x % m + m) % m); NULL values are dropped on both sides
  // (kmvDistinct filters them before sketching).
  val distinctKmvOracle: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    (((user_id % 2147483648 + 2147483648) % 2147483648)
      |       * 1103515245 + 12345) % 2147483648 AS h
      |  FROM events WHERE user_id IS NOT NULL
      |), r AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS m
      |  FROM h
      |)
      |SELECT event_type,
      |  CASE WHEN max(m) < 64 THEN max(m)::DOUBLE
      |       ELSE floor((63.0::DOUBLE * 2147483648.0::DOUBLE
      |              / (max(CASE WHEN rn = 64 THEN h END)::DOUBLE + 0.5::DOUBLE))
      |              * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE
      |  END AS n_distinct_kmv
      |FROM r WHERE rn <= 64
      |GROUP BY event_type""".stripMargin

  /** Top-K users by total value — O9's take generalized through an agg.
    * Partial agg → shuffle on user_id → TakeOrderedAndProject. */
  def qTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(col("value")).as("total_value"))
      .orderBy(col("total_value").desc, col("user_id").asc)
      .limit(10)

  /** Set algebra over event-type slices: union / intersect / except of
    * the user sets doing 'click' vs 'view'. All three are set-semantic
    * (deduped), tagged for a single deterministic result. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def users(t: String): DataFrame =
      e.filter(col("event_type") === t).select(col("user_id"))
    val clicks = users("click")
    val views  = users("view")
    clicks.union(views).distinct().withColumn("op", lit("union"))
      .unionAll(clicks.intersect(views).withColumn("op", lit("intersect")))
      .unionAll(clicks.except(views).withColumn("op", lit("except")))
      .select(col("op"), col("user_id"))
  }

  /** OLAP rollup: per-type counts plus the grand total in one pass —
    * Catalyst expands grouping sets before the hash aggregate, so it
    * stays a single shuffle. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  /** Percentiles per key, default = approx_percentile: mergeable
    * KLL-style sketches of bounded size, so a hot key at any cardinality
    * costs O(sketch) executor memory instead of buffering every value.
    * Approximate ⇒ no SQL oracle (sketch impls differ across engines);
    * the driver rows-checks it and ApproxOpsSpec bounds its error
    * against the exact form. */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, 0.5, 10000)").as("p50"),
        expr("approx_percentile(value, 0.9, 10000)").as("p90"),
        expr("approx_percentile(value, 0.99, 10000)").as("p99"))

  /** Exact percentiles per key (sort-based `percentile`, linear
    * interpolation — same definition as SQL quantile_cont). The
    * oracle-gated reproducible form; it buffers per-group values, so it
    * is the small-data/audit path — qPercentiles is the 100 TB default. */
  def qPercentilesExact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))

  /** Pivot: user cohort × event type counts as a wide table. Pivot
    * values are pinned explicitly (a dynamic pivot would add a
    * distinct-values job); missing combos filled with 0 to match SQL
    * FILTER semantics. */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("cohort", pmod(col("user_id"), lit(4L)))
      .groupBy(col("cohort"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** As-of join: each click picks the user's most recent strictly-
    * earlier purchase (ties on purchase ts break on the higher id);
    * clicks without one keep −1 sentinels. Single shuffle on user_id
    * via the union+window formulation ([[graft.api.Graft.asofJoin]]) —
    * Spark would plan the naive `p.ts < c.ts` join as a nested loop. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    graft.api.Graft.asofJoin(clicks, purchases, "user_id", "ts", "purchase_id")
      .select(col("event_id"), col("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("purchase_value"), lit(-1.0)).as("purchase_value"))
  }

  /** Deterministic stratified sample of events: per-type keep rates
    * decided by pure integer arithmetic on event_id
    * ([[graft.api.Graft.hashSample]]) — reproducible across engines,
    * partitionings and retries, unlike seeded-RNG sample(). */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.hashSample(Tables.events(spark, dir), "event_type", "event_id",
      Map("click" -> 0.5, "view" -> 0.1, "purchase" -> 1.0))
      .select(col("event_id"), col("event_type"), col("user_id"))

  /** Token-budget mixture sampling over documents: four derived
    * domains, per-domain token budgets, docs kept in LCG order until
    * the budget is spent ([[graft.api.Graft.tokenBudgetSample]]); the
    * 'misc' domain has no budget entry and keeps nothing. */
  def qTokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0, "web")
        .when(pmod(col("doc_id"), lit(4)) === 1, "code")
        .when(pmod(col("doc_id"), lit(4)) === 2, "math")
        .otherwise("misc").as("domain"),
      size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long").as("n_tokens"))
    graft.api.Graft.tokenBudgetSample(docs, "doc_id", "domain", "n_tokens",
      Map("web" -> 3000L, "code" -> 2000L, "math" -> 1000L))
  }

  val tokenBudgetOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4 WHEN 0 THEN 'web' WHEN 1 THEN 'code'
      |                    WHEN 2 THEN 'math' ELSE 'misc' END AS domain,
      |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, domain, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY domain
      |      ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648,
      |               doc_id) AS cum
      |  FROM t
      |)
      |SELECT doc_id, domain, n_tokens, cum::BIGINT AS cum_tokens,
      |  (cum <= CASE domain WHEN 'web' THEN 3000 WHEN 'code' THEN 2000
      |                      WHEN 'math' THEN 1000 ELSE 0 END)::BIGINT AS kept
      |FROM c""".stripMargin

  /** Deterministic epoch shuffle of the documents corpus into 8
    * training shards ([[graft.api.Graft.epochShuffle]]): LCG key,
    * shard = key mod 8, dense per-shard positions — one hash exchange,
    * per-shard sorts, no global sort. */
  def qShuffleShards(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.epochShuffle(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id", 8)

  val shuffleShardsOracle: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS key
      |  FROM documents
      |)
      |SELECT doc_id, (key % 8)::BIGINT AS shard,
      |  (row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id)
      |    - 1)::BIGINT AS pos
      |FROM s""".stripMargin

  /** Leakage-safe 80/10/10 split of events keyed by user_id: all of a
    * user's events land in one split ([[graft.api.Graft.splitByGroup]])
    * so per-user near-duplicate behavior can't straddle train/eval. */
  def qSplitGroups(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.splitByGroup(
      Tables.events(spark, dir).select(col("event_id"), col("user_id")),
      "user_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  val splitGroupsOracle: String =
    """SELECT event_id, user_id,
      |  CASE WHEN ((user_id % 2147483648) * 1103515245 + 12345) % 10000 < 8000
      |       THEN 'train'
      |       WHEN ((user_id % 2147483648) * 1103515245 + 12345) % 10000 < 9000
      |       THEN 'val' ELSE 'test' END AS split
      |FROM events""".stripMargin

  /** Exactly-50-per-event-type deterministic reservoir
    * ([[graft.api.Graft.sampleKPerStratum]]): the 50 smallest LCG
    * hashes per stratum, reproducible across engines and retries. */
  def qSampleK(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.sampleKPerStratum(
      Tables.events(spark, dir).select(col("event_id"), col("event_type"), col("user_id")),
      "event_type", "event_id", 50)

  val sampleKOracle: String =
    """SELECT event_id, event_type, user_id FROM (
      |  SELECT event_id, event_type, user_id,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY ((event_id % 2147483648) * 1103515245 + 12345) % 2147483648,
      |               event_id) AS rn
      |  FROM events)
      |WHERE rn <= 50""".stripMargin

  /** Ordered signup→click→purchase funnel per user, reported as users
    * per deepest stage reached ([[graft.api.Graft.funnel]]): each stage
    * is a filtered min-ts aggregate chained through equi-joins — no
    * window over per-user event history. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.api.Graft.funnel(Tables.events(spark, dir), "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase"), maxGap = Some("1 day"))
      .groupBy(col("stage_reached"))
      .agg(count(lit(1)).as("users"))

  /** JSON payload extraction — the deserializer-pluggability analog
    * (dis/DISUtils.scala:379-380: value deserializer class option).
    * from_json with an explicit schema stays in codegen. */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        from_json(col("props"), lit("k BIGINT")).getField("k").as("k"))
}

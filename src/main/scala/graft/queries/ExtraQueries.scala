package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, BloomJoin, FuzzyJoin, RangeJoin, SkewJoin}
import graft.sources.Tables

/** Remaining engine-surface operators: as-of join (composed — see
  * [[graft.ops.AsOfJoin]]), CUBE grouping sets, and JSON field
  * extraction from the `props` payload (the schema-on-read surface
  * the reference's `'format'='json'` tables imply).
  */
object ExtraQueries {

  /** For every event, the timestamp of the user's most recent error
    * event at-or-before it — time-series enrichment via as-of join.
    * Oracle: DuckDB's native `ASOF LEFT JOIN`.
    */
  def lastErrorAsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"))
    AsOfJoin.asOf(ev, errors, Seq("user_id"), "ts", "ts",
        Map("ts" -> "last_error_ts"))
      .select(col("event_id"),
        date_format(col("last_error_ts"), "yyyy-MM-dd HH:mm:ss").as("last_error"))
      .orderBy(col("event_id"))
  }

  /** CUBE over (event_type, day-of-week): all 4 grouping sets in one
    * pass (SURVEY.md §2.4 lists cube as engine surface).
    */
  def cubeTypeDow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .cube(col("event_type"), date_format(col("ts"), "EEEE").as("dow"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type").asc_nulls_first, col("dow").asc_nulls_first)

  /** JSON payload extraction: `props` is a JSON string column;
    * `get_json_object` (codegen'd) pulls `$.k` — schema-on-read
    * without a full `from_json` when one field is needed (reads less,
    * same pushdown story as column pruning).
    */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), round(avg(col("k")), 2).as("avg_k"))
      .orderBy(col("k_mod"))

  /** Range join with NO equi key: activity inside the 10 minutes
    * after every value spike. Routed through [[graft.ops.RangeJoin]]'s
    * bucketed form — a hash equi-join on time buckets, not the
    * `BroadcastNestedLoopJoin` Spark would plan for the bare
    * BETWEEN condition (asserted in PlansSpec).
    */
  def spikeWindowStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val spikes = ev.filter(col("value") >= 300)
      .select(col("event_id").as("spike_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    RangeJoin.byTime(ev.select(col("ts"), col("value")), "ts",
        spikes, "w_start", "w_end", bucketSeconds = 600L)
      .groupBy(col("spike_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("window_value"))
      .orderBy(col("spike_id"))
  }

  /** Interval-overlap join over per-user hourly activity sessions:
    * which OTHER users' sessions overlap each monitored user's
    * session in wall time (co-presence — the abuse/correlation
    * primitive). Sessions are (user, hour)-grouped [min ts, max ts]
    * spans in epoch-µs BIGINTs (`unix_micros` ↔ DuckDB `epoch_us`,
    * the established ns-truncation parity); the interval×interval
    * join runs through [[graft.ops.RangeJoin.overlapByTime]]'s
    * bucketed canonical-copy form — a hash equi-join on 10-minute
    * buckets, each overlapping pair met exactly once, never the
    * BroadcastNestedLoopJoin a bare double-inequality would plan.
    */
  def overlapSessions(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"),
        floor(col("us") / lit(3600000000L)).as("hr"))
      .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
    val m = s.filter(col("user_id") % 13 === 0)
      .select(col("user_id").as("m_user"), col("s_start").as("m_start"),
        col("s_end").as("m_end"))
    val o = s.select(col("user_id").as("o_user"),
      col("s_start").as("o_start"), col("s_end").as("o_end"))
    graft.ops.RangeJoin.overlapByTime(m, "m_start", "m_end",
        o, "o_start", "o_end", bucketSize = 600L * 1000000L)
      .filter(col("o_user") =!= col("m_user"))
      .groupBy(col("m_user"), col("m_start"), col("m_end"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("o_user")).as("n_users"))
      .orderBy(col("m_user"), col("m_start"))
  }

  /** Revenue of line items belonging to top-price orders (>450k, the
    * ~p95 tail) — a semi join whose large side goes through
    * [[graft.ops.BloomJoin.semiJoin]]: the hot-order keys build a
    * 32 KB Bloom bitmap that drops ~95% of lineitem INSIDE the scan,
    * before the join shuffle; the exact semi join then removes bloom
    * false positives, so the result is identical to a plain semi
    * join (the oracle's formulation).
    */
  def bloomSemiRevenue(spark: SparkSession, dir: String): DataFrame = {
    val hot = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000.0).select(col("o_orderkey"))
    BloomJoin.semiJoin(Tables.lineitem(spark, dir), col("l_orderkey"),
        hot, col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Known event-type domain — the shared pin from
    * [[graft.ext.DataQuality.KnownEventTypes]] (one copy; the
    * validation rule catches new types loudly). Passing explicit
    * pivot values skips the extra distinct-collect job Spark
    * otherwise runs to discover them — at 100 TB that job is a full
    * scan.
    */
  val EventTypes: Seq[String] = graft.ext.DataQuality.KnownEventTypes

  /** Daily event counts pivoted to one column per event type —
    * `RelationalGroupedDataset.pivot`, which Catalyst compiles to a
    * single conditional aggregation (one shuffle, same plan shape as
    * the oracle's FILTER clauses). Missing (day, type) combinations
    * are 0, not null, matching the conditional-count semantics.
    */
  def pivotTypeDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .orderBy(col("date_str"))

  /** Event-to-customer enrichment through the salted join path
    * ([[graft.ops.SkewJoin]]): events are the large skewed side (a
    * handful of users dominate a clickstream), the customer dim is
    * replicated across 8 salt buckets so a hot user's rows spread
    * over 8 reducers instead of one. Results are salt-invariant —
    * the gate hash-matches a plain-join oracle.
    */
  def skewJoinSegment(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    SkewJoin.saltedJoin(ev, cust, "user_id", buckets = 8,
        saltSource = Seq("event_id"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** The inverse reshape: melt the pivoted frame back to long form
    * (`Dataset.unpivot` — an `Expand` node, narrow, no shuffle).
    * Zero cells (type absent on a day) are dropped so the long form
    * equals the plain groupBy the oracle runs.
    */
  def unpivotTypeDaily(spark: SparkSession, dir: String): DataFrame =
    pivotTypeDaily(spark, dir)
      .unpivot(Array(col("date_str")), EventTypes.map(col).toArray,
        "event_type", "n")
      .filter(col("n") > 0)
      .orderBy(col("date_str"), col("event_type"))

  /** IQR anomaly detection per event type: Tukey fence
    * `q3 + 1.5·(q3 − q1)` from exact interpolated percentiles, then
    * outlier counts per type. The classic two-pass distributed shape:
    * pass 1 aggregates the tiny per-type bounds, which broadcast back
    * over the fact scan for pass 2 — the big side shuffles once per
    * pass (both on `event_type`), never sorts globally.
    */
  def anomalyIqr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .select(col("event_type"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("value") > col("hi"), 1)).as("n_outliers"),
        round(max(when(col("value") > col("hi"), col("value"))), 2)
          .as("max_outlier"))
      .orderBy(col("event_type"))
  }

  /** Robust (median/MAD) outlier detection per event type — the
    * [[anomalyIqr]] family's resistant member (the Hampel X84 rule:
    * flag `|x − med| > 3·1.4826·MAD`), immune to the very outliers
    * that inflate a z-score's σ and tighter-tailed than the Tukey
    * fence. Same distributed shape at one more pass: per-type median
    * broadcast back over the scan, per-type MAD of the deviations
    * broadcast back, then the flag count — the big side shuffles only
    * on `event_type`, never sorts globally. The flag comparison uses
    * the UNROUNDED statistics (both engines interpolate identically:
    * Spark `percentile` ≡ DuckDB `quantile_cont`, the anomaly_iqr
    * precedent); the reported med/mad columns are 2dp-rounded.
    */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val stats = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("med")).as("med"),
        expr("percentile(abs(value - med), 0.5)").as("mad"))
    ev.join(broadcast(stats), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(min(col("med")), 2).as("med"),
        round(min(col("mad")), 2).as("mad"),
        count(when(abs(col("value") - col("med")) >
          lit(4.4478) * col("mad"), 1)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** MapType surface: parse `props` as `map<string,long>`, explode to
    * (key, value) rows, histogram per key. Schema-on-read of
    * semi-structured columns into typed maps (`from_json` +
    * `explode(map)`) is the general form of [[propsExtract]]'s
    * single-path `get_json_object` — one narrow projection then one
    * keyed shuffle, at any key cardinality (the map never collects to
    * a driver-side schema the way schema inference would).
    */
  def propsMapHist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(explode(from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .orderBy(col("key"))

  /** Cartesian product (`crossJoin` — the explicit API, not an
    * accidental missing join key): all ordered nation pairs. The
    * engine's rule at scale: a cartesian is only ever legitimate
    * between BOUNDED dims (here 25×25); Spark plans
    * BroadcastNestedLoopJoin, which is exactly right for that shape —
    * the gate exists to pin that the operator and its non-equi filter
    * semantics work, not to encourage the shape on facts.
    */
  def crossNationPairs(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("k1"), col("n_name").as("n1_name"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("k2"), col("n_name").as("n2_name"))
    n1.crossJoin(n2)
      .filter(col("k1") < col("k2"))
      .select(col("n1_name"), col("n2_name"))
      .orderBy(col("n1_name"), col("n2_name"))
  }

  /** FULL OUTER join: per-(user, day) click activity vs purchase
    * activity — the reconciliation shape (both "only clicked" and
    * "only purchased" legs must survive, which inner/left joins
    * silently drop). Both sides pre-aggregate BEFORE the join, so the
    * full-outer shuffle carries (user, day) rollups, not raw events,
    * and the join keys are the grouping keys — one exchange each side
    * at any scale.
    */
  def fullOuterActivity(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("date_str"),
        col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("date_str"))
      .agg(count(lit(1)).as("n_clicks"))
    val buys = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("date_str"))
      .agg(count(lit(1)).as("n_purchases"))
    clicks.join(buys, Seq("user_id", "date_str"), "full_outer")
      .select(col("user_id"), col("date_str"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy(col("user_id"), col("date_str"))
  }

  /** Fuzzy (edit-distance ≤ 3) name matching over the part catalog,
    * through [[graft.ops.FuzzyJoin]]: names DEDUPE to a dictionary
    * first (the scale move — 2 000 part rows hold 64 names; at 100 TB
    * the ratio is far larger), pairs generate only inside same-noun
    * blocks, and each surviving pair carries the product of the
    * names' row counts so fact-side impact stays recoverable without
    * ever fuzzy-joining fact rows.
    */
  def fuzzyPartNames(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_rows"))
      // try_element_at: a one-word name yields NULL (the oracle's
      // string_split(...)[2] semantics) instead of throwing ANSI
      // INVALID_ARRAY_INDEX
      .withColumn("noun", try_element_at(split(col("p_name"), " "), lit(2)))
    val a = names.select(col("noun"), col("p_name").as("name1"),
      col("n_rows").as("rows1"))
    val b = names.select(col("noun"), col("p_name").as("name2"),
      col("n_rows").as("rows2"))
    FuzzyJoin.byEditDistance(a, b, "noun", "name1", "name2", maxDist = 3,
        pairFilter = col("name1") < col("name2"))
      .select(col("noun"), col("name1"), col("name2"), col("dist"),
        (col("rows1") * col("rows2")).as("pair_weight"))
      .orderBy(col("noun"), col("name1"), col("name2"))
  }

  /** Exact per-type top-3 events by value through the bounded-buffer
    * [[graft.functions.TopKRowsAggregator]] — the aggregation form of
    * `row_number() ≤ k` (the oracle's formulation): map-side partial
    * top-k bounds the shuffle to k rows per partition×group and sorts
    * nothing globally. Ties break on event_id in both engines.
    */
  def topkPerType(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKRowsAggregator.{ScoredRow, TopK}
    val topk = udaf(new TopK(3), org.apache.spark.sql.Encoders.product[ScoredRow])
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"), round(col("col.score"), 2).as("value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Fixed-width histogram of `value` (width 50, origin 0): bucket
    * assignment is a narrow `floor` inside the scan's codegen stage —
    * one keyed shuffle of (bucket, partials), the standard
    * distribution profile at any scale.
    */
  def histValueBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(floor(col("value") / 50.0).cast("long").as("bucket"), col("value"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 2).as("lo"),
        round(max(col("value")), 2).as("hi"))
      .orderBy(col("bucket"))

  /** Moment-based outlier profile per event type (the z-score sibling
    * of [[anomalyIqr]]'s quantile fences): mean/σ derive from EXACT
    * integer sums of value-cents (sum and sum-of-squares commute and
    * carry no float drift through the shuffle — at larger scales the
    * sums outgrow int64 and move to decimal(38,0), same dataflow),
    * then the tiny per-type moments broadcast back over the fact scan
    * for the |z| > 2 counts. Two keyed shuffles, no global sort —
    * and every double derives from integers via one shared syntactic
    * expression, so the oracle hash-matches bit-exactly.
    */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val m = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n").cast("double")).as("meand"),
        sqrt(col("s2").cast("double") / col("n").cast("double")
          - (col("s1").cast("double") / col("n").cast("double"))
            * (col("s1").cast("double") / col("n").cast("double"))).as("sd"))
    // sd = 0 (a type whose values are all equal) must count ZERO
    // outliers, not divide 0/0: Spark orders NaN above every double
    // (NaN > 2.0 is true) where DuckDB follows IEEE — the unguarded
    // division silently diverges between the engines. The guard makes
    // z NULL for degenerate groups; count(when(...)) skips NULLs in
    // both engines identically.
    val z = when(col("sd") > 0,
      (col("cents").cast("double") - col("meand")) / col("sd"))
    e.join(broadcast(m), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(when(z > 2.0, 1)).as("n_hi"),
        count(when(z < -2.0, 1)).as("n_lo"),
        round(max(col("meand")), 2).as("mean_c"),
        round(max(col("sd")), 2).as("sd_c"))
      .orderBy(col("event_type"))
  }

  /** Daily percentile bands of `value` (p50/p95 exact interpolated
    * percentiles per day) — the monitoring trend every quality
    * dashboard draws. Same two-shuffle shape as [[anomalyIqr]]:
    * per-day sorted-agg of the day's values only, never a global
    * sort.
    */
  def dailyPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"))
      .orderBy(col("date_str"))

  /** RIGHT OUTER join surface (the remaining join type not yet at a
    * gate): orders right-joined to customer keeps order-less
    * customers with zero counts — then rolled up per nation. Spark
    * plans it as the mirrored left join; the gate pins the null-side
    * semantics (count(order col) skips nulls, so empty customers
    * count 0 without a coalesce).
    */
  def rightOuterOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_nationkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        count(when(col("o_orderkey").isNull, 1)).as("n_orderless"))
      .orderBy(col("c_nationkey"))

  /** Winsorization: clip `value` to the per-type [p05, p95] band
    * (exact interpolated percentiles) before aggregating — the
    * outlier-robust preprocessing twin of [[anomalyIqr]]'s detection.
    * Same two-pass shape: tiny per-type bounds broadcast back over
    * the fact scan; nothing sorts globally.
    */
  def winsorizeValueByType(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
    // means derive from EXACT integer cent sums (the RevenueCents
    // discipline): avg(double) sums in partial-aggregation order,
    // and Spark's tree differs from DuckDB's — a group can land a
    // cent across the round(…, 2) boundary. Integer sums commute;
    // the single division + round then sees the identical double in
    // both engines.
    ev.join(broadcast(bounds), "event_type")
      .withColumn("w", least(greatest(col("value"), col("lo")), col("hi")))
      .withColumn("wc", round(col("w") * 100, 0).cast("long"))
      .withColumn("vc", round(col("value") * 100, 0).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("wc")).as("swc"),
        sum(col("vc")).as("svc"),
        count(when(col("w") =!= col("value"), 1)).as("n_clipped"))
      .select(col("event_type"), col("n"),
        round(col("swc").cast("double") / (col("n") * 100).cast("double"), 2)
          .as("avg_winsorized"),
        round(col("svc").cast("double") / (col("n") * 100).cast("double"), 2)
          .as("avg_raw"),
        col("n_clipped"))
      .orderBy(col("event_type"))
  }

  /** ER canonicalization over the part-name catalog: the
    * [[fuzzyPartNames]] dictionary (name_id = min p_partkey — stable,
    * numeric, oracle-derivable) through
    * [[graft.ops.FuzzyJoin.canonicalEntities]].
    */
  def erCanonicalParts(spark: SparkSession, dir: String): DataFrame = {
    val dict = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("name_id"))
      // try_element_at: a one-word name yields NULL (the oracle's
      // string_split(...)[2] semantics) instead of throwing ANSI
      // INVALID_ARRAY_INDEX
      .withColumn("noun", try_element_at(split(col("p_name"), " "), lit(2)))
    graft.ops.FuzzyJoin
      .canonicalEntities(dict, "name_id", "p_name", "noun", maxDist = 3)
      .orderBy(col("p_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_canonical_parts" -> (erCanonicalParts _),
    "winsorize_value_by_type" -> (winsorizeValueByType _),
    "right_outer_orders" -> (rightOuterOrders _),
    "ts_daily_percentiles" -> (dailyPercentiles _),
    "fuzzy_join_parts" -> (fuzzyPartNames _),
    "topk_per_type" -> (topkPerType _),
    "hist_value_buckets" -> (histValueBuckets _),
    "zscore_outliers" -> (zscoreOutliers _),
    "props_map_hist" -> (propsMapHist _),
    "cross_nation_pairs" -> (crossNationPairs _),
    "full_outer_activity" -> (fullOuterActivity _),
    "asof_last_error" -> (lastErrorAsOf _),
    "anomaly_iqr" -> (anomalyIqr _),
    "anomaly_mad" -> (anomalyMad _),
    "cube_type_dow" -> (cubeTypeDow _),
    "props_extract" -> (propsExtract _),
    "range_join_spikes" -> (spikeWindowStats _),
    "overlap_sessions" -> (overlapSessions _),
    "bloom_semi_join" -> (bloomSemiRevenue _),
    "pivot_type_daily" -> (pivotTypeDaily _),
    "unpivot_type_daily" -> (unpivotTypeDaily _),
    "skew_join_segment" -> (skewJoinSegment _)
  )

  val oracles: Map[String, String] = Map(
    // independent re-derivation: noun-blocked levenshtein pairs over
    // the same min-partkey dictionary, recursive closure, min-id
    // entity, canonical name via self-join on the entity id
    "er_canonical_parts" ->
      """WITH RECURSIVE
        |names AS (
        |  SELECT p_name, min(p_partkey) AS name_id,
        |         string_split(p_name, ' ')[2] AS noun
        |  FROM part GROUP BY 1),
        |p AS (
        |  SELECT a.name_id AS u, b.name_id AS v
        |  FROM names a JOIN names b
        |    ON a.noun = b.noun AND a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |reach(a, b) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a),
        |comp AS (SELECT a AS name_id, least(a, min(b)) AS component
        |         FROM reach GROUP BY a),
        |lab AS (
        |  SELECT n.p_name, n.name_id,
        |         coalesce(c.component, n.name_id) AS entity_id
        |  FROM names n LEFT JOIN comp c USING (name_id))
        |SELECT l.p_name, l.entity_id, cn.p_name AS canonical_name
        |FROM lab l JOIN lab cn ON cn.name_id = l.entity_id
        |ORDER BY l.p_name""".stripMargin,
    "winsorize_value_by_type" ->
      """WITH b AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |         quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |       round(CAST(sum(CAST(round(least(greatest(e.value, b.lo), b.hi)
        |                               * 100, 0) AS BIGINT)) AS DOUBLE)
        |             / CAST(count(*) * 100 AS DOUBLE), 2) AS avg_winsorized,
        |       round(CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS DOUBLE)
        |             / CAST(count(*) * 100 AS DOUBLE), 2) AS avg_raw,
        |       count(*) FILTER (least(greatest(e.value, b.lo), b.hi)
        |                        <> e.value) AS n_clipped
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "right_outer_orders" ->
      """SELECT c.c_nationkey, count(o.o_orderkey) AS n_orders,
        |       count(DISTINCT c.c_custkey) AS n_customers,
        |       count(*) FILTER (o.o_orderkey IS NULL) AS n_orderless
        |FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts_daily_percentiles" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS date_str, count(*) AS n,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "fuzzy_join_parts" ->
      """WITH names AS (
        |  SELECT p_name, count(*) AS n_rows,
        |         string_split(p_name, ' ')[2] AS noun
        |  FROM part GROUP BY 1)
        |SELECT a.noun, a.p_name AS name1, b.p_name AS name2,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |       CAST(a.n_rows * b.n_rows AS BIGINT) AS pair_weight
        |FROM names a JOIN names b
        |  ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "topk_per_type" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id,
        |       round(value, 2) AS value
        |FROM r WHERE rank <= 3 ORDER BY 1, 2""".stripMargin,
    "hist_value_buckets" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       round(min(value), 2) AS lo, round(max(value), 2) AS hi
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "zscore_outliers" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT event_type,
        |         CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS meand,
        |         sqrt(CAST(sum(cents * cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |              - (CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |                * (CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE))) AS sd
        |  FROM e GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |       count(*) FILTER (m.sd > 0 AND
        |         (CAST(e.cents AS DOUBLE) - m.meand) / m.sd > 2.0) AS n_hi,
        |       count(*) FILTER (m.sd > 0 AND
        |         (CAST(e.cents AS DOUBLE) - m.meand) / m.sd < -2.0) AS n_lo,
        |       round(max(m.meand), 2) AS mean_c,
        |       round(max(m.sd), 2) AS sd_c
        |FROM e JOIN m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "props_map_hist" ->
      """WITH kv AS (
        |  SELECT props, unnest(json_keys(props)) AS key FROM events)
        |SELECT key, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.' || key) AS BIGINT))
        |            AS BIGINT) AS total
        |FROM kv GROUP BY 1 ORDER BY 1""".stripMargin,
    "cross_nation_pairs" ->
      """SELECT a.n_name AS n1_name, b.n_name AS n2_name
        |FROM nation a, nation b
        |WHERE a.n_nationkey < b.n_nationkey
        |ORDER BY 1, 2""".stripMargin,
    "full_outer_activity" ->
      """WITH c AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS date_str,
        |                  count(*) AS n_clicks
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS date_str,
        |             count(*) AS n_purchases
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT user_id, date_str,
        |       coalesce(n_clicks, 0) AS n_clicks,
        |       coalesce(n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p USING (user_id, date_str)
        |ORDER BY 1, 2""".stripMargin,
    "anomaly_iqr" ->
      """WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.75)
        |           + 1.5 * (quantile_cont(value, 0.75)
        |                    - quantile_cont(value, 0.25)) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_events,
        |       count(*) FILTER (e.value > b.hi) AS n_outliers,
        |       round(max(e.value) FILTER (e.value > b.hi), 2) AS max_outlier
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "anomaly_mad" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT e.event_type, min(m.med) AS med,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN m USING (event_type) GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_events,
        |       round(min(s.med), 2) AS med, round(min(s.mad), 2) AS mad,
        |       count(*) FILTER (abs(e.value - s.med) > 4.4478 * s.mad)
        |         AS n_outliers
        |FROM events e JOIN s USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "asof_last_error" ->
      """SELECT e.event_id,
        |       strftime(err.ts, '%Y-%m-%d %H:%M:%S') AS last_error
        |FROM events e ASOF LEFT JOIN
        |     (SELECT user_id, ts FROM events WHERE event_type = 'error') err
        |  ON e.user_id = err.user_id AND e.ts >= err.ts
        |ORDER BY e.event_id""".stripMargin,
    "cube_type_dow" ->
      """SELECT event_type, strftime(ts, '%A') AS dow,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY CUBE(event_type, strftime(ts, '%A'))
        |ORDER BY event_type NULLS FIRST, dow NULLS FIRST""".stripMargin,
    "props_extract" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |       count(*) AS n,
        |       round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 2) AS avg_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "range_join_spikes" ->
      """WITH spikes AS (
        |  SELECT event_id AS spike_id, ts AS w_start,
        |         ts + INTERVAL 10 MINUTE AS w_end
        |  FROM events WHERE value >= 300)
        |SELECT s.spike_id, count(*) AS n_events,
        |       round(sum(e.value), 2) AS window_value
        |FROM spikes s JOIN events e
        |  ON e.ts >= s.w_start AND e.ts <= s.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "overlap_sessions" ->
      """WITH s AS (
        |  SELECT user_id,
        |         CAST(min(epoch_us(ts)) AS BIGINT) AS s_start,
        |         CAST(max(epoch_us(ts)) AS BIGINT) AS s_end
        |  FROM events
        |  GROUP BY user_id, floor(epoch_us(ts) / 3600000000)),
        |m AS (SELECT user_id AS m_user, s_start AS m_start,
        |             s_end AS m_end
        |      FROM s WHERE user_id % 13 = 0)
        |SELECT m.m_user, m.m_start, m.m_end,
        |       count(*) AS n_sessions,
        |       count(DISTINCT s.user_id) AS n_users
        |FROM m JOIN s
        |  ON s.user_id != m.m_user
        | AND m.m_start <= s.s_end AND s.s_start <= m.m_end
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,
    "bloom_semi_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN
        |      (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pivot_type_daily" -> {
      val cols = EventTypes.map(t =>
        s"count(*) FILTER (event_type = '$t') AS \"$t\"").mkString(",\n        |       ")
      s"""SELECT strftime(ts, '%Y-%m-%d') AS date_str,
         |       $cols
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "unpivot_type_daily" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS date_str, event_type,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "skew_join_segment" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
        |       round(sum(e.value), 2) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

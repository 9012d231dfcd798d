package graft

import graft.functions.{Redshift => R, Text, Vectors}
import graft.ops.{Dedup, Ops, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SURVEY §2 operator inventory as runnable queries over the fixture
  * tables (TESTDATA.md). Each query has a DuckDB oracle in
  * [[SparkEntry.oracleSql]] with identical column names/semantics.
  *
  * Determinism conventions (SURVEY §7.5):
  *   - money sums go through decimal(18,2) (exact, order-independent) and
  *     are cast to double only at the output edge;
  *   - every window order includes a unique tiebreaker;
  *   - collect_list/listagg results are array_sorted before joining.
  */
object Queries {

  /** Exact-percentile group-size bound for q05/q21/q46: at 10M rows a
    * group's value buffer is ~80 MB — safely inside an executor; past it
    * the guarded helpers switch to bounded-memory t-digest. Test SFs stay
    * far below the bound, so the oracle fixtures keep exact semantics.
    */
  val PercentileGuard = 10_000_000L

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(spark, dir, name)

  /** decimal-exact money sum, output as double */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  // =================================================================
  // §2.4 Aggregations
  // =================================================================

  /** A1/A2: hash aggregation with decimal-exact money math (TPC-H Q1 shape —
    * the daily-KPI rollup pattern, `4_dwh_core/daily_kpi_report_main_tables.sql`). */
  def q01_pricing_summary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** A3: MAX(CASE WHEN …) event-log → entity-state pivot
    * (`1_ods_core/00_subscription.sql:86-92`). */
  def q02_event_state_pivot(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    Ops.pivotEvents(
      e,
      Seq(col("user_id")),
      Seq(
        "last_signup_at" -> when(col("event_type") === "signup", col("ts")),
        "last_purchase_at" -> when(col("event_type") === "purchase", col("ts")),
        "max_purchase_value" -> when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))))
      .withColumn("max_purchase_value", col("max_purchase_value").cast("double"))
  }

  /** A4/A8: COUNT(DISTINCT) + HAVING (duplicate-detection shape,
    * `8_monitoring/system_issues/master_duplicates.sql:6-18`). */
  def q03_distinct_having(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n_events"))
      .filter(col("n_events") > 10)

  /** A5: LISTAGG(DISTINCT … ORDER BY) with deterministic ordering
    * (`dm_sustainability.v_multi_items_orders.sql:21`). */
  def q04_listagg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(R.listAggDistinct(col("event_type"), ",").as("types_csv"))

  /** A6: MEDIAN / PERCENTILE_CONT (pricing outlier removal,
    * `9_SPV/Pricing_V2/00_step_outlier_removal_1.sql:159,185`). Three fat
    * groups buffer for the exact form — the guard flips both percentiles
    * to t-digest past [[Queries.PercentileGuard]] rows per group, so a
    * 100× run degrades to an approximation instead of an executor OOM. */
  def q05_median_percentile(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val pcts = Ops.guardedPercentileAggs(li, Seq("l_returnflag"), Some(PercentileGuard),
      ("l_quantity", 0.5, "median_qty"), ("l_extendedprice", 0.9, "p90_price"))
    li.groupBy(col("l_returnflag"))
      .agg(
        pcts.head, (pcts.tail ++ Seq(
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))): _*)
  }

  /** A7: BOOL_OR / BOOL_AND (`2_ods_catman/00_pricing_live_feed.sql:35-37`). */
  def q06_bool_agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        bool_or(col("o_orderstatus") === "F").as("any_f"),
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        count(lit(1)).as("n_orders"))

  /** A10a: PIVOT (`4_dwh_grover_card/Wallet_expansion.sql:96-98`). */
  def q07_pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity")).cast("double"))
      .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))

  /** A10b: UNPIVOT/melt (`bi-airflow-prod/dags/P&L/sql/08_unpivot_final.sql:4-60`). */
  def q08_unpivot(spark: SparkSession, dir: String): DataFrame = {
    val agg = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity")).cast("double").as("qty"),
        moneySum(col("l_extendedprice")).as("price"))
    agg.unpivot(
      Array(col("l_returnflag")),
      Array(col("qty"), col("price")),
      "metric",
      "metric_value")
  }

  // =================================================================
  // §2.3 Joins
  // =================================================================

  /** J1/J2: the dim-chain equi-join (order → customer → nation → region,
    * `00_subscription.sql:280-299`). Small dims broadcast automatically. */
  def q09_dim_join(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"), "left")
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"), "left")
      .join(t(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"), "left")
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("revenue"))

  /** J10: left-semi (EXISTS, `dm_sustainability.v_seasonality.sql:44`). */
  def q10_semi_join(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(spark, dir, "orders").filter(col("o_totalprice") > 50000)
    t(spark, dir, "customer")
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** J11/J12: left-anti (NOT EXISTS / exclusion join,
    * `2_ods_risk/00_order_decline_reason.sql:43`). */
  def q11_anti_join(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  /** J3: FULL OUTER ... USING with key coalescing
    * (`4_dwh_core/daily_kpi_report_main_tables.sql:209`). */
  def q12_full_outer_using(spark: SparkSession, dir: String): DataFrame = {
    // Single-scan rewrite of `agg(F) ⟗USING(custkey) agg(O)` (guide §2.4):
    // the old form scanned orders twice, shuffled each aggregate by
    // hash(custkey), then re-shuffled BOTH sides by the null-safe key
    // shape hash(coalesce(custkey,0), isnull(custkey)) for the <=>
    // SortMergeJoin — 4 full exchanges + a join for what one conditional
    // aggregation computes: a custkey appears in the full outer result
    // iff it has ≥1 F or ≥1 O order, n_f/n_o are that side's counts and
    // NULL (not 0) when the side is absent — exactly
    // nullif(count(CASE status END), 0) per key, since each input
    // aggregate emits a key only with count ≥ 1. Null custkeys group
    // together, matching the <=> (null-safe) semantics of
    // [[Ops.fullOuterUsing]] (which stays the general operator, spec'd in
    // OpsSpec). 1 scan + 1 exchange (partial-aggregated map-side), no
    // join; oracle-hash-identical.
    t(spark, dir, "orders")
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        nullif(count(when(col("o_orderstatus") === "F", 1)), lit(0L)).as("n_f"),
        nullif(count(when(col("o_orderstatus") === "O", 1)), lit(0L)).as("n_o"))
  }

  /** J6: range/interval join against a date spine
    * (`4_dwh_catman/contentful_campaigns.sql:114,144`): count orders whose
    * 7-day fulfillment window covers each spine day. */
  def q13_range_join(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("start_d"),
        date_add(col("o_orderdate").cast("date"), 6).as("end_d"))
    val spine = Ops.dateSpine(
      t(spark, dir, "orders").agg(
        min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi")),
      col("lo"), col("hi"))
    // explode-based day counts, AGGREGATED BEFORE the join (guide §2.3):
    // the per-day counts partial-aggregate map-side, collapsing the
    // 7-rows-per-order explosion to one row per distinct day BEFORE any
    // exchange, and the join degenerates to spine ⟕ day-counts (both
    // bounded by the date range, broadcast-sized at any data volume) —
    // versus the old spine ⟕ exploded-rows hash join that shuffled the
    // full explosion. Equivalent because datum is unique in the spine and
    // in the counts: count(o_orderkey) per datum ≡ coalesce(per-day
    // count, 0), with the isNotNull filter replicating COUNT(col)'s
    // null-skipping exactly.
    val perDay = o
      .filter(col("o_orderkey").isNotNull)
      .select(explode(sequence(col("start_d"), col("end_d"))).as("__day"))
      .groupBy(col("__day"))
      .agg(count(lit(1)).as("__n"))
    spine.join(perDay, col("datum") === col("__day"), "left")
      .select(col("datum"), coalesce(col("__n"), lit(0L)).as("open_orders"))
  }

  /** J7/J8: as-of join — for each purchase event, the latest prior click of
    * the same user within 1 hour (correlated-LIMIT-1 rewrite,
    * `1_ods_core/00_allocation.sql:251-258`). */
  def q14_asof_join(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    Ops.asofJoin(
      purchases, clicks,
      col("p_user"), col("c_user"),
      col("p_ts"), col("c_ts"),
      tolerance = Some(expr("INTERVAL 1 HOUR")),
      tiebreak = Seq(col("c_id")))
      .select(col("p_id"), col("p_user"), col("c_id"),
        R.dateDiff("second", col("c_ts"), col("p_ts")).as("lag_seconds"))
  }

  /** J9: self-join lagged by one period (state-change detection,
    * `4_dwh_grover_card/Wallet_expansion.sql:85-92`) — via lag window. */
  def q15_day_over_day(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(moneySum(col("o_totalprice")).as("revenue"))
    // single-partition window, bounded: it runs after the aggregate, over
    // one row per month (12 rows a year of orders), never the fact table
    val w = Window.orderBy(col("month"))
    daily
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("mom_delta",
        round(col("revenue") - coalesce(col("prev_revenue"), lit(0.0)), 2))
  }

  // =================================================================
  // §2.5 Windows
  // =================================================================

  /** W1: dedup-latest (`00_subscription.sql:62`; 397 files). */
  def q16_dedup_latest(spark: SparkSession, dir: String): DataFrame =
    Ops.dedupLatest(
      t(spark, dir, "events"),
      Seq(col("user_id")),
      Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))

  /** W2/W5/W6/W7: rank, running sum, windowed count, percent_rank
    * (`3_master/subscription.sql:113-115`, `00_customer_rfm_segmentation.sql:13-15`).
    * The global percent_rank runs through [[Ops.withGlobalPercentRank]] —
    * range-partitioned, never a single-partition WindowExec (the naive
    * `Window.orderBy(price)` serializes the whole table onto one core).
    */
  def q17_window_suite(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
    val byCustDate = byCust.orderBy(col("o_orderdate"), col("o_orderkey"))
    val base = t(spark, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice"),
        rank().over(byCust.orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("price_rank"),
        row_number().over(byCustDate).as("order_seq"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(byCustDate.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"),
        count(lit(1)).over(byCust).as("n_orders"))
    Ops.withGlobalPercentRank(base, Seq(col("o_totalprice"), col("o_orderkey")), "__pr")
      .select(
        col("o_orderkey"), col("o_custkey"), col("price_rank"), col("order_seq"),
        col("running_total"), col("n_orders"), round(col("__pr"), 6).as("price_pctile"))
  }

  /** W3: LAG/LEAD with gap math (`06_10_page_views_app.sql:24`). */
  def q18_lag_lead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        (Ops.epochMicros(col("ts")) - Ops.epochMicros(lag(col("ts"), 1).over(w)))
          .as("micros_since_prev"))
  }

  /** W4: FIRST_VALUE/LAST_VALUE IGNORE NULLS over the full frame
    * (`0_ods_core/00_variant.sql:81,88`): carry each user's first/last
    * purchase value onto every row. */
  def q19_first_last_ignore_nulls(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "events")
      .withColumn("purchase_value",
        when(col("event_type") === "purchase", col("value")))
      .select(
        col("event_id"),
        col("user_id"),
        first(col("purchase_value"), ignoreNulls = true).over(w).as("first_purchase_value"),
        last(col("purchase_value"), ignoreNulls = true).over(w).as("last_purchase_value"))
  }

  /** O3: top-k per group (`widget_3_most_popular.sql:47,88`). */
  def q20_topk_per_group(spark: SparkSession, dir: String): DataFrame =
    Ops.topKPerGroup(
      t(spark, dir, "orders"),
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey")),
      3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))

  /** W8: windowed percentile_cont rewrite (group + join back,
    * `4_dwh_core/v_weekly_cs_reporting.sql:86-102`): lines above their
    * return-flag median quantity. */
  def q21_window_percentile(spark: SparkSession, dir: String): DataFrame =
    Ops.withGroupPercentileExact(
        t(spark, dir, "lineitem"), Seq("l_returnflag"), "l_quantity", 0.5, "median_qty",
        maxGroupSize = Some(PercentileGuard))
      .filter(col("l_quantity") > col("median_qty"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_above_median"), round(max(col("median_qty")), 6).as("median_qty_out"))

  // =================================================================
  // §2.7 Set operations
  // =================================================================

  /** U1/U2/U3: UNION ALL + EXCEPT change-capture
    * (`9_SPV/1_union_all_sources.sql`, `custom_attributes_export.sql:80`). */
  def q22_set_ops(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val snapshotA = c.filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val snapshotB = c.filter(col("c_acctbal") > 1000)
      .select(col("c_custkey"), col("c_mktsegment"))
    Ops.changedRows(snapshotA, snapshotB) // rows in A not in B
      .unionByName(snapshotB.limit(0))    // union-all shape retained
  }

  // =================================================================
  // §2.8–2.10 Scalar functions
  // =================================================================

  /** String-function shim suite on `part` (§2.8;
    * `0_ods_core/00_variant.sql:95-103`, `intercom_source_preparing.sql:140`). */
  def q23_string_funcs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_partkey") < 500)
      .select(
        col("p_partkey"),
        R.splitPart(col("p_type"), " ", 1).as("type_head"),
        initcap(col("p_brand")).as("brand_initcap"),
        lower(col("p_name")).as("name_lower"),
        R.leftStr(col("p_name"), 5).as("name_left5"),
        R.rightStr(col("p_name"), 3).as("name_right3"),
        length(col("p_name")).as("name_len"),
        R.strpos(col("p_type"), "a").as("first_a"),
        replace(col("p_brand"), lit("#"), lit("-")).as("brand_dashed"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
        R.md5Key(col("p_brand"), col("p_type")).as("surrogate_key"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_vowels_up"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowels"),
        regexp_count(col("p_name"), lit("o")).as("o_count"),
        col("p_name").like("%spring%").as("like_spring"),
        col("p_name").ilike("%SPRING%").as("ilike_spring"),
        regexp_extract(col("p_name"), "[aeiou]+", 0).as("first_vowels"))

  /** Date-function shim suite with Redshift semantics (§2.9;
    * boundary-crossing DATEDIFF `3_master/subscription.sql:75-94`,
    * DOW offset `01_sessions.sql:47`, TO_CHAR `dim_dates.sql:21-28`). */
  def q24_date_funcs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") < 1000)
      .select(
        col("o_orderkey"),
        R.dateTrunc("month", col("o_orderdate")).cast("date").as("order_month"),
        R.dateAdd("day", 30, col("o_orderdate")).cast("date").as("due_date"),
        R.dateDiff("day", col("o_orderdate"), lit("2002-01-01").cast("timestamp")).as("days_to_2002"),
        R.dateDiff("month", col("o_orderdate"), lit("2002-01-01").cast("timestamp")).as("months_to_2002"),
        last_day(col("o_orderdate")).as("month_end"),
        R.datePart("dow", col("o_orderdate")).as("dow"),
        R.datePart("doy", col("o_orderdate")).as("doy"),
        R.toChar(col("o_orderdate"), "YYYY-MM").as("ym"),
        R.toChar(col("o_orderdate"), "Month").as("month_name"),
        add_months(col("o_orderdate"), 3).cast("date").as("plus_quarter"),
        to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd").as("roundtrip_date"),
        R.datePart("epoch", col("o_orderdate")).as("epoch_s"))

  /** Math + CASE suite (§2.10; depreciation curves
    * `9_SPV/Pricing/2_pricing_spv_used_asset_price_master.sql:45`). */
  def q25_math_case(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") < 300)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        // round through decimal: 2-decimal money rounded to 1 place sits
        // exactly on the .x5 boundary, where double rounding diverges
        // between engines — decimal HALF_UP is exact in both
        round(col("l_extendedprice").cast("decimal(18,2)"), 1).cast("double").as("price_r1"),
        ceil(col("l_quantity")).as("qty_ceil"),
        floor(col("l_quantity") / 7).as("qty_div7"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        round(pow(lit(0.97), col("l_quantity")), 8).as("depreciation"),
        pmod(col("l_partkey"), lit(7)).as("part_mod7"),
        (col("l_extendedprice").cast("decimal(18,2)") * col("l_tax").cast("decimal(18,2)"))
          .cast("decimal(10,2)").cast("double").as("tax_amount"),
        when(col("l_quantity") >= 40, "bulk")
          .when(col("l_quantity") >= 10, "standard")
          .otherwise("small").as("size_tier"),
        R.decode(col("l_returnflag"), lit("A"), lit("accepted"), lit("R"), lit("returned"),
          lit("none")).as("flag_decoded"),
        greatest(col("l_quantity"), col("l_linenumber").cast("double")).as("greatest_qn"),
        R.nvl(nullif(col("l_returnflag"), lit("N")), lit("empty")).as("nvl_flag"))

  // =================================================================
  // §2.11 JSON
  // =================================================================

  /** JSON extraction with validity guards (`00_subscription.sql:8-57`,
    * `01_track_events_incremental.sql:17-50`). */
  def q26_json(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(
        col("event_id"),
        R.jsonExtractPathText(col("props"), "k").cast("int").as("k_value"),
        R.isValidJson(col("props")).as("valid_json"))
      .withColumn("k_bucket", pmod(col("k_value"), lit(10)))

  // =================================================================
  // §2.12 Table generation / date spine
  // =================================================================

  /** dim_dates calendar derivation (`dim_dates.sql:3-44`) over the order
    * date range — recursive CTE replaced by sequence+explode. */
  def q27_dim_dates(spark: SparkSession, dir: String): DataFrame = {
    val bounds = t(spark, dir, "orders")
      .agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
    Ops.calendarAttributes(Ops.dateSpine(bounds, col("lo"), col("hi")))
  }

  // =================================================================
  // §7.3 flagship: sessionization rollup
  // =================================================================

  /** The minimum end-to-end slice (SURVEY §7.3): gap-sessionize the event
    * log, roll sessions up with MAX-CASE + first/last, join back the entry
    * event (`7_snowplow/2_sessions/01_sessions.sql:6-21`, `08_sessions.sql:5-31`). */
  def q28_sessions(spark: SparkSession, dir: String): DataFrame = {
    val sessions = Ops.sessionize(
      t(spark, dir, "events"), col("user_id"), col("ts"), gapSeconds = 1800,
      tiebreak = Seq(col("event_id")))
    sessions
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", col("value").cast("decimal(18,2)")))
          .cast("double").as("purchase_value"),
        max(when(col("event_type") === "error", lit(1)).otherwise(lit(0))).as("had_error"),
        min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("entry_event_type"))
      .withColumn("duration_seconds",
        ((Ops.epochMicros(col("session_end")) - Ops.epochMicros(col("session_start"))) / 1000000L)
          .cast("long"))
  }
}

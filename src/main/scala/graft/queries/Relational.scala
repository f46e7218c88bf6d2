package graft.queries

import graft.Tables
import graft.operators.{Dedup, Hierarchy, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Dsl._

/** Core relational operator catalog: scans, projections, filters, joins
  * (inner/left/semi/anti/broadcast), hash aggregation, distinct, set ops,
  * top-k, scalar-subquery watermark, grouping sets, JSON access.
  *
  * Each entry re-expresses an operator family from SURVEY.md §2 over the
  * driver's TPC-H-ish test tables, with a DuckDB oracle. Scale posture per
  * query is noted inline (broadcast the small side, pre-aggregate before
  * joins, push filters to the scan).
  */
object Relational {

  def all: Seq[Q] = Seq(
    q01PricingSummary, q02ProjectionCase, q03DimJoin, q04JoinAgg,
    q05LeftJoinRollup, q06AntiJoin, q07SemiJoin, q12Funnel,
    q13DateSpine, q15DailyKpis, q16UserLifecycle, q17ProductPerf,
    q18SetOps, q19TopK, q20Distinct, q21Watermark, q22ArrayRollup,
    q23Rollup, q24Quality, q25Pivot, q26Json, q27UserJoin,
    q14SaltedJoin, q28AsofJoin, q29ApproxDistinct, q30Cube,
    q31Percentiles, q32ApproxPercentile, q34Unpivot, q35FullOuter,
    q36Tumbling, q37BandJoin, q38GroupingSets, q39GapsIslands,
    q40AboveAvg, q41Sliding, q42Cohort, q44HeavyHitters,
    q45MultisetOps, q46RatioToReport, q47ForwardFill, q48RollingWau,
    q49Histogram, q50Rfm, q51SketchWau, q52StatsRegression, q53ListAgg,
    q54HierarchyFlatten, q55Mode, q56EventPaths, q57PageRank,
    q58Scd2Intervals, q59MarketBasket, q60HierarchyRollup)

  /** TPC-H Q1-shaped pricing summary: filter→hash-agg with exact decimal
    * sums (A7/A8 analog). Filter is pushed to the parquet scan; aggregation
    * is partial map-side then final — one shuffle on the 6-value key. */
  val q01PricingSummary: Q = Q("q01_pricing_summary", (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        decSumExpr(d2(col("l_extendedprice")) * (lit(1) - dr(col("l_discount"))))
          .as("sum_disc_price"),
        decSumExpr(d2(col("l_extendedprice")) * (lit(1) - dr(col("l_discount")))
          * (lit(1) + dr(col("l_tax")))).as("sum_charge"),
        decAvg(col("l_quantity")).as("avg_qty"),
        decAvg(col("l_extendedprice")).as("avg_price"),
        decAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }, Some(s"""
    SELECT l_returnflag, l_linestatus,
      ${decSumSql("l_quantity")} AS sum_qty,
      ${decSumSql("l_extendedprice")} AS sum_base_price,
      ${decSumExprSql(s"${d2Sql("l_extendedprice")} * (1 - ${drSql("l_discount")})")} AS sum_disc_price,
      ${decSumExprSql(s"${d2Sql("l_extendedprice")} * (1 - ${drSql("l_discount")}) * (1 + ${drSql("l_tax")})")} AS sum_charge,
      ${decAvgSql("l_quantity")} AS avg_qty,
      ${decAvgSql("l_extendedprice")} AS avg_price,
      ${decAvgSql("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""))

  /** Typed projection + renames + CASE/coalesce shaping + enum filter
    * (P1/P5/P9). Narrow, no shuffle; both filter and the 4-column read
    * schema reach the scan. */
  val q02ProjectionCase: Q = Q("q02_projection_case", (s, d) => {
    Tables.orders(s, d)
      .filter(col("o_totalprice") > 1000 && col("o_orderdate").isNotNull)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("priority_uc"),
        col("o_orderdate").cast("date").as("order_date"),
        when(col("o_orderstatus") === "F", "done")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("other").as("status_label"),
        when(col("o_totalprice") >= 200000, "high")
          .when(col("o_totalprice") >= 50000, "mid")
          .otherwise("low").as("price_band"))
      .orderBy(col("o_orderkey"))
  }, Some("""
    SELECT o_orderkey,
      upper(o_orderpriority) AS priority_uc,
      CAST(o_orderdate AS DATE) AS order_date,
      CASE WHEN o_orderstatus = 'F' THEN 'done'
           WHEN o_orderstatus = 'O' THEN 'open'
           ELSE 'other' END AS status_label,
      CASE WHEN o_totalprice >= 200000 THEN 'high'
           WHEN o_totalprice >= 50000 THEN 'mid'
           ELSE 'low' END AS price_band
    FROM orders
    WHERE o_totalprice > 1000 AND o_orderdate IS NOT NULL
    ORDER BY o_orderkey"""))

  /** Snowflake dimension join: customer ⨝ nation ⨝ region with explicit
    * broadcast of both dims (25 + 5 rows) — zero shuffle of the fact side;
    * at 100 TB this is the only sane plan and we force it. */
  val q03DimJoin: Q = Q("q03_dim_join", (s, d) => {
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        decSum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }, Some(s"""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
      ${decSumSql("c_acctbal")} AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name"""))

  /** Fact-to-fact equi-join + aggregation (J7 analog): revenue per order for
    * one year. The date filter prunes the orders side BEFORE the join; both
    * sides shuffle on the join key once (sort-merge at scale, AQE may
    * broadcast the pruned orders side). */
  val q04JoinAgg: Q = Q("q04_join_agg", (s, d) => {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    Tables.lineitem(s, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(
        decSumExpr(d2(col("l_extendedprice")) * (lit(1) - dr(col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderkey"))
  }, Some(s"""
    SELECT o_orderkey, o_orderdate,
      ${decSumExprSql(s"${d2Sql("l_extendedprice")} * (1 - ${drSql("l_discount")})")} AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY o_orderkey"""))

  /** Left join with pre-aggregated right side + coalesce defaults
    * (J1/J2/P10). Aggregating orders BEFORE the join shrinks the shuffled
    * data to one row per customer — the SURVEY §7.4 "pre-aggregate before
    * joins" posture. */
  val q05LeftJoinRollup: Q = Q("q05_left_join_rollup", (s, d) => {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders_raw"),
        decSum(col("o_totalprice")).as("spend_raw"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("n_orders_raw"), lit(0L)).as("n_orders"),
        coalesce(col("spend_raw"), lit(0.0)).as("total_spend"),
        (coalesce(col("n_orders_raw"), lit(0L)) > 0).as("has_order"))
      .orderBy(col("c_custkey"))
  }, Some(s"""
    SELECT c_custkey, c_name,
      COALESCE(n_orders_raw, 0) AS n_orders,
      COALESCE(spend_raw, 0.0) AS total_spend,
      COALESCE(n_orders_raw, 0) > 0 AS has_order
    FROM customer LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders_raw,
        ${decSumSql("o_totalprice")} AS spend_raw
      FROM orders GROUP BY o_custkey
    ) ON c_custkey = o_custkey
    ORDER BY c_custkey"""))

  /** Anti-join (J9/J11 analog): customers with no FINISHED order. The
    * orders side is filtered and projected to the key before the shuffle. */
  val q06AntiJoin: Q = Q("q06_anti_join", (s, d) => {
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }, Some("""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    ORDER BY c_custkey"""))

  /** Semi-join: customers with at least one finished order. */
  val q07SemiJoin: Q = Q("q07_semi_join", (s, d) => {
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }, Some("""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    ORDER BY c_custkey"""))

  /** Conditional-flag funnel (A10/A11 analog): per-(day,user) event flags,
    * then daily rollup with a guarded conversion rate. Two shuffles (the
    * second reuses nothing — keys change), both over pre-reduced data. */
  val q12Funnel: Q = Q("q12_funnel", (s, d) => {
    val flags = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("f_view"),
        max(when(col("event_type") === "click", 1).otherwise(0)).as("f_click"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("f_purchase"))
    flags.groupBy(col("day"))
      .agg(
        countDistinct(col("user_id")).as("users"),
        sum(col("f_view")).cast("bigint").as("viewers"),
        sum(col("f_click")).cast("bigint").as("clickers"),
        sum(col("f_purchase")).cast("bigint").as("purchasers"))
      .withColumn("view_to_purchase_rate",
        rate(col("purchasers"), col("viewers")))
      .orderBy(col("day"))
  }, Some(s"""
    WITH flags AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f_view,
        MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS f_click,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS f_purchase
      FROM events GROUP BY 1, 2)
    SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
      CAST(SUM(f_view) AS BIGINT) AS viewers,
      CAST(SUM(f_click) AS BIGINT) AS clickers,
      CAST(SUM(f_purchase) AS BIGINT) AS purchasers,
      ${rateSql("SUM(f_purchase)", "SUM(f_view)")} AS view_to_purchase_rate
    FROM flags GROUP BY day ORDER BY day"""))

  /** Date-spine generation (G2/dim_date analog): global min/max then
    * explode(sequence) with calendar attributes. DOW normalized to the
    * Spark convention (Sun=1) on the oracle side. */
  val q13DateSpine: Q = Q("q13_date_spine", (s, d) => {
    Tables.orders(s, d)
      .agg(min(col("o_orderdate").cast("date")).as("lo"),
        max(col("o_orderdate").cast("date")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("date"))
      .select(col("date"),
        year(col("date")).as("year"),
        quarter(col("date")).as("quarter"),
        month(col("date")).as("month"),
        dayofmonth(col("date")).as("day_of_month"),
        dayofweek(col("date")).as("day_of_week"),
        dayofweek(col("date")).isin(1, 7).as("is_weekend"))
      .orderBy(col("date"))
  }, Some("""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(
        (SELECT CAST(MIN(o_orderdate) AS DATE) FROM orders),
        (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders),
        INTERVAL 1 DAY)) AS DATE) AS date)
    SELECT date,
      CAST(year(date) AS INT) AS year,
      CAST(quarter(date) AS INT) AS quarter,
      CAST(month(date) AS INT) AS month,
      CAST(dayofmonth(date) AS INT) AS day_of_month,
      CAST(dayofweek(date) + 1 AS INT) AS day_of_week,
      (dayofweek(date) + 1) IN (1, 7) AS is_weekend
    FROM spine ORDER BY date"""))

  /** Daily-KPI star rollup (metrics_daily_kpis analog, J4): date spine
    * left-joined to per-day event and order rollups, coalesce defaults,
    * guarded rates. The spine is tiny → both rollups are shuffled once and
    * the joins broadcast the rollups against the spine.
    *
    * Like q17, deliberately NOT one aggregate with two countDistincts over
    * the events fact: Catalyst plans that as Expand ×3 → 3× shuffle volume
    * on the largest input (measured 7.0 s at sf0.1 in round 3). Instead
    * each distinct count is its own pre-aggregated branch — a
    * map-side-deduped DISTINCT on (day, key) then a tiny per-day count —
    * and the three small per-day results join (AQE broadcasts them). */
  val q15DailyKpis: Q = Q("q15_daily_kpis", (s, d) => {
    val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"),
      col("user_id"), col("event_type"), col("value"))
    val evCounts = ev.groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val dauBranch = ev.select(col("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val purchBranch = ev.filter(col("event_type") === "purchase")
      .select(col("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("purchasing_users"))
    // every day with events has ≥1 distinct user → inner join is lossless;
    // days with no purchases are restored by the final coalesce(…, 0)
    val evDaily = evCounts.join(dauBranch, Seq("day"))
      .join(purchBranch, Seq("day"), "left")
    val ordDaily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        decSum(col("o_totalprice")).as("revenue"),
        decAvg(col("o_totalprice")).as("aov"))
    val bounds = evDaily.select(col("day"))
      .unionByName(ordDaily.select(col("day")))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds.select(explode(sequence(col("lo"), col("hi"),
      expr("interval 1 day"))).as("day"))
    spine.join(evDaily, Seq("day"), "left")
      .join(ordDaily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("purchasing_users"), lit(0L)).as("purchasing_users"),
        rate(coalesce(col("purchasing_users"), lit(0L)),
          coalesce(col("dau"), lit(0L))).as("purchase_user_rate"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        col("aov"))
      .orderBy(col("day"))
  }, Some(s"""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
        CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT)
          AS purchasing_users
      FROM events GROUP BY 1),
    ord AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        ${decSumSql("o_totalprice")} AS revenue,
        ${decAvgSql("o_totalprice")} AS aov
      FROM orders GROUP BY 1),
    bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM
        (SELECT day FROM ev UNION ALL SELECT day FROM ord)),
    spine AS (
      SELECT CAST(unnest(generate_series(
        (SELECT lo FROM bounds), (SELECT hi FROM bounds),
        INTERVAL 1 DAY)) AS DATE) AS day)
    SELECT spine.day,
      COALESCE(n_events, 0) AS n_events,
      COALESCE(dau, 0) AS dau,
      COALESCE(purchasing_users, 0) AS purchasing_users,
      ${rateSql("COALESCE(purchasing_users, 0)", "COALESCE(dau, 0)")}
        AS purchase_user_rate,
      COALESCE(n_orders, 0) AS n_orders,
      COALESCE(revenue, 0.0) AS revenue,
      aov
    FROM spine LEFT JOIN ev ON spine.day = ev.day
      LEFT JOIN ord ON spine.day = ord.day
    ORDER BY spine.day"""))

  /** Per-user lifecycle rollup (dim_users / metrics_user_lifecycle analog,
    * A3/A4/A12/A13): one shuffle on user_id, all aggregates in one pass. */
  val q16UserLifecycle: Q = Q("q16_user_lifecycle", (s, d) => {
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        min(col("ts")).as("first_seen_ts"),
        max(col("ts")).as("last_seen_ts"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        decSum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("purchase_value"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("first_purchase_ts"))
      .withColumn("days_to_first_purchase",
        datediff(col("first_purchase_ts").cast("date"),
          col("first_seen_ts").cast("date")))
      .orderBy(col("user_id"))
  }, Some(s"""
    SELECT user_id,
      MIN(ts) AS first_seen_ts,
      MAX(ts) AS last_seen_ts,
      COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_purchases,
      ${decSumSql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")}
        AS purchase_value,
      CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
      MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase_ts,
      CAST(date_diff('day', CAST(MIN(ts) AS DATE),
        CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE)) AS INT)
        AS days_to_first_purchase
    FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Product-performance rollup (A14/A15/J7/J8 analog): lineitem ⨝ part
    * (broadcast dim) per (month, brand).
    *
    * Deliberately NOT one aggregate with two countDistincts: Catalyst plans
    * that as Expand ×3 — the joined fact table is tripled before the
    * shuffle, which is 3× shuffle volume on the largest table in the query
    * (the 100×-scale killer, and measured 61.7 s at sf0.1 in round 2).
    * Instead: plain sums in one ordinary partial-agg pass, and each
    * distinct count as its own pre-aggregated branch — a map-side-deduped
    * DISTINCT on (month, brand, key) followed by a tiny count — then the
    * three small per-(month, brand) results join (AQE broadcasts them).
    * Shuffle volume ≈ pre-reduced rows per branch; no Expand anywhere. */
  val q17ProductPerf: Q = Q("q17_product_perf", (s, d) => {
    def base = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey"))
      .select(trunc(col("l_shipdate"), "month").as("month"), col("p_brand"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_orderkey"), col("l_partkey"))
    val sums = base
      .groupBy(col("month"), col("p_brand"))
      .agg(
        decSum(col("l_quantity")).as("units"),
        decSumExpr(d2(col("l_extendedprice")) * (lit(1) - dr(col("l_discount"))))
          .as("revenue"))
    def distinctCount(key: String, as: String) =
      base.select(col("month"), col("p_brand"), col(key)).distinct()
        .groupBy(col("month"), col("p_brand"))
        .agg(count(lit(1)).as(as))
    sums
      .join(distinctCount("l_orderkey", "n_orders"), Seq("month", "p_brand"))
      .join(distinctCount("l_partkey", "n_parts"), Seq("month", "p_brand"))
      .orderBy(col("month"), col("p_brand"))
  }, Some(s"""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month, p_brand,
      ${decSumSql("l_quantity")} AS units,
      ${decSumExprSql(s"${d2Sql("l_extendedprice")} * (1 - ${drSql("l_discount")})")} AS revenue,
      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2 ORDER BY month, p_brand"""))

  /** Set operations: INTERSECT / EXCEPT / UNION over key sets. */
  val q18SetOps: Q = Q("q18_set_ops", (s, d) => {
    val o = Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey")).distinct()
    val oo = o.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey")).distinct()
    val neg = Tables.customer(s, d).filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("custkey"))
    val n3 = Tables.customer(s, d).filter(col("c_nationkey") === 3)
      .select(col("c_custkey").as("custkey"))
    f.intersect(oo).except(neg).union(n3).distinct()
      .orderBy(col("custkey"))
  }, Some("""
    SELECT custkey FROM (
      SELECT custkey FROM (
        (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      UNION
      SELECT c_custkey FROM customer WHERE c_nationkey = 3)
    ORDER BY custkey"""))

  /** Top-k: exact decimal spend per customer, total-ordered with a key
    * tiebreaker, limit 50. At scale Spark plans TakeOrderedAndProject —
    * no global sort materialization. */
  val q19TopK: Q = Q("q19_top_k", (s, d) => {
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("spend"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("spend").desc, col("o_custkey").asc)
      .limit(50)
  }, Some(s"""
    SELECT o_custkey, ${decSumSql("o_totalprice")} AS spend,
      COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    ORDER BY spend DESC, o_custkey ASC LIMIT 50"""))

  /** DISTINCT projection. */
  val q20Distinct: Q = Q("q20_distinct", (s, d) => {
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_nationkey")).distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }, Some("""
    SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    ORDER BY c_mktsegment, c_nationkey"""))

  /** Sliding-window watermark predicate (P8 analog): rows at-or-after
    * max(ts) - 1 day. The scalar is collected to a literal first so the
    * filter is pushed down and partitions prune (SURVEY §4). */
  val q21Watermark: Q = Q("q21_watermark", (s, d) => {
    val ev = Tables.events(s, d)
    val wm = ev.agg(max(col("ts")) - expr("INTERVAL 1 DAY")).first()
      .getTimestamp(0)
    ev.filter(col("ts") >= lit(wm))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .orderBy(col("event_type"))
  }, Some("""
    SELECT event_type, COUNT(*) AS n, MIN(ts) AS min_ts, MAX(ts) AS max_ts
    FROM events
    WHERE ts >= (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)
    GROUP BY event_type ORDER BY event_type"""))

  /** Array build + higher-order reduction (A16/G1 analog): per-order sorted
    * line array, then size() + aggregate() with a decimal accumulator — the
    * no-explode idiom for per-row array reduction. */
  val q22ArrayRollup: Q = Q("q22_array_rollup", (s, d) => {
    val acc = DecimalType(38, 4)
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(struct(
        col("l_linenumber").as("ln"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price")))).as("items"))
      .select(col("l_orderkey"),
        size(col("items")).as("item_count"),
        aggregate(col("items"), lit(0).cast(acc),
          (a, x) => (a + d2(x.getField("qty")) * d2(x.getField("price")))
            .cast(acc))
          .cast("double").as("order_total"))
      .orderBy(col("l_orderkey"))
  }, Some(s"""
    SELECT l_orderkey, CAST(COUNT(*) AS INT) AS item_count,
      ${decSumExprSql(s"${d2Sql("l_quantity")} * ${d2Sql("l_extendedprice")}")} AS order_total
    FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""))

  /** ROLLUP grouping sets with grouping_id, nulls ordered explicitly. */
  val q23Rollup: Q = Q("q23_rollup", (s, d) => {
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        decSum(col("c_acctbal")).as("sum_acctbal"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("r_name").asc_nulls_first,
        col("n_name").asc_nulls_first)
  }, Some(s"""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
      ${decSumSql("c_acctbal")} AS sum_acctbal,
      CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""))

  /** Data-quality suite (§2.11) as a single-row report: not_null, unique,
    * relationships (FK), expression_is_true — each a count of violations. */
  val q24Quality: Q = Q("q24_quality", (s, d) => {
    import graft.operators.Quality
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val li = Tables.lineitem(s, d)
    val rows = Seq((
      Quality.notNull(o, "o_custkey"),
      Quality.unique(o, Seq("o_orderkey")),
      Quality.relationships(o, "o_custkey", c, "c_custkey"),
      Quality.relationships(li, "l_orderkey", o, "o_orderkey"),
      Quality.expressionIsTrue(o, col("o_totalprice") >= 0),
      Quality.expressionIsTrue(li, col("l_discount").between(0, 1))))
    s.createDataFrame(rows).toDF("null_custkey", "dup_orderkey",
      "orphan_orders", "orphan_lines", "neg_totalprice", "bad_discount")
  }, Some("""
    SELECT
      (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS null_custkey,
      (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS dup_orderkey,
      (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS orphan_orders,
      (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS orphan_lines,
      (SELECT COUNT(*) FROM orders
        WHERE NOT COALESCE(o_totalprice >= 0, FALSE)) AS neg_totalprice,
      (SELECT COUNT(*) FROM lineitem
        WHERE NOT COALESCE(l_discount BETWEEN 0 AND 1, FALSE)) AS bad_discount"""))

  /** Pivot: daily event-type counts with an explicit value list (explicit
    * values keep the plan static — no extra distinct-collect job). */
  val q25Pivot: Q = Q("q25_pivot", (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types).count()
      .select(col("day") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy(col("day"))
  }, Some("""
    SELECT CAST(ts AS DATE) AS day,
      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
    FROM events GROUP BY 1 ORDER BY day"""))

  /** Cross-table user join (J2/J6 shape): per-user EVENT lifecycle left
    * joined to per-user ORDER lifecycle (user_id ↔ o_custkey), both sides
    * pre-aggregated to one row per user before the join. */
  val q27UserJoin: Q = Q("q27_user_cross_join", (s, d) => {
    val ev = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("active_days"))
    val ord = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        decSum(col("o_totalprice")).as("total_spend"))
    ev.join(ord, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("active_days"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total_spend"), lit(0.0)).as("total_spend"),
        (coalesce(col("n_orders"), lit(0L)) > 0).as("is_buyer"))
      .orderBy(col("user_id"))
  }, Some(s"""
    WITH ev AS (
      SELECT user_id, COUNT(*) AS n_events,
        CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
      FROM events GROUP BY user_id),
    ord AS (
      SELECT o_custkey AS user_id,
        CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        ${decSumSql("o_totalprice")} AS total_spend
      FROM orders GROUP BY o_custkey)
    SELECT ev.user_id, n_events, active_days,
      COALESCE(n_orders, 0) AS n_orders,
      COALESCE(total_spend, 0.0) AS total_spend,
      COALESCE(n_orders, 0) > 0 AS is_buyer
    FROM ev LEFT JOIN ord ON ev.user_id = ord.user_id
    ORDER BY ev.user_id"""))

  /** JSON field access (embedded JSON strings → typed columns) via
    * schema-declared from_json — one Jackson parse per row into a typed
    * struct, not a JsonPath walk per extracted field. */
  val q26Json: Q = Q("q26_json", (s, d) => {
    Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"), "k INT",
          Map.empty[String, String]).getField("k").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k").asc_nulls_first)
  }, Some("""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
      COUNT(*) AS n
    FROM events GROUP BY 1 ORDER BY k ASC NULLS FIRST"""))

  /** Skew-salted large-large join: lineitem ⨝ orders on the order key with
    * an explicit 8-way salt — the hot-key treatment for a shuffle join
    * whose key histogram is skewed at 100 TB. The fact side derives a
    * deterministic salt from a non-join column; the other side is exploded
    * ×8 so every (key, salt) pair exists; the join result is IDENTICAL to
    * the unsalted join (the oracle runs the plain join), but each hot key's
    * rows now spread over 8 shuffle partitions instead of one straggler
    * task. AQE's skew-join handles the moderate case at runtime; explicit
    * salting is the portable plan-level tool this query demonstrates. */
  val q14SaltedJoin: Q = Q("q14_salted_join", (s, d) => {
    val salts = 8
    val li = Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_linenumber"), lit(salts)))
    val o = Tables.orders(s, d)
      .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
    li.join(o,
        li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(
        decSumExpr(d2(col("l_extendedprice")) * (lit(1) - dr(col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_items"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }, Some(s"""
    SELECT o_orderpriority,
      ${decSumExprSql(s"${d2Sql("l_extendedprice")} * (1 - ${drSql("l_discount")})")} AS revenue,
      COUNT(*) AS n_items,
      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** As-of join (an operator Spark's joins lack natively): each event is
    * matched to the user's LATEST order at-or-before the event time.
    * Composed scalably from built-ins — tag both streams, union, and
    * carry the last order forward with a window `last(_, ignoreNulls)`
    * over (key, time): one shuffle on the key, no per-event range probe,
    * no broadcast of either side. The orders side is first deduplicated
    * to one row per (custkey, order-date) — max order key wins — so the
    * match is deterministic in both engines; the oracle is DuckDB's
    * native ASOF LEFT JOIN. At equal timestamps the order sorts before
    * the event (kind 0 < 1), matching ASOF's inclusive `>=`. */
  val q28AsofJoin: Q = Q("q28_asof_join", (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id").as("k"), col("ts").as("t"),
        col("event_id"), col("event_type"))
    // one deterministic order row per (key, time); prune to keys that can
    // match (broadcast semi-join on the tiny distinct-user set)
    val ord = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("t"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .join(broadcast(ev.select(col("k")).distinct()), Seq("k"), "left_semi")
    val tagged = ord
      .select(col("k"), col("t"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("string").as("event_type"),
        col("o_orderkey"), col("t").as("o_t"))
      .unionByName(ev.select(col("k"), col("t"), lit(1).as("kind"),
        col("event_id"), col("event_type"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("timestamp").as("o_t")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"), col("kind"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tagged
      .withColumn("last_order_key", last(col("o_orderkey"), true).over(w))
      .withColumn("last_order_ts", last(col("o_t"), true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ts"),
        col("event_type"), col("last_order_key"), col("last_order_ts"),
        col("last_order_key").isNotNull.as("has_prior_order"))
      .orderBy(col("event_id"))
  }, Some("""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
      o.o_orderkey AS last_order_key,
      o.o_orderdate AS last_order_ts,
      o.o_orderkey IS NOT NULL AS has_prior_order
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ORDER BY e.event_id"""))

  /** CUBE over (status, priority): all four grouping sets in one pass —
    * completes the grouping-sets family next to q23's ROLLUP. Spark plans
    * a single Expand (×4) + hash aggregation; gid disambiguates subtotal
    * rows from genuine nulls. */
  val q30Cube: Q = Q("q30_cube", (s, d) => {
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("revenue"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }, Some(s"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      ${decSumSql("o_totalprice")} AS revenue,
      CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT)
        AS gid
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus ASC NULLS FIRST,
      o_orderpriority ASC NULLS FIRST"""))

  /** Sketch-based distinct counting (HLL++): the 100 TB path for
    * cardinality — mergeable map-side sketches, no exact-distinct
    * shuffle-and-dedup. The raw sketch value is engine-specific, so the
    * query emits only engine-agreeable columns: the exact counts plus
    * `approx_ok` — Spark's own sketch checked against a 5% relative-error
    * bound (rsd = 0.02, so 5% is generous headroom). The DuckDB oracle
    * asserts TRUE for that column: a broken sketch now FAILS the hash
    * match instead of being invisible. The spec additionally pins the
    * numeric error bound. */
  val q29ApproxDistinct: Q = Q("q29_approx_distinct", (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= lit(0.05)).as("approx_ok"))
      .orderBy(col("event_type"))
  }, Some("""
    SELECT event_type,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      COUNT(*) AS n_events,
      TRUE AS approx_ok
    FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Exact quartiles per group (continuous/type-7 interpolation — the
    * definition both Spark's `percentile` and DuckDB's `quantile_cont`
    * implement). Restricted to the integer-valued `l_quantity` column so
    * every interpolation intermediate ((n-1)·p, value deltas, products
    * with {0,.25,.5,.75} fractions) is EXACT in binary — algebraically
    * equivalent engine formulas then give bit-identical doubles; on
    * 2-decimal money columns the same query would drift by formula
    * association order. Exact percentile is a sort-based aggregate (one
    * shuffle on the group key, per-group sort); at 100 TB you'd reach for
    * approx_percentile's mergeable t-digest-style sketch (same plan shape
    * as q29's HLL) and gate it with a bound column. */
  val q31Percentiles: Q = Q("q31_percentiles", (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        percentile(col("l_quantity"), lit(0.25)).as("p25_qty"),
        percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
        percentile(col("l_quantity"), lit(0.75)).as("p75_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))
  }, Some("""
    SELECT l_returnflag, COUNT(*) AS n_items,
      quantile_cont(l_quantity, 0.25) AS p25_qty,
      quantile_cont(l_quantity, 0.5) AS p50_qty,
      quantile_cont(l_quantity, 0.75) AS p75_qty,
      MIN(l_quantity) AS min_qty,
      MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Sketch-based percentile (Greenwald-Khanna) — q31's 100 TB path:
    * mergeable per-partition sketches, no per-group sort. Validated like
    * q29's HLL: the query emits engine-agreeable columns plus `approx_ok`
    * — Spark's own sketch checked against the exact percentile within a
    * value-space bound (accuracy 10000 ⇒ rank error ≤ 0.01%, far inside
    * ±1 quantity unit on this distribution); the DuckDB oracle asserts
    * TRUE, so a broken sketch fails the hash match. */
  val q32ApproxPercentile: Q = Q("q32_approx_percentile", (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .as("ap50"))
      .select(col("l_returnflag"), col("n_items"), col("p50_qty"),
        (abs(col("ap50") - col("p50_qty")) <= lit(1.0)).as("approx_ok"))
      .orderBy(col("l_returnflag"))
  }, Some("""
    SELECT l_returnflag, COUNT(*) AS n_items,
      quantile_cont(l_quantity, 0.5) AS p50_qty,
      TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Unpivot (wide→long melt) — the inverse reshaping of q25's pivot:
    * the four per-line measures become (measure, value) rows. Spark's
    * `unpivot` plans one Expand ×4 (a generate, no shuffle, no join);
    * the long layout is what metric stores and plotting sinks ingest.
    * Bounded to a key prefix only to keep the compared output readable —
    * the operator itself is a narrow map at any scale. */
  val q34Unpivot: Q = Q("q34_unpivot", (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
  }, Some("""
    SELECT l_orderkey, l_linenumber, measure, value FROM (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        l_quantity AS value FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
      FROM lineitem WHERE l_orderkey < 1000)
    ORDER BY l_orderkey, l_linenumber, measure"""))

  /** FULL OUTER join — the one join type the catalog lacked: per-user
    * order spend ⟗ per-user event activity, keeping users present on
    * either side only. Both sides PRE-AGGREGATE to one row per key
    * before the join (A2-before-J1, the shuffle-halving rule from
    * SURVEY §7.4), and the keys/flags coalesce explicitly — USING-column
    * coalescing is spelled out rather than relied on. */
  val q35FullOuter: Q = Q("q35_full_outer", (s, d) => {
    val o = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("uid_o"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("spend"))
    val e = Tables.events(s, d)
      .groupBy(col("user_id").as("uid_e"))
      .agg(count(lit(1)).as("n_events"))
    o.join(e, col("uid_o") === col("uid_e"), "full_outer")
      .select(coalesce(col("uid_o"), col("uid_e")).as("user_id"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("uid_o").isNotNull.as("has_orders"),
        col("uid_e").isNotNull.as("has_events"))
      .orderBy(col("user_id"))
  }, Some(s"""
    WITH o AS (
      SELECT o_custkey AS uid_o, COUNT(*) AS n_orders,
        ${decSumSql("o_totalprice")} AS spend
      FROM orders GROUP BY o_custkey),
    e AS (
      SELECT user_id AS uid_e, COUNT(*) AS n_events
      FROM events GROUP BY user_id)
    SELECT COALESCE(uid_o, uid_e) AS user_id,
      COALESCE(n_orders, 0) AS n_orders,
      COALESCE(spend, 0.0) AS spend,
      COALESCE(n_events, 0) AS n_events,
      uid_o IS NOT NULL AS has_orders,
      uid_e IS NOT NULL AS has_events
    FROM o FULL OUTER JOIN e ON uid_o = uid_e
    ORDER BY user_id"""))

  /** Tumbling event-time windows in BATCH — hourly rollup via `window()`
    * (the same construct the streaming path aggregates on, so batch
    * backfill and live streaming produce identical buckets). Epoch-
    * aligned hour buckets match DuckDB's time_bucket; one hash-agg
    * shuffle on (bucket, type), the time-series rollup shape. */
  val q36Tumbling: Q = Q("q36_tumbling", (s, d) => {
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("n_users"))
      .orderBy(col("hour_start"), col("event_type"))
  }, Some("""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
      COUNT(*) AS n_events,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY hour_start, event_type
    ORDER BY hour_start, event_type"""))

  /** Range (band) join: each part priced into a small band dimension via
    * `lo <= price < hi` — the non-equi join family (q28's as-of is its
    * ordered cousin). With a broadcast-sized band table Spark plans a
    * BroadcastNestedLoopJoin: each row tests B=5 intervals, O(N·B) map
    * work and ZERO shuffle of the fact side — the right plan whenever the
    * interval dimension fits in memory (calendars, SLA tiers, price
    * bands). When BOTH sides are large, the scale path is interval
    * bucketing: overlay a uniform grid, equi-join on grid cell, re-check
    * the band predicate — never the NLJ. */
  val q37BandJoin: Q = Q("q37_band_join", (s, d) => {
    val bands = s.createDataFrame(Seq(
      (1, 900.0, 920.0), (2, 920.0, 940.0), (3, 940.0, 960.0),
      (4, 960.0, 980.0), (5, 980.0, 1000.0)))
      .toDF("band_id", "lo", "hi")
    Tables.part(s, d)
      .join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_parts"),
        decSum(col("p_retailprice")).as("retail_sum"))
      .orderBy(col("band_id"))
  }, Some(s"""
    WITH bands(band_id, lo, hi) AS (VALUES
      (1, 900.0, 920.0), (2, 920.0, 940.0), (3, 940.0, 960.0),
      (4, 960.0, 980.0), (5, 980.0, 1000.0))
    SELECT CAST(band_id AS INT) AS band_id, CAST(lo AS DOUBLE) AS lo,
      CAST(hi AS DOUBLE) AS hi, COUNT(*) AS n_parts,
      ${decSumSql("p_retailprice")} AS retail_sum
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY 1, 2, 3 ORDER BY band_id"""))

  /** Explicit GROUPING SETS — the general form q23 (ROLLUP) and q30
    * (CUBE) specialize: here the two one-dimension marginals plus the
    * grand total, SKIPPING the (status, priority) cross — one Expand ×3
    * + hash agg, strictly less work than CUBE when the cross isn't
    * wanted. gid uses the same bit encoding as q30. */
  val q38GroupingSets: Q = Q("q38_grouping_sets", (s, d) => {
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("revenue"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }, Some(s"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      ${decSumSql("o_totalprice")} AS revenue,
      CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT)
        AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY gid, o_orderstatus ASC NULLS FIRST,
      o_orderpriority ASC NULLS FIRST"""))

  /** Gaps-and-islands: per-customer streaks of CONSECUTIVE order days via
    * the classic `day_number - row_number` constant-key trick — sequence
    * segmentation without a self-join or loop (q11's sessionization is
    * the gap<threshold cousin; this is exact adjacency). ONE data
    * exchange total: the explicit customer-keyed repartition satisfies
    * the distinct's (cust, day) clustering by the subset rule, the
    * window's cust clustering, AND the island groupBy's — without it
    * Catalyst plans a (cust, day) exchange for the distinct and then a
    * second cust exchange for the window (verified via explain).
    * Integer day arithmetic only — no date-interval engine drift. */
  val q39GapsIslands: Q = Q("q39_gaps_islands", (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_day"))
    Tables.orders(s, d)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("o_day"))
      .repartition(col("o_custkey"))
      .distinct()
      .withColumn("island",
        datediff(col("o_day"), lit("1970-01-01").cast("date")) -
          row_number().over(w))
      .groupBy(col("o_custkey"), col("island"))
      .agg(min(col("o_day")).as("streak_start"),
        max(col("o_day")).as("streak_end"),
        count(lit(1)).cast("int").as("n_days"))
      .select(col("o_custkey"), col("streak_start"), col("streak_end"),
        col("n_days"))
      .orderBy(col("o_custkey"), col("streak_start"))
  }, Some("""
    WITH days AS (
      SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS o_day
      FROM orders),
    seq AS (
      SELECT o_custkey, o_day,
        datediff('day', DATE '1970-01-01', o_day)
          - row_number() OVER (PARTITION BY o_custkey ORDER BY o_day)
          AS island
      FROM days)
    SELECT o_custkey, MIN(o_day) AS streak_start, MAX(o_day) AS streak_end,
      CAST(COUNT(*) AS INT) AS n_days
    FROM seq GROUP BY o_custkey, island
    ORDER BY o_custkey, streak_start"""))

  /** Correlated-subquery semantics ("orders above the customer's own
    * average"), implemented DECORRELATED: the per-customer aggregate is a
    * window over the customer key — one exchange, no self-join, no
    * per-row subquery execution. The oracle spells the correlated scalar
    * subqueries to pin that the rewrite is semantics-preserving. The
    * above-average test compares EXACT decimals cross-multiplied
    * (price·n > sum) — no division on the filter path, so boundary rows
    * can't flip on a ulp; the reported average does one double division
    * of exact inputs (deterministic both engines). */
  val q40AboveAvg: Q = Q("q40_above_avg", (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
    Tables.orders(s, d)
      .withColumn("sum_d", sum(d2(col("o_totalprice"))).over(w))
      .withColumn("n_cust_orders", count(lit(1)).over(w))
      .filter(d2(col("o_totalprice")) * col("n_cust_orders") > col("sum_d"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (col("sum_d").cast("double") / col("n_cust_orders").cast("double"))
          .as("cust_avg"),
        col("n_cust_orders"))
      .orderBy(col("o_orderkey"))
  }, Some(s"""
    WITH sub AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
        (SELECT SUM(${d2Sql("i.o_totalprice")}) FROM orders i
          WHERE i.o_custkey = o.o_custkey) AS sum_d,
        (SELECT COUNT(*) FROM orders i
          WHERE i.o_custkey = o.o_custkey) AS n_cust_orders
      FROM orders o)
    SELECT o_orderkey, o_custkey, o_totalprice,
      CAST(sum_d AS DOUBLE) / CAST(n_cust_orders AS DOUBLE) AS cust_avg,
      n_cust_orders
    FROM sub
    WHERE ${d2Sql("o_totalprice")} * n_cust_orders > sum_d
    ORDER BY o_orderkey"""))

  /** Sliding (hopping) event-time windows — q36's overlapping cousin:
    * 1-hour windows every 30 minutes, so each event lands in exactly
    * width/slide = 2 buckets. Spark's `window(ts, w, s)` plans ONE Expand
    * (×2) + hash agg — the event replicates only into the short
    * (bucket, type) agg key, never a payload copy. The streaming path
    * aggregates on the identical construct, so backfill and live rollups
    * align bucket-for-bucket. */
  val q41Sliding: Q = Q("q41_sliding", (s, d) => {
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("n_users"))
      .orderBy(col("win_start"), col("event_type"))
  }, Some("""
    WITH expanded AS (
      SELECT event_type, user_id,
        unnest([time_bucket(INTERVAL '30 minutes', ts),
                time_bucket(INTERVAL '30 minutes', ts)
                  - INTERVAL '30 minutes']) AS win_start
      FROM events)
    SELECT win_start, event_type, COUNT(*) AS n_events,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM expanded
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type"""))

  /** Cohort retention matrix — the classic product-analytics rollup:
    * customers grouped by first-order month (cohort), counted in each
    * later ordering month as a month offset (orders span 1995–2001;
    * `events` covers a single month, so order cohorts are the meaningful
    * ones). NO self-join: first-seen month is a min-window over the
    * customer key on the distinct (customer, month) activity — the
    * explicit customer repartition serves both the distinct (subset
    * rule, q39's idiom) and the window, so the fact table crosses ONE
    * exchange and only the tiny (cohort, offset) matrix shuffles after
    * it. (The join formulation was measured to re-scan and re-shuffle
    * orders twice and broadcast the cohort side — which is
    * user-cardinality and must NOT broadcast at scale.) months_between
    * on month-truncated dates is exact whole months — no fractional
    * drift against the oracle's integer month diff. */
  val q42Cohort: Q = Q("q42_cohort", (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    Tables.orders(s, d)
      .select(col("o_custkey").as("user_id"),
        trunc(to_date(col("o_orderdate")), "month").as("m"))
      .repartition(col("user_id"))
      .distinct()
      .withColumn("cohort_month", min(col("m")).over(w))
      .select(col("cohort_month"),
        months_between(col("m"), col("cohort_month")).cast("int")
          .as("month_offset"))
      .groupBy(col("cohort_month"), col("month_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }, Some("""
    WITH by_user AS (
      SELECT DISTINCT o_custkey AS user_id,
        CAST(date_trunc('month', o_orderdate) AS DATE) AS m
      FROM orders),
    cohorts AS (
      SELECT user_id, MIN(m) AS cohort_month FROM by_user GROUP BY user_id)
    SELECT cohort_month,
      CAST(datediff('month', cohort_month, m) AS INT) AS month_offset,
      COUNT(*) AS n_users
    FROM cohorts JOIN by_user USING (user_id)
    GROUP BY cohort_month, month_offset
    ORDER BY cohort_month, month_offset"""))

  /** Heavy hitters via count-min sketch — q29's HLL pattern applied to
    * top-k: the exact per-key counts are the oracle-able output, and
    * `approx_ok` checks Spark's OWN mergeable CMS against the
    * eps·N guarantee (est ≥ true, est ≤ true + 10·eps·N), so a broken
    * sketch fails the hash match. The 100 TB shape: per-partition
    * sketches merge by counter addition (exact, order-insensitive —
    * the estimate is deterministic under ANY partitioning), the merged
    * sketch is KB-sized on the driver, and only the k candidate keys are
    * probed against it.
    *
    * Exactly TWO jobs touch lineitem: (1) the per-key exact counts —
    * map-side partial agg, one shuffle, eagerly checkpointed at
    * key-cardinality — from which BOTH the top-20 (TakeOrdered = a
    * per-partition top-k pre-reduction) and the total row count (sum of
    * the counts) derive without rescanning the fact; (2) the CMS build.
    * (Round 3 shipped three lineitem scans; the separate count() job is
    * folded away.) */
  val q44HeavyHitters: Q = Q("q44_heavy_hitters", (s, d) => {
    import s.implicits._
    val eps = 1e-4
    val li = Tables.lineitem(s, d).select(col("l_partkey"))
    val counts = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"))
      .localCheckpoint() // one lineitem scan feeds both reads below
    val top = counts
      .orderBy(col("n_lines").desc, col("l_partkey").asc)
      .limit(20).collect()
    val total = counts.agg(sum(col("n_lines"))).first().getLong(0).max(1L)
    val cms = li.stat.countMinSketch("l_partkey", eps, 0.99, 42)
    top.toSeq.map { r =>
      val (k, n) = (r.getLong(0), r.getLong(1))
      val est = cms.estimateCount(k)
      (k, n, est >= n && est - n <= math.max(1L, (10 * eps * total).toLong))
    }.toDF("l_partkey", "n_lines", "approx_ok")
      .orderBy(col("l_partkey"))
  }, Some("""
    SELECT l_partkey, n_lines, TRUE AS approx_ok FROM (
      SELECT l_partkey, COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_partkey
      ORDER BY n_lines DESC, l_partkey ASC LIMIT 20)
    ORDER BY l_partkey"""))

  /** Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
    * MULTIPLICITY, which q18's set-semantics family discards: shipments
    * of each part in 1998 vs 1999 as bags of partkeys. Spark plans both
    * as one aggregate computing per-key counts on each side then
    * replaying min/difference — a single shuffle on the key, no join,
    * exactly how you'd hand-write it at scale. The trailing count
    * aggregate makes the bag deterministic for comparison. */
  val q45MultisetOps: Q = Q("q45_multiset_ops", (s, d) => {
    def yr(y: Int) = Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")) === y).select(col("l_partkey"))
    val ex = yr(1998).exceptAll(yr(1999))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    val in = yr(1998).intersectAll(yr(1999))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    ex.unionByName(in)
      .select(col("op"), col("l_partkey"), col("n"))
      .orderBy(col("op"), col("l_partkey"))
  }, Some("""
    WITH a AS (SELECT l_partkey FROM lineitem
      WHERE year(l_shipdate) = 1998),
    b AS (SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1999)
    SELECT 'except_all' AS op, l_partkey, COUNT(*) AS n
    FROM (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
    GROUP BY l_partkey
    UNION ALL
    SELECT 'intersect_all' AS op, l_partkey, COUNT(*) AS n
    FROM (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b)
    GROUP BY l_partkey
    ORDER BY op, l_partkey"""))

  /** Ratio-to-report (contribution analysis): each priority's share of
    * its month's revenue — an aggregate windowed over a COARSER key than
    * it grouped by. Deliberately NOT pre-repartitioned on month (q39's
    * idiom inverted): the groupBy's partial aggregation reduces the fact
    * map-side before its (month, priority) exchange, and the window's
    * month exchange then moves only ~5 rows per month — forcing the raw
    * fact onto ~80 month partitions first would serialize the scan on
    * too few partitions at 100 TB. Shares stay exact until one double
    * division: the month total is a window-sum of DECIMALS (doubles
    * would re-introduce accumulation-order drift). */
  val q46RatioToReport: Q = Q("q46_ratio_to_report", (s, d) => {
    val byMonth = Window.partitionBy(col("month"))
    Tables.orders(s, d)
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("month"),
        col("o_orderpriority"))
      .agg(sum(d2(col("o_totalprice"))).as("rev_dec"))
      // both operands exact decimals cast to double ONCE, then a single
      // IEEE division — decimal÷decimal would round at engine-specific
      // result scales and drift a ulp
      .withColumn("share",
        col("rev_dec").cast("double") /
          sum(col("rev_dec")).over(byMonth).cast("double"))
      .select(col("month"), col("o_orderpriority"),
        col("rev_dec").cast("double").as("revenue"), col("share"))
      .orderBy(col("month"), col("o_orderpriority"))
  }, Some(s"""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        o_orderpriority,
        SUM(${d2Sql("o_totalprice")}) AS rev_dec
      FROM orders GROUP BY 1, 2)
    SELECT month, o_orderpriority,
      CAST(rev_dec AS DOUBLE) AS revenue,
      CAST(rev_dec AS DOUBLE)
        / CAST(SUM(rev_dec) OVER (PARTITION BY month) AS DOUBLE) AS share
    FROM monthly ORDER BY month, o_orderpriority"""))

  /** Gap-filling forward fill: the sparse daily revenue series per
    * priority joined onto the full date spine (q13's idiom), gaps
    * carried forward with `last(_, ignoreNulls)` over an unbounded-
    * preceding frame — the time-series densification every metrics
    * store needs, and the window-carry idiom q28's as-of join builds
    * on. One exchange on the (tiny) priority key for the fill window;
    * the spine join broadcasts the 5-row priority dim. Fill copies
    * existing exact values — no arithmetic on the carried column. */
  val q47ForwardFill: Q = Q("q47_forward_fill", (s, d) => {
    val orders = Tables.orders(s, d)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(decSum(col("o_totalprice")).as("revenue"))
    val spine = orders
      .agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val prios = orders.select(col("o_orderpriority")).distinct()
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.crossJoin(broadcast(prios))
      .join(daily, Seq("day", "o_orderpriority"), "left")
      .withColumn("filled_revenue",
        last(col("revenue"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("revenue").isNull)
      .orderBy(col("day"), col("o_orderpriority"))
  }, Some(s"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
        ${decSumSql("o_totalprice")} AS revenue
      FROM orders GROUP BY 1, 2),
    spine AS (
      SELECT CAST(unnest(generate_series(
        (SELECT CAST(MIN(o_orderdate) AS DATE) FROM orders),
        (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders),
        INTERVAL 1 DAY)) AS DATE) AS day),
    prios AS (SELECT DISTINCT o_orderpriority FROM orders),
    dense AS (
      SELECT s.day, p.o_orderpriority, d.revenue
      FROM spine s CROSS JOIN prios p
      LEFT JOIN daily d
        ON d.day = s.day AND d.o_orderpriority = p.o_orderpriority)
    SELECT day, o_orderpriority, revenue,
      last_value(revenue IGNORE NULLS) OVER (
        PARTITION BY o_orderpriority ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS filled_revenue,
      revenue IS NULL AS is_gap
    FROM dense ORDER BY day, o_orderpriority"""))

  /** Rolling 7-day distinct users (WAU per day) — DISTINCT over a
    * SLIDING frame, which no engine's window aggregate does directly:
    * per-day user SETS merge across a 7-day RANGE frame, then one
    * distinct+size. The exact-set form here is the oracle; at 100 TB
    * the same plan shape carries mergeable HLL sketches per day instead
    * of sets (q29's pattern — union the 7 sketches, read the estimate),
    * turning per-day state from user-cardinality to KB. Day arithmetic
    * is integer (RANGE frame on a day number), and only set SIZES are
    * emitted, so collect order never matters. */
  val q48RollingWau: Q = Q("q48_rolling_wau", (s, d) => {
    val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(collect_set(col("user_id")).as("us"),
        countDistinct(col("user_id")).as("n_day_users"))
      .withColumn("day_num",
        datediff(col("day"), lit("1970-01-01").cast("date")))
      .withColumn("wau_7d",
        size(array_distinct(flatten(collect_list(col("us")).over(w))))
          .cast("int"))
      .select(col("day"), col("n_day_users"), col("wau_7d"))
      .orderBy(col("day"))
  }, Some("""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
        list_distinct(list(user_id)) AS us,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_day_users
      FROM events GROUP BY 1)
    SELECT day, n_day_users,
      CAST(len(list_distinct(flatten(list(us) OVER (
        ORDER BY datediff('day', DATE '1970-01-01', day)
        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)))) AS INT) AS wau_7d
    FROM daily ORDER BY day"""))

  /** Rolling 7-day WAU, PRODUCTION path — q48's scale-safe twin. q48's
    * exact form carries per-day user SETS (user-cardinality state) through
    * an unpartitioned window; this query carries mergeable per-day HLL
    * sketches (Datasketches HllSketch, lgK=14 ⇒ ~0.8% rel. error, KB-sized)
    * instead: one sketch per day, `hll_union_agg` over the same 7-day RANGE
    * frame, read the estimate. Per-day window state drops from O(users) to
    * O(KB·7) regardless of scale. Lineage contains NO collect_set.
    *
    * Validated like q29: the exact WAU rides along as its own
    * collect_set-free lineage — distinct (day,user) pairs exploded to the
    * ≤7 window days each contributes to, distinct again, counted (shuffle
    * volume ≤ 7× DAU-cardinality, bounded) — and `approx_ok` asserts the
    * sketch estimate within 5%. The DuckDB oracle recomputes the exact
    * columns and asserts TRUE, so a broken sketch fails the hash match. */
  val q51SketchWau: Q = Q("q51_sketch_wau", (s, d) => {
    val pairs = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val daily = pairs.groupBy(col("day"))
      .agg(count(lit(1)).as("n_day_users"),
        hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    val approx = daily
      .withColumn("day_num",
        datediff(col("day"), lit("1970-01-01").cast("date")))
      .withColumn("wau_est",
        hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
      .select(col("day"), col("n_day_users"), col("wau_est"))
    // exact twin without sets: each active (day,user) contributes to the
    // 7 window-days [day, day+6]; distinct pairs → explode ×7 → distinct
    val exact = pairs
      .select(explode(sequence(col("day"), date_add(col("day"), 6)))
        .as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau_7d_exact"))
    approx.join(exact, Seq("day"))
      .select(col("day"), col("n_day_users"), col("wau_7d_exact"),
        (abs(col("wau_est") - col("wau_7d_exact")).cast("double") /
          col("wau_7d_exact") <= lit(0.05)).as("approx_ok"))
      .orderBy(col("day"))
  }, Some("""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    daily AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_day_users
      FROM pairs GROUP BY day),
    ex AS (
      SELECT d.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau_7d_exact
      FROM daily d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day)
    SELECT d.day, d.n_day_users, ex.wau_7d_exact, TRUE AS approx_ok
    FROM daily d JOIN ex ON d.day = ex.day ORDER BY d.day"""))

  /** Equi-width histogram by PURE-COLUMN binning — the grid-bucketing
    * scale path q37's band join documents for large×large range work:
    * bucket id is arithmetic on the value (no join, no broadcast, no
    * lookup), so binning 100 TB is a narrow map + one tiny aggregate.
    * Bucket bounds re-derive from the id; integer bucket arithmetic on
    * 0.1-granular prices (p·10 is exact) keeps edge values engine-stable. */
  val q49Histogram: Q = Q("q49_histogram", (s, d) => {
    Tables.part(s, d)
      .select((floor(((d2(col("p_retailprice")) - 900) * 10) / 100))
        .cast("int").as("bucket"),
        col("p_retailprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("p_retailprice")).as("min_price"),
        max(col("p_retailprice")).as("max_price"))
      .withColumn("lo", (lit(900) + col("bucket") * 10).cast("double"))
      .withColumn("hi", (lit(910) + col("bucket") * 10).cast("double"))
      .select(col("bucket"), col("lo"), col("hi"), col("n_parts"),
        col("min_price"), col("max_price"))
      .orderBy(col("bucket"))
  }, Some(s"""
    WITH binned AS (
      SELECT CAST(floor((${d2Sql("p_retailprice")} - 900) * 10 / 100)
        AS INT) AS bucket, p_retailprice
      FROM part)
    SELECT bucket, CAST(900 + bucket * 10 AS DOUBLE) AS lo,
      CAST(910 + bucket * 10 AS DOUBLE) AS hi,
      COUNT(*) AS n_parts,
      MIN(p_retailprice) AS min_price,
      MAX(p_retailprice) AS max_price
    FROM binned GROUP BY bucket
    ORDER BY bucket"""))

  /** RFM segmentation — recency/frequency/monetary quartiles composed
    * into a 3-digit segment, the classic customer-scoring rollup. All
    * three ntiles ride ONE exchange: the per-customer aggregate reduces
    * the fact table first (A2-before-W, the q43 rule), and every window
    * has a TOTAL order (custkey tiebreak) so quartile boundaries are
    * engine-stable. Exact global ntile is the oracle form; at 1B+
    * customers the scale path is approx_percentile cutoffs (q32's
    * sketch pattern) instead of a single-partition sort. */
  val q50Rfm: Q = Q("q50_rfm", (s, d) => {
    val byCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("frequency"),
        decSum(col("o_totalprice")).as("monetary"))
    val maxDay = Window.partitionBy()
    // recency: days from the customer's last order to the corpus max
    // (a data-derived anchor — no wall clock, deterministic)
    val wR = Window.orderBy(col("recency").asc, col("o_custkey").asc)
    val wF = Window.orderBy(col("frequency").desc, col("o_custkey").asc)
    val wM = Window.orderBy(col("monetary").desc, col("o_custkey").asc)
    byCust
      .withColumn("recency",
        datediff(max(col("last_day")).over(maxDay), col("last_day")))
      .withColumn("r", ntile(4).over(wR))
      .withColumn("f", ntile(4).over(wF))
      .withColumn("m", ntile(4).over(wM))
      .select(col("o_custkey"), col("recency"), col("frequency"),
        col("monetary"), col("r"), col("f"), col("m"),
        concat(col("r"), col("f"), col("m")).as("segment"))
      .orderBy(col("o_custkey"))
  }, Some(s"""
    WITH by_cust AS (
      SELECT o_custkey, CAST(MAX(o_orderdate) AS DATE) AS last_day,
        COUNT(*) AS frequency,
        ${decSumSql("o_totalprice")} AS monetary
      FROM orders GROUP BY o_custkey),
    rfm AS (
      SELECT o_custkey,
        datediff('day', last_day, MAX(last_day) OVER ()) AS recency,
        frequency, monetary
      FROM by_cust),
    tiled AS (
      SELECT *,
        CAST(ntile(4) OVER (ORDER BY recency ASC, o_custkey ASC) AS INT)
          AS r,
        CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC)
          AS INT) AS f,
        CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC)
          AS INT) AS m
      FROM rfm)
    SELECT o_custkey, CAST(recency AS INT) AS recency, frequency,
      monetary, r, f, m, r || f || m AS segment
    FROM tiled ORDER BY o_custkey"""))

  /** Grouped least-squares regression + Pearson correlation from EXACT
    * integer moment sums — the statistical-aggregate family (corr, covar,
    * regr_slope/intercept) as one map-side-combinable pass. Engines
    * disagree bit-wise on their built-in streaming corr/var (different
    * accumulation orders), so the deterministic form is: accumulate the
    * five moments (Σx, Σy, Σx², Σy², Σxy) as exact BIGINTs (size is an
    * int, price rides in cents ≤ 10⁵ so Σy² stays < 2⁶³ far past sf100),
    * then derive the statistics with a FIXED double expression tree both
    * engines evaluate identically. One narrow scan + one 25-key hash agg;
    * at 100 TB this is the only shape that parallelizes: the moments are
    * associative, the finishing arithmetic is per-group O(1). */
  val q52StatsRegression: Q = Q("q52_stats_regression", (s, d) => {
    val moments = Tables.part(s, d)
      .select(col("p_brand"), col("p_size").cast("long").as("x"),
        (d2(col("p_retailprice")) * 100).cast("long").as("yc"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("x")).as("sx"), sum(col("yc")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yc") * col("yc")).as("syy"),
        sum(col("x") * col("yc")).as("sxy"))
    val nd = col("n_parts").cast("double")
    val sxd = col("sx").cast("double")
    val syd = col("sy").cast("double")
    val varx = nd * col("sxx").cast("double") - sxd * sxd
    val vary = nd * col("syy").cast("double") - syd * syd
    val cov = nd * col("sxy").cast("double") - sxd * syd
    moments
      .select(col("p_brand"), col("n_parts"),
        when(varx === 0, lit(null).cast("double"))
          .otherwise((cov / varx) / 100.0).as("slope"),
        when(varx === 0, lit(null).cast("double"))
          .otherwise(((syd - (cov / varx) * sxd) / nd) / 100.0)
          .as("intercept"),
        when(varx === 0 || vary === 0, lit(null).cast("double"))
          .otherwise(cov / sqrt(varx * vary)).as("r"))
      .orderBy(col("p_brand"))
  }, Some(s"""
    WITH moments AS (
      SELECT p_brand, COUNT(*) AS n_parts,
        SUM(x) AS sx, SUM(yc) AS sy,
        SUM(x * x) AS sxx, SUM(yc * yc) AS syy, SUM(x * yc) AS sxy
      FROM (SELECT p_brand, CAST(p_size AS BIGINT) AS x,
              CAST(${d2Sql("p_retailprice")} * 100 AS BIGINT) AS yc
            FROM part)
      GROUP BY p_brand),
    d AS (
      SELECT p_brand, n_parts,
        CAST(n_parts AS DOUBLE) AS nd,
        CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        CAST(sxy AS DOUBLE) AS sxyd
      FROM moments),
    v AS (
      SELECT p_brand, n_parts, nd, sxd, syd,
        nd * sxxd - sxd * sxd AS varx,
        nd * syyd - syd * syd AS vary,
        nd * sxyd - sxd * syd AS cov
      FROM d)
    SELECT p_brand, n_parts,
      CASE WHEN varx = 0 THEN NULL
        ELSE (cov / varx) / 100.0 END AS slope,
      CASE WHEN varx = 0 THEN NULL
        ELSE ((syd - (cov / varx) * sxd) / nd) / 100.0 END AS intercept,
      CASE WHEN varx = 0 OR vary = 0 THEN NULL
        ELSE cov / sqrt(varx * vary) END AS r
    FROM v ORDER BY p_brand"""))

  /** Sorted string aggregation (LISTAGG / string_agg) — the reporting
    * surface's "concatenate group members" op, made deterministic the
    * only way it can be at scale: collect the DISTINCT set, SORT inside
    * the row, then join — never string_agg over an unordered stream
    * (partition order would leak into the result). One hash aggregate;
    * the sort is per-row over ≤ |distinct types| elements, so the
    * operator parallelizes like any keyed agg at 100 TB — the row-local
    * sort replaces a per-group global ORDER BY. */
  val q53ListAgg: Q = Q("q53_listagg", (s, d) => {
    Tables.part(s, d)
      .groupBy(col("p_brand"))
      .agg(collect_set(col("p_type")).as("ts"),
        countDistinct(col("p_type")).as("n_types"))
      .select(col("p_brand"), col("n_types"),
        array_join(array_sort(col("ts")), ",").as("types_csv"))
      .orderBy(col("p_brand"))
  }, Some("""
    SELECT p_brand,
      CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
      array_to_string(list_sort(list(DISTINCT p_type)), ',') AS types_csv
    FROM part GROUP BY p_brand ORDER BY p_brand"""))

  /** Recursive-hierarchy flattening — the WITH RECURSIVE query family
    * (org charts, BOM explosion, category rollup paths), which the
    * reference's warehouse would spell as a recursive CTE. The hierarchy
    * is derived from part keys with an acyclic integer parent function
    * (parent = k div (2 + k mod 7), strictly decreasing to the virtual
    * root 0) so both engines build the identical forest with no extra
    * fixture. The engine-of-record plan is Hierarchy.flatten's pointer
    * DOUBLING — node-keyed hash joins run to a FIXED POINT, reaching
    * depth 2^r after r rounds (and failing loudly on a cycle), where the
    * oracle's literal recursion is depth-many sequential scans; at
    * 100 TB the doubling form is the only shape whose round count is
    * logarithmic in chain length. Output: every node with the top-level
    * category it rolls up to and its depth below it. */
  val q54HierarchyFlatten: Q = Q("q54_hierarchy_flatten", (s, d) => {
    val nodes = Tables.part(s, d).select(
      col("p_partkey").cast("long").as("k"),
      expr("CAST(p_partkey AS LONG) div CAST(2 + p_partkey % 7 AS LONG)")
        .as("parent"))
    Hierarchy.flatten(nodes, "k", "parent", rootParent = 0L)
      .select(col("k").as("p_partkey"), col("top_key"), col("depth"))
      .orderBy(col("p_partkey"))
  }, Some("""
    WITH RECURSIVE nodes AS (
      SELECT CAST(p_partkey AS BIGINT) AS k,
             CAST(p_partkey // (2 + p_partkey % 7) AS BIGINT) AS parent
      FROM part),
    flat AS (
      SELECT k, k AS top_key, CAST(0 AS BIGINT) AS depth
      FROM nodes WHERE parent = 0
      UNION ALL
      SELECT n.k, f.top_key, f.depth + 1
      FROM nodes n JOIN flat f ON n.parent = f.k
      WHERE n.parent <> 0)
    SELECT k AS p_partkey, top_key, depth FROM flat ORDER BY p_partkey"""))

  /** Grouped mode / argmax-by-count — the `mode()` / `arg_max()` family,
    * spelled the only way it is deterministic at scale: explicit counts,
    * then ONE row per group by (count DESC, value ASC) — engines'
    * built-in mode() breaks ties arbitrarily, so the tiebreak must be
    * total. The fact table reduces to (group, value) counts FIRST (one
    * fact shuffle with map-side combine); the ranking window and the
    * group-total sum both ride the pre-reduced count rows, so window
    * state is |distinct values| per group, never fact-sized. */
  val q55Mode: Q = Q("q55_mode", (s, d) => {
    val counts = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val wRank = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("n").desc, col("c_mktsegment").asc)
    val wTot = Window.partitionBy(col("c_nationkey"))
    counts
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n_customers", sum(col("n")).over(wTot))
      .filter(col("rk") === 1)
      .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"),
        col("n").as("n_mode"), col("n_customers"),
        (col("n").cast("double") / col("n_customers").cast("double"))
          .as("mode_share"))
      .orderBy(col("c_nationkey"))
  }, Some("""
    WITH counts AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY c_nationkey
          ORDER BY n DESC, c_mktsegment ASC) AS rk,
        CAST(SUM(n) OVER (PARTITION BY c_nationkey) AS BIGINT)
          AS n_customers
      FROM counts)
    SELECT c_nationkey, c_mktsegment AS mode_segment, n AS n_mode,
      n_customers,
      CAST(n AS DOUBLE) / CAST(n_customers AS DOUBLE) AS mode_share
    FROM ranked WHERE rk = 1 ORDER BY c_nationkey"""))

  /** Ordered event-path analysis — the "user journey" rollup: each
    * user's first five events in a TOTAL order (ts, then event_id — ties
    * on ts exist, so the tiebreak is what makes the path deterministic)
    * concatenate into a path string, then paths aggregate into journey
    * frequencies. The sequence is built by sorting INSIDE the row
    * (array_sort over (rn, type) structs after a rank-filtered window),
    * never by assuming collect order — collect_list order is partition-
    * dependent, the classic nondeterminism trap in path analysis. One
    * user-keyed fact exchange feeds both the window and the per-user
    * aggregate; the path-frequency shuffle moves only ≤ |distinct paths|
    * pre-combined rows. */
  val q56EventPaths: Q = Q("q56_event_paths", (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          e => e.getField("event_type")),
        " > ").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("path"))
  }, Some("""
    WITH ranked AS (
      SELECT user_id, event_type,
        row_number() OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id, string_agg(event_type, ' > ' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 5 GROUP BY user_id)
    SELECT path, COUNT(*) AS n_users
    FROM paths GROUP BY path ORDER BY path"""))

  /** PageRank (3 fixed power iterations, damping 0.85) over the
    * undirected customer↔supplier trade graph — the centrality member of
    * the graph family (components: d06/Cluster; hierarchy: q54). All
    * arithmetic is INTEGER: ranks live at a 10¹² fixed-point scale and
    * every division is an integer `div`, because float PageRank is
    * order-sensitive across partitions (Σ of doubles) and would never
    * hash-match another engine. Rounds are FIXED and each round is one
    * degree-join + one edge-keyed aggregation over (node, rank) pairs —
    * map-side combined, nothing broadcast but the two scalars, each
    * round's result checkpointed (the Cluster lesson: iterative
    * self-joins must truncate lineage). Node ids disambiguate the two
    * key spaces arithmetically (cust×2 / supp×2+1). */
  val q57PageRank: Q = Q("q57_pagerank", (s, d) => {
    val ecs = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("u"),
        (col("l_suppkey") * 2 + 1).as("v"))
      .distinct()
    val edges = ecs
      .unionByName(ecs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    // degree MATERIALIZED once and pre-joined onto the edges: the loop
    // below then runs ONE join + one aggregation per round instead of
    // three (the old shape re-derived deg AND nodes from the edge table
    // every round and joined rank⨝deg separately — guide §2.4). deg's
    // key set IS the node set (every node has an out-edge in the
    // undirected edge list), so nodes comes free from deg.
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val edgesD = edges.join(deg, Seq("u")).localCheckpoint(true)
    val nodes = deg.select(col("u").as("node"))
    // two documented scalar collects: node count for the uniform prior
    val n = nodes.count()
    val R = 1000000000000L
    val base = (R * 15L / 100L) / n
    var rank = nodes.withColumn("r", lit(R / n)).localCheckpoint(true)
    (1 to 3).foreach { _ =>
      // r div deg(u) per edge — identical integer contribution per
      // source node as the old per-node contrib join, summed the same
      val inflow = edgesD.join(rank, col("u") === col("node"))
        .groupBy(col("v")).agg(sum(expr("r div deg")).as("inflow"))
      rank = nodes.join(inflow, col("node") === col("v"), "left")
        .select(col("node"),
          (lit(base) + expr("(coalesce(inflow, 0L) * 85) div 100"))
            .as("r"))
        .localCheckpoint(true)
    }
    rank.select(
      when(pmod(col("node"), lit(2)) === 0, "customer")
        .otherwise("supplier").as("kind"),
      expr("node div 2").as("key"), col("r").as("rank_scaled"))
      .orderBy(col("kind"), col("key"))
  }, Some("""
    WITH ecs AS (
      SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (SELECT u, v FROM ecs UNION ALL SELECT v, u FROM ecs),
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    params AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r
           FROM nodes CROSS JOIN params),
    c1 AS (SELECT node, r // deg AS c FROM r0 JOIN deg ON node = u),
    i1 AS (SELECT v, CAST(SUM(c) AS BIGINT) AS inflow
           FROM edges JOIN c1 ON edges.u = c1.node GROUP BY v),
    r1 AS (SELECT node, CAST((150000000000 // n)
             + (COALESCE(inflow, 0) * 85) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN params LEFT JOIN i1 ON node = v),
    c2 AS (SELECT node, r // deg AS c FROM r1 JOIN deg ON node = u),
    i2 AS (SELECT v, CAST(SUM(c) AS BIGINT) AS inflow
           FROM edges JOIN c2 ON edges.u = c2.node GROUP BY v),
    r2 AS (SELECT node, CAST((150000000000 // n)
             + (COALESCE(inflow, 0) * 85) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN params LEFT JOIN i2 ON node = v),
    c3 AS (SELECT node, r // deg AS c FROM r2 JOIN deg ON node = u),
    i3 AS (SELECT v, CAST(SUM(c) AS BIGINT) AS inflow
           FROM edges JOIN c3 ON edges.u = c3.node GROUP BY v),
    r3 AS (SELECT node, CAST((150000000000 // n)
             + (COALESCE(inflow, 0) * 85) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN params LEFT JOIN i3 ON node = v)
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        AS kind,
      CAST(node // 2 AS BIGINT) AS key, r AS rank_scaled
    FROM r3 ORDER BY kind, key"""))

  /** Temporal validity intervals — the query form of SCD Type-2 history
    * (the Scd2 operator's semantic, lifted into the oracle-gated
    * catalog): each customer's orders become [valid_from, valid_to)
    * rows via lead() over a TOTAL order (date, then orderkey — same-day
    * orders exist, so the tiebreak decides interval adjacency
    * deterministically), the open row marked current with a sentinel
    * end date. One customer-keyed window over the pruned fact — the
    * as-of lookup this table serves is then a range probe (q37's
    * pattern). */
  val q58Scd2Intervals: Q = Q("q58_scd2_intervals", (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("valid_from").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        to_date(col("o_orderdate")).as("valid_from"))
      .withColumn("nxt", lead(col("valid_from"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("valid_from"),
        coalesce(col("nxt"), lit("9999-12-31").cast("date"))
          .as("valid_to"),
        col("nxt").isNull.as("is_current"))
      .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
  }, Some("""
    WITH base AS (
      SELECT o_custkey, o_orderkey, o_orderstatus,
        CAST(o_orderdate AS DATE) AS valid_from
      FROM orders WHERE o_custkey < 300),
    iv AS (
      SELECT *, LEAD(valid_from) OVER (PARTITION BY o_custkey
        ORDER BY valid_from, o_orderkey) AS nxt
      FROM base)
    SELECT o_custkey, o_orderkey, o_orderstatus, valid_from,
      COALESCE(nxt, DATE '9999-12-31') AS valid_to,
      nxt IS NULL AS is_current
    FROM iv ORDER BY o_custkey, valid_from, o_orderkey"""))

  /** Market-basket association mining — support / confidence / lift for
    * brand pairs co-purchased in one order, the classic co-occurrence
    * rollup. The basket domain is the BRAND (25 values): baskets first
    * reduce to distinct (order, brand) rows — the self-join then meets
    * only inside an order and emits ≤ (brands-per-order choose 2) pairs,
    * never line-item pairs, which is what keeps a basket pass tractable
    * when orders are wide. All statistics derive from exact integer
    * counts (pair, singles, total baskets) with one double division
    * each; ordering is the total (brand_a, brand_b), never the float
    * lift. */
  val q59MarketBasket: Q = Q("q59_market_basket", (s, d) => {
    // materialized ONCE: the basket base feeds four plan branches (brand
    // counts, the basket-count scalar, both self-join sides) — uncached
    // the lineitem⨝part distinct recomputed per branch (16 scans / 32
    // exchanges in the round-16 before-plan; now 2 scans + one shuffled
    // distinct). At warehouse scale this is the persisted basket table.
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .cache()
    val single = items.groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
    // documented scalar collect: total basket count for support
    val nBaskets = items.select(col("l_orderkey")).distinct().count()
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.p_brand") < col("b.p_brand"))
      .select(col("a.p_brand").as("brand_a"),
        col("b.p_brand").as("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(single.select(col("p_brand").as("brand_a"),
        col("n").as("n_a")), Seq("brand_a"))
      .join(single.select(col("p_brand").as("brand_b"),
        col("n").as("n_b")), Seq("brand_b"))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        (col("n_ab").cast("double") / lit(nBaskets).cast("double"))
          .as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_ab") * lit(nBaskets)).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("brand_a"), col("brand_b"))
  }, Some("""
    WITH items AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    single AS (
      SELECT p_brand, COUNT(*) AS n FROM items GROUP BY p_brand),
    params AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        COUNT(*) AS n_ab
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand)
    SELECT brand_a, brand_b, n_ab, sa.n AS n_a, sb.n AS n_b,
      CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
      CAST(n_ab AS DOUBLE) / CAST(sa.n AS DOUBLE) AS confidence,
      CAST(n_ab * n_baskets AS DOUBLE)
        / CAST(sa.n * sb.n AS DOUBLE) AS lift
    FROM pairs CROSS JOIN params
      JOIN single sa ON brand_a = sa.p_brand
      JOIN single sb ON brand_b = sb.p_brand
    ORDER BY brand_a, brand_b"""))

  /** Hierarchical rollup — what q54's flatten exists FOR: aggregate a
    * measure up the tree by top-level category (the BOM / category-tree
    * rollup). Flattening first turns the recursive rollup into ONE
    * ordinary keyed aggregation over (top_key) — the category table is
    * category-cardinality, the measure sums are exact decimals, and
    * depth statistics ride the same pass. A literal recursive rollup
    * would walk parent links level by level; flatten-then-aggregate is
    * the shape that scales. */
  val q60HierarchyRollup: Q = Q("q60_hierarchy_rollup", (s, d) => {
    val nodes = Tables.part(s, d).select(
      col("p_partkey").cast("long").as("k"),
      expr("CAST(p_partkey AS LONG) div CAST(2 + p_partkey % 7 AS LONG)")
        .as("parent"))
    val flat = graft.operators.Hierarchy.flatten(nodes, "k", "parent")
    Tables.part(s, d)
      .select(col("p_partkey").cast("long").as("k"),
        col("p_retailprice"))
      .join(flat, Seq("k"))
      .groupBy(col("top_key"))
      .agg(count(lit(1)).as("n_parts"),
        decSum(col("p_retailprice")).as("total_price"),
        max(col("depth")).as("max_depth"),
        decAvg(col("p_retailprice")).as("avg_price"))
      .orderBy(col("top_key"))
  }, Some(s"""
    WITH RECURSIVE nodes AS (
      SELECT CAST(p_partkey AS BIGINT) AS k,
             CAST(p_partkey // (2 + p_partkey % 7) AS BIGINT) AS parent
      FROM part),
    flat AS (
      SELECT k, k AS top_key, CAST(0 AS BIGINT) AS depth
      FROM nodes WHERE parent = 0
      UNION ALL
      SELECT n.k, f.top_key, f.depth + 1
      FROM nodes n JOIN flat f ON n.parent = f.k
      WHERE n.parent <> 0)
    SELECT top_key, COUNT(*) AS n_parts,
      ${decSumSql("p_retailprice")} AS total_price,
      MAX(depth) AS max_depth,
      ${decAvgSql("p_retailprice")} AS avg_price
    FROM part JOIN flat ON CAST(p_partkey AS BIGINT) = flat.k
    GROUP BY top_key ORDER BY top_key"""))
}

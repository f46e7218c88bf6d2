package graft.queries

import graft.Tables
import graft.operators.KmvSketch
import org.apache.spark.sql.functions._
import Dsl._

/** Audience-analytics catalog: sketch-based segment overlap (the set
  * algebra HLL cannot do) and ordered funnel conversion — the two marts
  * the reference's dashboard layer asks of the events fact beyond plain
  * rollups (dashboard/app.py engagement views; dbt_project/models/marts).
  *
  * Both queries are deterministic end-to-end — q61's sketch estimates are
  * order statistics over md5 hashes and ratios of exact integers, so even
  * the APPROXIMATE numbers hash-match the DuckDB oracle bit-for-bit
  * (unlike HLL/GK queries q29/q31/q51, which gate via bound columns).
  */
object AnalyticsQ {

  def all: Seq[Q] = Seq(q61KmvOverlap, q62Funnel, q63KmvContainment,
    q64TimeToConvert, q65RevenueGini, q66NewVsReturning,
    q67OrderGaps, q68ParetoAbc, q69Retention, q70PitSnapshot,
    q71FulfillmentLag, q72BasketAffinity, q73RepeatSurvival,
    q74SegmentMigration)

  private val K = 64

  /** KMV sketch segment overlap: distinct active USER-DAY estimates per
    * event-type pair — union, intersection, Jaccard — from k=64 sketches,
    * with the exact counts riding along as the error gate (segments share
    * ~20-40% of their user-days, so the intersection path is genuinely
    * exercised). At 100 TB the sketch table (5 rows × 64 hashes) is all
    * that meets the pair join; the events fact is read once. `approx_ok`
    * pins the estimator inside the KMV standard error (1/√(k-2) ≈ 12.7%;
    * gate 3σ) against the exact intersection computed by a distinct-pair
    * self-join twin. */
  val q61KmvOverlap: Q = Q("q61_kmv_overlap", (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("ud", concat(col("user_id").cast("string"), lit(":"),
        to_date(col("ts")).cast("string")))
    val sketches = KmvSketch.sketchWithExact(ev, "event_type",
      col("ud"), K)
    val overlaps = KmvSketch.pairwiseOverlap(sketches, "event_type", K)
      .withColumnRenamed("ga", "type_a").withColumnRenamed("gb", "type_b")
    // exact intersection twin: distinct (type, user-day) pairs self-joined
    val pairs = ev.select(col("event_type"), col("ud")).distinct()
    val exactInter = pairs.as("x")
      .join(pairs.as("y"), col("x.ud") === col("y.ud") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("inter_exact"))
    overlaps.join(exactInter, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        coalesce(col("inter_exact"), lit(0L)).as("inter_exact"),
        col("est_union"), col("est_inter"), col("jaccard_est"),
        (abs(col("est_inter") - coalesce(col("inter_exact"), lit(0L))
          .cast("double")) <=
          lit(3.0 / math.sqrt(K - 2)) * col("est_union")).as("approx_ok"))
      .orderBy(col("type_a"), col("type_b"))
  }, Some(s"""
    WITH hashes AS (
      SELECT DISTINCT event_type,
        md5(CAST(user_id AS VARCHAR) || ':' ||
            CAST(CAST(ts AS DATE) AS VARCHAR)) AS h
      FROM events),
    ranked AS (
      SELECT event_type, h,
        row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
      FROM hashes),
    sk AS (SELECT event_type, h FROM ranked WHERE rn <= $K),
    seg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM hashes GROUP BY event_type),
    prs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM seg a JOIN seg b ON a.event_type < b.event_type),
    uni0 AS (
      SELECT DISTINCT p.type_a, p.type_b, s.h
      FROM prs p JOIN sk s ON s.event_type IN (p.type_a, p.type_b)),
    uni AS (
      SELECT type_a, type_b, h,
        row_number() OVER (PARTITION BY type_a, type_b ORDER BY h ASC) AS rn
      FROM uni0),
    unik AS (SELECT type_a, type_b, h, rn FROM uni WHERE rn <= $K),
    uagg AS (
      SELECT type_a, type_b, CAST(COUNT(*) AS INT) AS u_size, max(h) AS kth
      FROM unik GROUP BY type_a, type_b),
    common AS (
      SELECT u.type_a, u.type_b, CAST(COUNT(*) AS INT) AS n_common
      FROM unik u
      JOIN sk sa ON sa.event_type = u.type_a AND sa.h = u.h
      JOIN sk sb ON sb.event_type = u.type_b AND sb.h = u.h
      GROUP BY u.type_a, u.type_b),
    pairs2 AS (
      SELECT DISTINCT event_type,
        CAST(user_id AS VARCHAR) || ':' ||
          CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
      FROM events),
    interx AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
        CAST(COUNT(*) AS BIGINT) AS inter_exact
      FROM pairs2 x JOIN pairs2 y ON x.ud = y.ud
        AND x.event_type < y.event_type
      GROUP BY 1, 2),
    est AS (
      SELECT u.type_a, u.type_b, u.u_size,
        CASE WHEN u.u_size < $K THEN CAST(u.u_size AS DOUBLE)
             ELSE CAST(${K - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE) /
               CAST(CAST('0x' || substr(u.kth, 1, 12) AS BIGINT) AS DOUBLE)
        END AS est_union,
        COALESCE(c.n_common, 0) AS n_common
      FROM uagg u LEFT JOIN common c
        ON c.type_a = u.type_a AND c.type_b = u.type_b)
    SELECT e.type_a, e.type_b, sa.n_exact AS n_a, sb.n_exact AS n_b,
      COALESCE(i.inter_exact, 0) AS inter_exact,
      e.est_union,
      (CAST(e.n_common AS DOUBLE) / CAST(e.u_size AS DOUBLE)) * e.est_union
        AS est_inter,
      CAST(e.n_common AS DOUBLE) / CAST(e.u_size AS DOUBLE) AS jaccard_est,
      (abs((CAST(e.n_common AS DOUBLE) / CAST(e.u_size AS DOUBLE))
           * e.est_union - CAST(COALESCE(i.inter_exact, 0) AS DOUBLE))
        <= ${3.0 / math.sqrt(K - 2)} * e.est_union) AS approx_ok
    FROM est e
    JOIN seg sa ON sa.event_type = e.type_a
    JOIN seg sb ON sb.event_type = e.type_b
    LEFT JOIN interx i ON i.type_a = e.type_a AND i.type_b = e.type_b
    ORDER BY e.type_a, e.type_b"""))

  /** Ordered 3-step funnel (view → click → purchase) within 7 days of the
    * first view: per-step reached-user counts and conversion rates. Each
    * step is a keyed MIN aggregate joined to the previous step's
    * timestamp — three user-keyed shuffles that all reuse one hash
    * partitioning, never a per-event sequence scan; the strictly-greater
    * timestamp ordering makes "then" well-defined and deterministic. */
  val q62Funnel: Q = Q("q62_funnel", (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").as("e")
      .join(s1.as("s1"), col("e.user_id") === col("s1.user_id"))
      .filter(col("e.ts") > col("t1") &&
        col("e.ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase").as("e")
      .join(s2.as("s2"), col("e.user_id") === col("s2.user_id"))
      .filter(col("e.ts") > col("t2") &&
        col("e.ts") <= col("s2.t1") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("t3"))
    val n1 = s1.agg(count(lit(1)).as("users")).withColumn("step", lit(1))
    val n2 = s2.agg(count(lit(1)).as("users")).withColumn("step", lit(2))
    val n3 = s3.agg(count(lit(1)).as("users")).withColumn("step", lit(3))
    val steps = n1.unionByName(n2).unionByName(n3)
      .withColumn("step_name",
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          col("step")))
    val first = n1.select(col("users").as("u1"))
    steps.crossJoin(first)
      .withColumn("prev_users",
        lag(col("users"), 1).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("step"))))
      .select(col("step"), col("step_name"), col("users"),
        (col("users").cast("double") /
          coalesce(col("prev_users"), col("users")).cast("double"))
          .as("conv_from_prev"),
        (col("users").cast("double") / col("u1").cast("double"))
          .as("conv_from_first"))
      .orderBy(col("step"))
  }, Some("""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id),
    steps AS (
      SELECT 1 AS step, 'view' AS step_name,
        CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS users
      UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
      UNION ALL SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT))
    SELECT step, step_name, users,
      CAST(users AS DOUBLE) /
        CAST(COALESCE(lag(users) OVER (ORDER BY step), users) AS DOUBLE)
        AS conv_from_prev,
      CAST(users AS DOUBLE) /
        CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) AS conv_from_first
    FROM steps ORDER BY step"""))

  /** Directional KMV containment between event-type segments: is A's
    * user-day audience essentially a SUBSET of B's? — the asymmetric
    * question Jaccard (q61) symmetrizes away (d15's containment signal
    * at the sketch tier). Estimates are est∩/est_A and est∩/est_B from
    * the same sketches as q61, with exact containments riding along as
    * the gate; like q61, the APPROXIMATE numbers are deterministic
    * order statistics and hash-match DuckDB bit-for-bit. All set
    * algebra runs on the 5-row sketch table. */
  val q63KmvContainment: Q = Q("q63_kmv_containment", (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("ud", concat(col("user_id").cast("string"), lit(":"),
        to_date(col("ts")).cast("string")))
    val sketches = KmvSketch.sketchWithExact(ev, "event_type",
      col("ud"), K)
    val conts = KmvSketch.containmentEstimates(sketches, "event_type", K)
      .withColumnRenamed("ga", "type_a").withColumnRenamed("gb", "type_b")
    val pairs = ev.select(col("event_type"), col("ud")).distinct()
    val exactInter = pairs.as("x")
      .join(pairs.as("y"), col("x.ud") === col("y.ud") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("inter_exact"))
    val exact = sketches.select(col("event_type"), col("n_exact"))
    conts
      .join(exactInter, Seq("type_a", "type_b"), "left")
      .join(exact.select(col("event_type").as("type_a"),
        col("n_exact").as("n_a")), "type_a")
      .join(exact.select(col("event_type").as("type_b"),
        col("n_exact").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"),
        col("cont_a_in_b"), col("cont_b_in_a"),
        (coalesce(col("inter_exact"), lit(0L)).cast("double") /
          col("n_a").cast("double")).as("cont_ab_exact"),
        (coalesce(col("inter_exact"), lit(0L)).cast("double") /
          col("n_b").cast("double")).as("cont_ba_exact"),
        (abs(col("cont_a_in_b") -
          coalesce(col("inter_exact"), lit(0L)).cast("double") /
            col("n_a").cast("double")) <= lit(0.25) &&
         abs(col("cont_b_in_a") -
          coalesce(col("inter_exact"), lit(0L)).cast("double") /
            col("n_b").cast("double")) <= lit(0.25)).as("approx_ok"))
      .orderBy(col("type_a"), col("type_b"))
  }, Some(s"""
    WITH hashes AS (
      SELECT DISTINCT event_type,
        md5(CAST(user_id AS VARCHAR) || ':' ||
            CAST(CAST(ts AS DATE) AS VARCHAR)) AS h
      FROM events),
    ranked AS (
      SELECT event_type, h,
        row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
      FROM hashes),
    sk AS (SELECT event_type, h FROM ranked WHERE rn <= $K),
    seg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM hashes GROUP BY event_type),
    segsk AS (
      SELECT event_type, CAST(COUNT(*) AS INT) AS sk_size, max(h) AS kth
      FROM sk GROUP BY event_type),
    segest AS (
      SELECT s.event_type,
        CASE WHEN s.sk_size < $K THEN CAST(s.sk_size AS DOUBLE)
             ELSE CAST(${K - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE) /
               CAST(CAST('0x' || substr(s.kth, 1, 12) AS BIGINT) AS DOUBLE)
        END AS est
      FROM segsk s),
    prs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM seg a JOIN seg b ON a.event_type < b.event_type),
    uni0 AS (
      SELECT DISTINCT p.type_a, p.type_b, s.h
      FROM prs p JOIN sk s ON s.event_type IN (p.type_a, p.type_b)),
    uni AS (
      SELECT type_a, type_b, h,
        row_number() OVER (PARTITION BY type_a, type_b ORDER BY h ASC) AS rn
      FROM uni0),
    unik AS (SELECT type_a, type_b, h FROM uni WHERE rn <= $K),
    uagg AS (
      SELECT type_a, type_b, CAST(COUNT(*) AS INT) AS u_size, max(h) AS kth
      FROM unik GROUP BY type_a, type_b),
    common AS (
      SELECT u.type_a, u.type_b, CAST(COUNT(*) AS INT) AS n_common
      FROM unik u
      JOIN sk sa ON sa.event_type = u.type_a AND sa.h = u.h
      JOIN sk sb ON sb.event_type = u.type_b AND sb.h = u.h
      GROUP BY u.type_a, u.type_b),
    pairs2 AS (
      SELECT DISTINCT event_type,
        CAST(user_id AS VARCHAR) || ':' ||
          CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
      FROM events),
    interx AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
        CAST(COUNT(*) AS BIGINT) AS inter_exact
      FROM pairs2 x JOIN pairs2 y ON x.ud = y.ud
        AND x.event_type < y.event_type
      GROUP BY 1, 2),
    est AS (
      SELECT u.type_a, u.type_b,
        (CAST(COALESCE(c.n_common, 0) AS DOUBLE)
          / CAST(u.u_size AS DOUBLE)) *
        CASE WHEN u.u_size < $K THEN CAST(u.u_size AS DOUBLE)
             ELSE CAST(${K - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE) /
               CAST(CAST('0x' || substr(u.kth, 1, 12) AS BIGINT) AS DOUBLE)
        END AS est_inter
      FROM uagg u LEFT JOIN common c
        ON c.type_a = u.type_a AND c.type_b = u.type_b)
    SELECT e.type_a, e.type_b,
      e.est_inter / ea.est AS cont_a_in_b,
      e.est_inter / eb.est AS cont_b_in_a,
      CAST(COALESCE(i.inter_exact, 0) AS DOUBLE)
        / CAST(sa.n_exact AS DOUBLE) AS cont_ab_exact,
      CAST(COALESCE(i.inter_exact, 0) AS DOUBLE)
        / CAST(sb.n_exact AS DOUBLE) AS cont_ba_exact,
      (abs(e.est_inter / ea.est - CAST(COALESCE(i.inter_exact, 0) AS DOUBLE)
          / CAST(sa.n_exact AS DOUBLE)) <= 0.25
       AND abs(e.est_inter / eb.est - CAST(COALESCE(i.inter_exact, 0) AS DOUBLE)
          / CAST(sb.n_exact AS DOUBLE)) <= 0.25) AS approx_ok
    FROM est e
    JOIN segest ea ON ea.event_type = e.type_a
    JOIN segest eb ON eb.event_type = e.type_b
    JOIN seg sa ON sa.event_type = e.type_a
    JOIN seg sb ON sb.event_type = e.type_b
    LEFT JOIN interx i ON i.type_a = e.type_a AND i.type_b = e.type_b
    ORDER BY e.type_a, e.type_b"""))

  /** Time-to-convert distribution per acquisition cohort: for users who
    * complete q62's view→click→purchase funnel, the hours from first
    * view to first qualifying purchase — count, median and p75 per
    * first-view DATE cohort. Quartile fractions only (q31's rule: with
    * integer-microsecond inputs and {0,.25,.5,.75} positions every
    * type-7 interpolation intermediate is exact in binary, so the
    * doubles hash-match DuckDB); the one non-integer step, micros→hours,
    * is a single double division. Same three user-keyed aggregates as
    * q62 plus one cohort-keyed sort-based percentile — no new shuffle
    * shape. */
  val q64TimeToConvert: Q = Q("q64_time_to_convert", (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").as("e")
      .join(s1.as("s1"), col("e.user_id") === col("s1.user_id"))
      .filter(col("e.ts") > col("t1") &&
        col("e.ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase").as("e")
      .join(s2.as("s2"), col("e.user_id") === col("s2.user_id"))
      .filter(col("e.ts") > col("t2") &&
        col("e.ts") <= col("s2.t1") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("t3"), min(col("s2.t1")).as("t1"))
    s3
      .select(to_date(col("t1")).as("cohort"),
        (unix_micros(col("t3")) - unix_micros(col("t1"))).as("dt_us"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_converted"),
        (percentile(col("dt_us"), lit(0.5)) /
          lit(3600000000.0)).as("p50_hours"),
        (percentile(col("dt_us"), lit(0.75)) /
          lit(3600000000.0)).as("p75_hours"))
      .orderBy(col("cohort"))
  }, Some("""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3, min(s2.t1) AS t1
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id)
    SELECT CAST(t1 AS DATE) AS cohort,
      CAST(COUNT(*) AS BIGINT) AS n_converted,
      quantile_cont(epoch_us(t3) - epoch_us(t1), 0.5)
        / CAST(3600000000 AS DOUBLE) AS p50_hours,
      quantile_cont(epoch_us(t3) - epoch_us(t1), 0.75)
        / CAST(3600000000 AS DOUBLE) AS p75_hours
    FROM s3 GROUP BY CAST(t1 AS DATE) ORDER BY cohort"""))

  /** Revenue concentration per market segment: Gini coefficient and
    * top-decile share of customer spend — the inequality metrics a
    * commerce mart reports next to plain totals. All moments are EXACT
    * (decimal spend sums, integer ranks; within a tie group Σ rank·s is
    * order-invariant because s is constant, so the rank tiebreak cannot
    * move the answer) with one double division at the end:
    * G = 2·Σ(rank·s)/(n·Σs) − (n+1)/n over spend ascending. One
    * customer-keyed aggregate, one segment-keyed window, one final
    * segment aggregate — the q50 RFM shape with a different statistic. */
  val q65RevenueGini: Q = Q("q65_revenue_gini", (s, d) => {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(d2(col("o_totalprice"))).as("spend"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("spend").asc, col("o_custkey").asc)
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("spend").desc, col("o_custkey").asc)
    spend
      .withColumn("rk", row_number().over(wAsc))
      .withColumn("rk_desc", row_number().over(wDesc))
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("c_mktsegment"))))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("total_revenue"),
        (lit(2.0) * sum(col("spend") * col("rk")).cast("double") /
          (count(lit(1)).cast("double") *
            sum(col("spend")).cast("double")) -
          (count(lit(1)) + 1).cast("double") /
            count(lit(1)).cast("double")).as("gini"),
        (sum(when(col("rk_desc") <=
            ceil(col("n").cast("double") / 10.0), col("spend")))
          .cast("double") / sum(col("spend")).cast("double"))
          .as("top_decile_share"))
      .orderBy(col("c_mktsegment"))
  }, Some(s"""
    WITH spend AS (
      SELECT o_custkey, SUM(${d2Sql("o_totalprice")}) AS spend
      FROM orders GROUP BY o_custkey),
    seg AS (
      SELECT s.o_custkey, s.spend, c.c_mktsegment,
        row_number() OVER (PARTITION BY c.c_mktsegment
          ORDER BY s.spend ASC, s.o_custkey ASC) AS rk,
        row_number() OVER (PARTITION BY c.c_mktsegment
          ORDER BY s.spend DESC, s.o_custkey ASC) AS rk_desc,
        COUNT(*) OVER (PARTITION BY c.c_mktsegment) AS n
      FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey)
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(spend) AS DOUBLE) AS total_revenue,
      CAST(2 AS DOUBLE) * CAST(SUM(spend * rk) AS DOUBLE)
        / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(spend) AS DOUBLE))
        - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        AS gini,
      CAST(SUM(CASE WHEN rk_desc <= ceil(CAST(n AS DOUBLE) / 10.0)
        THEN spend END) AS DOUBLE) / CAST(SUM(spend) AS DOUBLE)
        AS top_decile_share
    FROM seg GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Monthly revenue split NEW vs RETURNING customers — the acquisition
    * dashboard's first chart: an order is "new" iff it is its
    * customer's FIRST-ever order (min order date, orderkey tiebreak for
    * same-day firsts). One customer-keyed window over the orders fact
    * (no self-join — the q42 lesson), then a month rollup riding exact
    * decimal sums; the share is one double division. */
  val q66NewVsReturning: Q = Q("q66_new_vs_returning", (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_new"),
        decSum(col("o_totalprice")).as("revenue"),
        decSumExpr(when(col("rn") === 1, d2(col("o_totalprice")))
          .otherwise(d2(lit(0)))).as("new_revenue"))
      .withColumn("new_share",
        col("new_revenue") / col("revenue"))
      .orderBy(col("month"))
  }, Some(s"""
    WITH ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders)
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      ${decSumSql("o_totalprice")} AS revenue,
      ${decSumExprSql(s"CASE WHEN rn = 1 THEN ${d2Sql("o_totalprice")} ELSE ${d2Sql("0")} END")} AS new_revenue,
      ${decSumExprSql(s"CASE WHEN rn = 1 THEN ${d2Sql("o_totalprice")} ELSE ${d2Sql("0")} END")}
        / ${decSumSql("o_totalprice")} AS new_share
    FROM ranked GROUP BY strftime(o_orderdate, '%Y-%m')
    ORDER BY month"""))

  /** Inter-purchase cadence by market segment: per-customer order gaps
    * via a keyed lag window (one shuffle on o_custkey — the purchase
    * history is already the partition), rolled up to segment stats
    * through a broadcast dim join. Deterministic: same-instant orders
    * tie-break on o_orderkey; the average divides an exact integer
    * day-sum. The marketing "time between purchases" mart every
    * commerce warehouse ships. */
  val q67OrderGaps: Q = Q("q67_order_gaps", (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val gaps = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          col("prev").cast("date")).as("gap"))
    val c = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    gaps.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("o_custkey")).as("repeat_customers"),
        count(lit(1)).as("n_gaps"),
        (sum(col("gap")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_gap_days"),
        min(col("gap")).as("min_gap_days"),
        max(col("gap")).as("max_gap_days"))
      .orderBy(col("c_mktsegment"))
  }, Some("""
    WITH gaps AS (
      SELECT o_custkey,
        date_diff('day',
          CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC) AS DATE),
          CAST(o_orderdate AS DATE)) AS gap
      FROM orders)
    SELECT c_mktsegment,
      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS repeat_customers,
      CAST(COUNT(*) AS BIGINT) AS n_gaps,
      CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        AS avg_gap_days,
      CAST(MIN(gap) AS INT) AS min_gap_days,
      CAST(MAX(gap) AS INT) AS max_gap_days
    FROM gaps JOIN customer ON o_custkey = c_custkey
    WHERE gap IS NOT NULL
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Pareto / ABC revenue classification of parts: rank parts by exact
    * decimal revenue, label by cumulative share (A <= 80 %, B <= 95 %,
    * C rest), report per class. Scale shape: the fact table pre-reduces
    * to ONE row per part before anything global happens, so the
    * single-partition running-sum window runs over catalog-cardinality
    * rows (a dimension, not the fact) — the same pre-aggregate-first
    * discipline as every q6x. Shares divide exact decimal sums, so the
    * class boundaries are engine-deterministic. */
  val q68ParetoAbc: Q = Q("q68_pareto_abc", (s, d) => {
    val byPart = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(d2(col("l_extendedprice"))).as("rev_dec"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rev_dec").desc, col("l_partkey").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val tot = byPart.agg(sum(col("rev_dec")).as("total_dec"))
    byPart
      .withColumn("running_dec", sum(col("rev_dec")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("share", col("running_dec").cast("double") /
        col("total_dec").cast("double"))
      .withColumn("abc_class",
        when(col("share") <= 0.8, "A")
          .when(col("share") <= 0.95, "B").otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev_dec")).cast("double").as("class_revenue"),
        (sum(col("rev_dec")).cast("double") /
          max(col("total_dec").cast("double"))).as("revenue_share"))
      .orderBy(col("abc_class"))
  }, Some("""
    WITH by_part AS (
      SELECT l_partkey,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev_dec
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(rev_dec) AS total_dec FROM by_part),
    classed AS (
      SELECT l_partkey, rev_dec, total_dec,
        SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS running_dec
      FROM by_part CROSS JOIN tot),
    labeled AS (
      SELECT *,
        CASE WHEN CAST(running_dec AS DOUBLE) /
            CAST(total_dec AS DOUBLE) <= 0.8 THEN 'A'
          WHEN CAST(running_dec AS DOUBLE) /
            CAST(total_dec AS DOUBLE) <= 0.95 THEN 'B'
          ELSE 'C' END AS abc_class
      FROM classed)
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
      CAST(SUM(rev_dec) AS DOUBLE) AS class_revenue,
      CAST(SUM(rev_dec) AS DOUBLE) / MAX(CAST(total_dec AS DOUBLE))
        AS revenue_share
    FROM labeled GROUP BY abc_class ORDER BY abc_class"""))

  /** Cohort retention triangle — the canonical growth mart: customers
    * cohorted by first-order month, activity counted per (cohort,
    * month-offset) cell. Scale shape: the fact pre-reduces to distinct
    * (customer, month) BEFORE anything else (one shuffle on the
    * customer key covers first-month + activity + the offset join — the
    * partitioning is reused), and cohort sizes are a cohort-cardinality
    * dim that broadcasts. Counts are exact integers; the only double is
    * one final division. */
  val q69Retention: Q = Q("q69_retention", (s, d) => {
    val activity = Tables.orders(s, d)
      .select(col("o_custkey"),
        trunc(col("o_orderdate").cast("date"), "month").as("m"))
      .distinct()
    val firstM = activity.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("cohort"))
    val sizes = firstM.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    activity.join(firstM, Seq("o_custkey"))
      .select(col("cohort"),
        months_between(col("m"), col("cohort")).cast("int").as("offset_m"),
        col("o_custkey"))
      .groupBy(col("cohort"), col("offset_m"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .select(date_format(col("cohort"), "yyyy-MM").as("cohort_month"),
        col("offset_m"), col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_month"), col("offset_m"))
  }, Some("""
    WITH activity AS (
      SELECT DISTINCT o_custkey,
        date_trunc('month', CAST(o_orderdate AS DATE)) AS m
      FROM orders),
    firstm AS (
      SELECT o_custkey, MIN(m) AS cohort FROM activity GROUP BY o_custkey),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firstm GROUP BY cohort),
    cells AS (
      SELECT cohort, CAST(date_diff('month', cohort, m) AS INT) AS offset_m,
        CAST(COUNT(DISTINCT a.o_custkey) AS BIGINT) AS n_active
      FROM activity a JOIN firstm f ON a.o_custkey = f.o_custkey
      GROUP BY cohort, offset_m)
    SELECT strftime(cohort, '%Y-%m') AS cohort_month, offset_m, n_active,
      cohort_size,
      CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
    FROM cells JOIN sizes USING (cohort)
    ORDER BY cohort_month, offset_m"""))

  /** SCD2 point-in-time snapshot — q58's validity intervals CONSUMED:
    * for every month-end, which order-status was current per customer,
    * rolled up to (snapshot, status) census counts. The Spark side runs
    * [[graft.operators.RangeJoin.pointInInterval]] with the customer as
    * an EQUI key — the interval join shuffles on (grid cell, customer),
    * never nested-loops, and the open current-interval sentinel is
    * clamped to the spine's end so it replicates to a bounded cell span
    * instead of sentinel/width copies. The month-end spine × customer
    * probe set is dimension-sized by construction. */
  val q70PitSnapshot: Q = Q("q70_pit_snapshot", (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("valid_from").asc, col("o_orderkey").asc)
    val epoch = lit("1970-01-01").cast("date")
    // one epoch-day past the spine's last probe: the [lo, clamp) check
    // equals [lo, valid_to) for every probe ≤ the spine end
    val clamp = datediff(lit("2002-01-01").cast("date"), epoch)
    val iv = Tables.orders(s, d)
      .filter(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        to_date(col("o_orderdate")).as("valid_from"))
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(w),
          lit("9999-12-31").cast("date")))
      .select(col("o_custkey"), col("o_orderstatus"),
        datediff(col("valid_from"), epoch).as("lo"),
        least(datediff(col("valid_to"), epoch), clamp).as("hi"))
    val spine = Tables.orders(s, d).limit(1)
      .select(explode(sequence(lit("1995-01-01").cast("date"),
        lit("2001-08-01").cast("date"),
        expr("interval 1 month"))).as("mstart"))
      .select(last_day(col("mstart")).as("snap"))
    val points = iv.select(col("o_custkey")).distinct()
      .crossJoin(broadcast(spine))
      .withColumn("pt", datediff(col("snap"), epoch))
    graft.operators.RangeJoin
      .pointInInterval(points, iv, col("pt"), col("lo"), col("hi"),
        bucketWidth = 365.0, equiKeys = Seq("o_custkey"))
      .groupBy(col("snap"), col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("snap"), col("o_orderstatus"))
  }, Some("""
    WITH base AS (
      SELECT o_custkey, o_orderkey, o_orderstatus,
        CAST(o_orderdate AS DATE) AS valid_from
      FROM orders WHERE o_custkey < 300),
    iv AS (
      SELECT o_custkey, o_orderstatus, valid_from,
        COALESCE(LEAD(valid_from) OVER (PARTITION BY o_custkey
          ORDER BY valid_from, o_orderkey), DATE '9999-12-31') AS valid_to
      FROM base),
    spine AS (
      SELECT last_day(CAST(unnest(generate_series(DATE '1995-01-01',
        DATE '2001-08-01', INTERVAL 1 MONTH)) AS DATE)) AS snap)
    SELECT snap, o_orderstatus,
      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM spine JOIN iv ON valid_from <= snap AND snap < valid_to
    GROUP BY snap, o_orderstatus
    ORDER BY snap, o_orderstatus"""))

  /** Fulfillment latency — order-to-first-ship lag percentiles by order
    * priority, the SLA mart ops dashboards live on. Scale shape: the
    * fact pre-reduces to ONE first-ship row per order (map-side-combined
    * MIN on the join key, so the orders join meets a pre-aggregated
    * side), then a priority-keyed aggregate over integer day lags —
    * exact type-7 percentile interpolation over integers stays
    * engine-deterministic (q31/q64's discipline). */
  val q71FulfillmentLag: Q = Q("q71_fulfillment_lag", (s, d) => {
    val firstShip = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("first_ship"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od"))
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("od")).as("lag_days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("lag_days")).as("min_lag"),
        percentile(col("lag_days"), lit(0.5)).as("p50_lag"),
        percentile(col("lag_days"), lit(0.9)).as("p90_lag"),
        max(col("lag_days")).as("max_lag"))
      .orderBy(col("o_orderpriority"))
  }, Some("""
    WITH fs AS (
      SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
      FROM lineitem GROUP BY l_orderkey),
    lags AS (
      SELECT o_orderpriority,
        date_diff('day', CAST(o_orderdate AS DATE), first_ship) AS lag_days
      FROM orders JOIN fs ON o_orderkey = l_orderkey)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(MIN(lag_days) AS INT) AS min_lag,
      quantile_cont(lag_days, 0.5) AS p50_lag,
      quantile_cont(lag_days, 0.9) AS p90_lag,
      CAST(MAX(lag_days) AS INT) AS max_lag
    FROM lags GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Market-basket brand affinity: co-occurrence LIFT between part
    * brands across orders — lift(a,b) = P(a,b) / (P(a)·P(b)) over
    * order-level brand presence, the standard association-rule score a
    * merchandising mart computes from the order-item fact. Scale shape:
    * the per-order brand set is tiny (bounded by lines per order), so
    * the pair generation is an order-keyed self-equi-join whose
    * fan-out is brands-per-order squared, NOT catalog squared; the
    * brand dimension join broadcasts; the final lift table is
    * brand-pair-sized (hundreds of rows at any SF). All counts are
    * exact integers; the one division happens after casting exact
    * integers (< 2^53) to double, so the score is bit-deterministic. */
  val q72BasketAffinity: Q = Q("q72_basket_affinity", (s, d) => {
    val base = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
      // four consumers (counts, total, both pair sides): uncached the
      // join+distinct recomputed per branch — 20 scans / 40 exchanges in
      // the round-16 before-plan; cached it is 2 scans + one distinct
      .cache()
    val counts = base.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"))
    val total = base.select(
      countDistinct(col("ok")).as("n_orders"))
    val pairs = base.as("a")
      .join(base.as("b"),
        col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(counts
        .select(col("brand").as("brand_a"), col("n").as("n_a"))), "brand_a")
      .join(broadcast(counts
        .select(col("brand").as("brand_b"), col("n").as("n_b"))), "brand_b")
      .crossJoin(broadcast(total))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        (col("n_ab").cast("double") * col("n_orders").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("brand_a"), col("brand_b"))
  }, Some("""
    WITH base AS (
      SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    counts AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY brand),
    tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders
            FROM base),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
        CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM base a JOIN base b ON a.ok = b.ok AND a.brand < b.brand
      GROUP BY 1, 2)
    SELECT brand_a, brand_b, n_ab,
      CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
        / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS lift
    FROM pairs
    JOIN counts na ON brand_a = na.brand
    JOIN counts nb ON brand_b = nb.brand
    CROSS JOIN tot
    ORDER BY brand_a, brand_b"""))

  /** Repeat-purchase SURVIVAL curve: per-customer gaps between
    * consecutive orders (keyed lag window, total-ordered by date then
    * order key for same-day determinism), then for each horizon t the
    * fraction of gaps exceeding t — the retention curve a lifecycle
    * team reads before fitting any parametric model. Scale shape: one
    * shuffle on customer for the lag, then the tiny horizon grid
    * broadcast-crosses the gap rows and pre-reduces map-side to six
    * output rows; survival is a ratio of exact integers. */
  val q73RepeatSurvival: Q = Q("q73_repeat_survival", (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("od"), col("o_orderkey"))
    val gaps = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"))
      .withColumn("prev", lag(col("od"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(datediff(col("od"), col("prev")).as("gap"))
    val grid = Seq(7, 14, 30, 60, 90, 180)
    gaps
      .crossJoin(broadcast(
        gaps.sparkSession.createDataFrame(
          gaps.sparkSession.sparkContext
            .parallelize(grid.map(org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("t_days",
              org.apache.spark.sql.types.IntegerType))))))
      .groupBy(col("t_days"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(when(col("gap") > col("t_days"), 1L).otherwise(0L))
          .as("n_surviving"))
      .select(col("t_days"), col("n_gaps"), col("n_surviving"),
        (col("n_surviving").cast("double") / col("n_gaps").cast("double"))
          .as("survival"))
      .orderBy(col("t_days"))
  }, Some("""
    WITH gaps AS (
      SELECT date_diff('day',
        LAG(CAST(o_orderdate AS DATE)) OVER
          (PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
        CAST(o_orderdate AS DATE)) AS gap
      FROM orders),
    g AS (SELECT gap FROM gaps WHERE gap IS NOT NULL),
    grid AS (SELECT CAST(unnest([7, 14, 30, 60, 90, 180]) AS INT)
               AS t_days)
    SELECT t_days, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      CAST(SUM(CASE WHEN gap > t_days THEN 1 ELSE 0 END) AS BIGINT)
        AS n_surviving,
      CAST(SUM(CASE WHEN gap > t_days THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS survival
    FROM g CROSS JOIN grid
    GROUP BY t_days ORDER BY t_days"""))

  /** Customer spend-tier MIGRATION matrix: each customer's monthly
    * spend maps to a tier (exact decimal thresholds), and consecutive
    * ACTIVE months (keyed lag) produce from->to transition counts plus
    * each row's share of its origin tier — the lifecycle transition
    * mart behind churn/upgrade dashboards. Scale shape: one shuffle on
    * customer for the monthly rollup + lag; the transition matrix is
    * tier-squared-sized, and the share window runs over that tiny
    * result, never over the fact. */
  val q74SegmentMigration: Q = Q("q74_segment_migration", (s, d) => {
    val monthly = Tables.orders(s, d)
      .groupBy(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(decSum(col("o_totalprice")).as("spend"))
      .select(col("o_custkey"), col("month"),
        when(col("spend") < 150000, "low")
          .when(col("spend") < 350000, "mid")
          .otherwise("high").as("tier"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("month"))
    val byFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tier_from"))
    monthly
      .withColumn("tier_from", lag(col("tier"), 1).over(w))
      .filter(col("tier_from").isNotNull)
      .groupBy(col("tier_from"), col("tier").as("tier_to"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") /
          sum(col("n")).over(byFrom).cast("double"))
      .orderBy(col("tier_from"), col("tier_to"))
  }, Some(s"""
    WITH monthly AS (
      SELECT o_custkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m')
          AS month,
        CASE WHEN ${decSumSql("o_totalprice")} < 150000 THEN 'low'
          WHEN ${decSumSql("o_totalprice")} < 350000 THEN 'mid'
          ELSE 'high' END AS tier
      FROM orders GROUP BY o_custkey, month),
    trans AS (
      SELECT LAG(tier) OVER (PARTITION BY o_custkey ORDER BY month)
          AS tier_from,
        tier AS tier_to
      FROM monthly),
    counts AS (
      SELECT tier_from, tier_to, CAST(COUNT(*) AS BIGINT) AS n
      FROM trans WHERE tier_from IS NOT NULL
      GROUP BY tier_from, tier_to)
    SELECT tier_from, tier_to, n,
      CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY tier_from)
        AS DOUBLE) AS share
    FROM counts ORDER BY tier_from, tier_to"""))
}

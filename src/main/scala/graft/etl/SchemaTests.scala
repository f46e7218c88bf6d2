package graft.etl

import graft.operators.Quality
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's FULL dbt test corpus
  * (dbt_project/models/schema.yml:113-789) as named Quality checks — one
  * entry per schema.yml test, same model and column names (ReferenceModels
  * outputs match the reference SQL), so this file reads as a line-for-line
  * mirror of the YAML.
  *
  * Evaluation: within one gate ([[staging]] or [[marts]]) each model is
  * resolved once and shared by all its checks — nothing writes while a
  * gate runs. A model's row predicates (not_null, ge_0, gt_0,
  * expression_is_true) fuse into one conditional-count aggregate
  * ([[Quality.violations]]) that [[Quality.run]] evaluates as one task;
  * `unique` and `relationships` stay one job each. Names, order and
  * counts are those of one query per check.
  *
  * Null semantics note: dbt_utils.expression_is_true lets NULL rows pass
  * (`where not(expr)` drops unknowns); Quality.expressionIsTrue counts
  * them as violations — STRICTER, and every expression-tested column here
  * is either coalesced non-null by its model or explicitly guarded
  * (days_to_first_purchase), so the stricter gate is safe and catches
  * more.
  */
object SchemaTests {

  /** The whole corpus over materialized tables (`t`: model name → table).
    * Grouped as (staging, marts) so the pipeline can gate each layer as
    * it completes, dbt-style. */
  def staging(t: String => DataFrame): Seq[(String, () => Long)] =
    gate(t)(
      nn("stg_clickstream_events", "event_id"),
      uq("stg_clickstream_events", "event_id"),
      nn("stg_clickstream_events", "event_ts"),

      nn("stg_clickstream_sessions", "session_id"),
      uq("stg_clickstream_sessions", "session_id"),
      nn("stg_clickstream_sessions", "session_start_ts"),
      nn("stg_clickstream_sessions", "session_end_ts"),
      ge0("stg_clickstream_sessions", "session_duration_sec"),

      nn("stg_orders", "order_id"),
      uq("stg_orders", "order_id"),
      nn("stg_orders", "order_ts"),
      nn("stg_orders", "order_total_amount"),
      ge0("stg_orders", "order_total_amount"),

      nn("stg_order_items", "order_id"),
      nn("stg_order_items", "product_id"),
      gt0("stg_order_items", "quantity"))

  def marts(t: String => DataFrame): Seq[(String, () => Long)] =
    gate(t)(
      // fact_events
      nn("fact_events", "event_id"),
      uq("fact_events", "event_id"),
      nn("fact_events", "event_ts"),
      nn("fact_events", "event_date"),
      rel("fact_events", "event_date", "dim_date", "date"),
      nn("fact_events", "event_type"),
      rel("fact_events", "user_id", "dim_users", "user_id"),
      nn("fact_events", "session_id"),
      rel("fact_events", "session_id", "dim_session_context", "session_id"),
      // fact_sessions
      nn("fact_sessions", "session_id"),
      uq("fact_sessions", "session_id"),
      rel("fact_sessions", "session_id", "dim_session_context", "session_id"),
      nn("fact_sessions", "user_id"),
      rel("fact_sessions", "user_id", "dim_users", "user_id"),
      nn("fact_sessions", "session_start_ts"),
      ge0("fact_sessions", "session_duration_sec"),
      ge0("fact_sessions", "event_count"),
      nn("fact_sessions", "has_order"),
      ge0("fact_sessions", "orders_in_session"),
      ge0("fact_sessions", "revenue_in_session"),
      // fact_orders
      nn("fact_orders", "order_id"),
      uq("fact_orders", "order_id"),
      nn("fact_orders", "user_id"),
      rel("fact_orders", "user_id", "dim_users", "user_id"),
      rel("fact_orders", "session_id", "dim_session_context", "session_id"),
      nn("fact_orders", "order_ts"),
      nn("fact_orders", "order_date"),
      nn("fact_orders", "order_status"),
      ge0("fact_orders", "item_count"),
      ge0("fact_orders", "order_total_amount"),
      // fact_order_items
      nn("fact_order_items", "order_id"),
      rel("fact_order_items", "order_id", "fact_orders", "order_id"),
      nn("fact_order_items", "product_id"),
      rel("fact_order_items", "product_id", "dim_products", "product_id"),
      nn("fact_order_items", "quantity"),
      gt0("fact_order_items", "quantity"),
      nn("fact_order_items", "price"),
      ge0("fact_order_items", "price"),
      nn("fact_order_items", "line_amount"),
      ge0("fact_order_items", "line_amount"),
      nn("fact_order_items", "order_ts"),
      // dims
      nn("dim_users", "user_id"),
      uq("dim_users", "user_id"),
      ge0("dim_users", "total_orders"),
      ge0("dim_users", "lifetime_revenue"),
      nn("dim_products", "product_id"),
      uq("dim_products", "product_id"),
      ge0("dim_products", "total_units_sold"),
      ge0("dim_products", "total_revenue"),
      nn("dim_date", "date"),
      uq("dim_date", "date"),
      nn("dim_date", "is_weekend"),
      nn("dim_session_context", "session_id"),
      uq("dim_session_context", "session_id"),
      // metrics_daily_kpis
      nn("metrics_daily_kpis", "date"),
      uq("metrics_daily_kpis", "date"),
      nn("metrics_daily_kpis", "daily_active_users"),
      ge0("metrics_daily_kpis", "daily_active_users"),
      nn("metrics_daily_kpis", "sessions"),
      ge0("metrics_daily_kpis", "sessions"),
      nn("metrics_daily_kpis", "orders"),
      ge0("metrics_daily_kpis", "orders"),
      nn("metrics_daily_kpis", "revenue"),
      ge0("metrics_daily_kpis", "revenue"),
      ge0("metrics_daily_kpis", "avg_order_value"),
      // metrics_daily_funnel
      nn("metrics_daily_funnel", "date"),
      uq("metrics_daily_funnel", "date"),
      nn("metrics_daily_funnel", "sessions"),
      ge0("metrics_daily_funnel", "sessions_with_product_view"),
      ge0("metrics_daily_funnel", "sessions_with_add_to_cart"),
      ge0("metrics_daily_funnel", "sessions_with_checkout"),
      ge0("metrics_daily_funnel", "sessions_with_order"),
      // metrics_user_lifecycle
      nn("metrics_user_lifecycle", "user_id"),
      uq("metrics_user_lifecycle", "user_id"),
      rel("metrics_user_lifecycle", "user_id", "dim_users", "user_id"),
      nn("metrics_user_lifecycle", "first_seen_date"),
      expr("metrics_user_lifecycle",
        "days_to_first_purchase.is_null_or_ge0",
        col("days_to_first_purchase").isNull ||
          col("days_to_first_purchase") >= 0),
      nn("metrics_user_lifecycle", "total_sessions"),
      ge0("metrics_user_lifecycle", "total_sessions"),
      nn("metrics_user_lifecycle", "total_orders"),
      ge0("metrics_user_lifecycle", "total_orders"),
      nn("metrics_user_lifecycle", "lifetime_revenue"),
      ge0("metrics_user_lifecycle", "lifetime_revenue"),
      ge0("metrics_user_lifecycle", "avg_order_value"),
      // metrics_product_performance_daily
      nn("metrics_product_performance_daily", "date"),
      nn("metrics_product_performance_daily", "product_id"),
      rel("metrics_product_performance_daily", "product_id",
        "dim_products", "product_id"),
      nn("metrics_product_performance_daily", "units_sold"),
      ge0("metrics_product_performance_daily", "units_sold"),
      nn("metrics_product_performance_daily", "orders_with_product"),
      ge0("metrics_product_performance_daily", "orders_with_product"),
      nn("metrics_product_performance_daily", "product_revenue"),
      ge0("metrics_product_performance_daily", "product_revenue"),
      ge0("metrics_product_performance_daily", "avg_price"))

  def corpus(t: String => DataFrame): Seq[(String, () => Long)] =
    staging(t) ++ marts(t)

  // ── tiny declaration DSL so the lists above read like the YAML ──
  private sealed trait Decl { def name: String }
  /** A row predicate of model `m`: `violation` is true, never NULL, on a
    * failing row. */
  private sealed trait RowDecl extends Decl {
    def m: String; def violation: Column
  }
  /** A check that is its own job. */
  private sealed trait JobDecl extends Decl {
    def count(t: String => DataFrame): Long
  }
  private final case class nn(m: String, c: String) extends RowDecl {
    def name = s"$m.$c.not_null"
    def violation = col(c).isNull
  }
  private final case class uq(m: String, c: String) extends JobDecl {
    def name = s"$m.$c.unique"
    def count(t: String => DataFrame) = Quality.unique(t(m), Seq(c))
  }
  private final case class ge0(m: String, c: String) extends RowDecl {
    def name = s"$m.$c.ge_0"
    def violation = Quality.notTrue(col(c) >= 0)
  }
  private final case class gt0(m: String, c: String) extends RowDecl {
    def name = s"$m.$c.gt_0"
    def violation = Quality.notTrue(col(c) > 0)
  }
  private final case class rel(m: String, c: String, pm: String, pc: String)
      extends JobDecl {
    def name = s"$m.$c.relationships_$pm.$pc"
    def count(t: String => DataFrame) =
      Quality.relationships(t(m), c, t(pm), pc)
  }
  private final case class expr(m: String, label: String, e: Column)
      extends RowDecl {
    def name = s"$m.$label"
    def violation = Quality.notTrue(e)
  }

  /** One gate's checks, in declaration order: each model resolved at most
    * once, each model's row predicates one shared aggregate. */
  private def gate(t: String => DataFrame)(
      ds: Decl*): Seq[(String, () => Long)] = {
    val frames = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
    val table: String => DataFrame = m => frames.computeIfAbsent(m, _ => t(m))
    val shared = ds.collect { case r: RowDecl => r }.groupBy(_.m).values
      .flatMap { rs =>
        val counts = () => Quality.violations(table(rs.head.m),
          rs.map(r => r.name -> r.violation)).map(_.violations)
        rs.zipWithIndex.map { case (r, i) =>
          r -> new Quality.Shared(counts, i) }
      }.toMap[Decl, () => Long]
    ds.map {
      case r: RowDecl => r.name -> shared(r)
      case j: JobDecl => j.name -> (() => j.count(table))
    }
  }
}

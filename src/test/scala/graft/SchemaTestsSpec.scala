package graft

import graft.etl.SchemaTests
import graft.operators.Quality
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The schema.yml corpus evaluated fused (one aggregate per model's row
  * predicates, each model resolved once per gate) against one query per
  * check, on small per-model fixtures with injected violations: NULLs,
  * negatives, zeros, duplicate keys (a duplicated NULL among them),
  * orphan foreign keys, and NULL and negative days_to_first_purchase. */
class SchemaTestsSpec extends AnyFunSuite {
  import SchemaTestsSpec.Decl
  lazy val spark = TestSpark.spark

  /** The corpus's check names in declaration order: staging's 16, then
    * marts' 94. */
  private val declared = """
      |stg_clickstream_events.event_id.not_null
      |stg_clickstream_events.event_id.unique
      |stg_clickstream_events.event_ts.not_null
      |stg_clickstream_sessions.session_id.not_null
      |stg_clickstream_sessions.session_id.unique
      |stg_clickstream_sessions.session_start_ts.not_null
      |stg_clickstream_sessions.session_end_ts.not_null
      |stg_clickstream_sessions.session_duration_sec.ge_0
      |stg_orders.order_id.not_null
      |stg_orders.order_id.unique
      |stg_orders.order_ts.not_null
      |stg_orders.order_total_amount.not_null
      |stg_orders.order_total_amount.ge_0
      |stg_order_items.order_id.not_null
      |stg_order_items.product_id.not_null
      |stg_order_items.quantity.gt_0
      |fact_events.event_id.not_null
      |fact_events.event_id.unique
      |fact_events.event_ts.not_null
      |fact_events.event_date.not_null
      |fact_events.event_date.relationships_dim_date.date
      |fact_events.event_type.not_null
      |fact_events.user_id.relationships_dim_users.user_id
      |fact_events.session_id.not_null
      |fact_events.session_id.relationships_dim_session_context.session_id
      |fact_sessions.session_id.not_null
      |fact_sessions.session_id.unique
      |fact_sessions.session_id.relationships_dim_session_context.session_id
      |fact_sessions.user_id.not_null
      |fact_sessions.user_id.relationships_dim_users.user_id
      |fact_sessions.session_start_ts.not_null
      |fact_sessions.session_duration_sec.ge_0
      |fact_sessions.event_count.ge_0
      |fact_sessions.has_order.not_null
      |fact_sessions.orders_in_session.ge_0
      |fact_sessions.revenue_in_session.ge_0
      |fact_orders.order_id.not_null
      |fact_orders.order_id.unique
      |fact_orders.user_id.not_null
      |fact_orders.user_id.relationships_dim_users.user_id
      |fact_orders.session_id.relationships_dim_session_context.session_id
      |fact_orders.order_ts.not_null
      |fact_orders.order_date.not_null
      |fact_orders.order_status.not_null
      |fact_orders.item_count.ge_0
      |fact_orders.order_total_amount.ge_0
      |fact_order_items.order_id.not_null
      |fact_order_items.order_id.relationships_fact_orders.order_id
      |fact_order_items.product_id.not_null
      |fact_order_items.product_id.relationships_dim_products.product_id
      |fact_order_items.quantity.not_null
      |fact_order_items.quantity.gt_0
      |fact_order_items.price.not_null
      |fact_order_items.price.ge_0
      |fact_order_items.line_amount.not_null
      |fact_order_items.line_amount.ge_0
      |fact_order_items.order_ts.not_null
      |dim_users.user_id.not_null
      |dim_users.user_id.unique
      |dim_users.total_orders.ge_0
      |dim_users.lifetime_revenue.ge_0
      |dim_products.product_id.not_null
      |dim_products.product_id.unique
      |dim_products.total_units_sold.ge_0
      |dim_products.total_revenue.ge_0
      |dim_date.date.not_null
      |dim_date.date.unique
      |dim_date.is_weekend.not_null
      |dim_session_context.session_id.not_null
      |dim_session_context.session_id.unique
      |metrics_daily_kpis.date.not_null
      |metrics_daily_kpis.date.unique
      |metrics_daily_kpis.daily_active_users.not_null
      |metrics_daily_kpis.daily_active_users.ge_0
      |metrics_daily_kpis.sessions.not_null
      |metrics_daily_kpis.sessions.ge_0
      |metrics_daily_kpis.orders.not_null
      |metrics_daily_kpis.orders.ge_0
      |metrics_daily_kpis.revenue.not_null
      |metrics_daily_kpis.revenue.ge_0
      |metrics_daily_kpis.avg_order_value.ge_0
      |metrics_daily_funnel.date.not_null
      |metrics_daily_funnel.date.unique
      |metrics_daily_funnel.sessions.not_null
      |metrics_daily_funnel.sessions_with_product_view.ge_0
      |metrics_daily_funnel.sessions_with_add_to_cart.ge_0
      |metrics_daily_funnel.sessions_with_checkout.ge_0
      |metrics_daily_funnel.sessions_with_order.ge_0
      |metrics_user_lifecycle.user_id.not_null
      |metrics_user_lifecycle.user_id.unique
      |metrics_user_lifecycle.user_id.relationships_dim_users.user_id
      |metrics_user_lifecycle.first_seen_date.not_null
      |metrics_user_lifecycle.days_to_first_purchase.is_null_or_ge0
      |metrics_user_lifecycle.total_sessions.not_null
      |metrics_user_lifecycle.total_sessions.ge_0
      |metrics_user_lifecycle.total_orders.not_null
      |metrics_user_lifecycle.total_orders.ge_0
      |metrics_user_lifecycle.lifetime_revenue.not_null
      |metrics_user_lifecycle.lifetime_revenue.ge_0
      |metrics_user_lifecycle.avg_order_value.ge_0
      |metrics_product_performance_daily.date.not_null
      |metrics_product_performance_daily.product_id.not_null
      |metrics_product_performance_daily.product_id.relationships_dim_products.product_id
      |metrics_product_performance_daily.units_sold.not_null
      |metrics_product_performance_daily.units_sold.ge_0
      |metrics_product_performance_daily.orders_with_product.not_null
      |metrics_product_performance_daily.orders_with_product.ge_0
      |metrics_product_performance_daily.product_revenue.not_null
      |metrics_product_performance_daily.product_revenue.ge_0
      |metrics_product_performance_daily.avg_price.ge_0
    """.stripMargin.trim.split("\n").toSeq

  private def parse(name: String): Decl = name.split('.') match {
    case Array(m, c, rel, pc) if rel.startsWith("relationships_") =>
      Decl(m, c, "relationships",
        Some(rel.stripPrefix("relationships_") -> pc))
    case Array(m, c, kind) => Decl(m, c, kind, None)
  }

  /** Integer columns throughout: every check kind reads them the same way
    * whatever the column's real type. Dirty models lead with two all-NULL
    * rows, an all -1 row and an all 0 row, then seeded values in -1..3;
    * clean models hold 1..12 in every column. */
  private lazy val fixtures: Map[String, DataFrame] = {
    val decls = declared.map(parse)
    val cols = (decls.map(d => d.m -> d.c) ++ decls.flatMap(_.parent))
      .distinct.groupBy(_._1).map { case (m, mc) => m -> mc.map(_._2) }
    val clean = Set("stg_orders", "dim_date", "dim_products",
      "metrics_daily_funnel")
    val rnd = new scala.util.Random(7)
    cols.toSeq.sortBy(_._1).map { case (m, cs) =>
      val rows =
        if (clean(m)) (1 to 12).map(i => Row(cs.map(_ => i): _*))
        else Seq(null, null, -1, 0).map(v => Row(cs.map(_ => v): _*)) ++
          (1 to 8).map(_ => Row(cs.map(_ => rnd.nextInt(6) match {
            case 0 => null
            case v => v - 2
          }): _*))
      val schema = StructType(cs.map(StructField(_, IntegerType)))
      m -> spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }.toMap
  }

  /** Today's evaluation: one query over a fresh table per check. */
  private def reference(name: String): Long = {
    val d = parse(name)
    val df = fixtures(d.m)
    d.kind match {
      case "not_null" => Quality.notNull(df, d.c)
      case "unique" => Quality.unique(df, Seq(d.c))
      case "ge_0" => Quality.expressionIsTrue(df, col(d.c) >= 0)
      case "gt_0" => Quality.expressionIsTrue(df, col(d.c) > 0)
      case "relationships" =>
        val (pm, pc) = d.parent.get
        Quality.relationships(df, d.c, fixtures(pm), pc)
      case "is_null_or_ge0" =>
        Quality.expressionIsTrue(df, col(d.c).isNull || col(d.c) >= 0)
    }
  }

  test("fused gates: the declared 110 names in order, each count equal " +
      "to its own query's, every model resolved once per gate, and " +
      "failFast's message unchanged") {
    val resolved = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]
    val t: String => DataFrame = { m =>
      resolved.computeIfAbsent(m,
        _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
      fixtures(m)
    }
    val fused = Quality.run(SchemaTests.staging(t)) ++
      Quality.run(SchemaTests.marts(t))
    assert(fused.map(_.name) == declared)
    val expected = declared.map(n => Quality.CheckResult(n, reference(n)))
    assert(fused == expected)

    // the fixtures reach every check kind's failing and passing side
    val byKind = expected.groupBy(r => parse(r.name).kind)
    assert(byKind.keySet == Set("not_null", "unique", "ge_0", "gt_0",
      "relationships", "is_null_or_ge0"))
    byKind.foreach { case (k, rs) =>
      assert(rs.exists(!_.passed), s"no $k check fails on the fixtures") }
    assert(expected.count(_.passed) >= 10)

    // staging and marts share no model, so once per gate is once here
    assert(resolved.keySet.size == 16)
    resolved.forEach((m, n) => assert(n.get == 1, s"$m resolved ${n.get}x"))

    val e = intercept[IllegalStateException](
      Quality.run(SchemaTests.corpus(fixtures), failFast = true))
    assert(e.getMessage == "quality checks failed: " + expected
      .filter(!_.passed).map(r => s"${r.name}=${r.violations}")
      .mkString(", "))
  }
}

object SchemaTestsSpec {
  private final case class Decl(m: String, c: String, kind: String,
      parent: Option[(String, String)])
}

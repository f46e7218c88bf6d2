package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt-style data-quality checks as first-class engine operators.
  *
  * The reference gates its pipeline on declarative schema tests — `not_null`,
  * `unique`, `relationships`, `dbt_utils.expression_is_true`
  * (dbt_project/models/schema.yml:113-789, run by
  * spark_jobs/dbt_runner.py:66-69,88-91; any violation raises). Each check
  * here returns the VIOLATION COUNT (0 == pass), and `run` evaluates a suite.
  *
  * Scale notes: every check is a single aggregation with map-side partials
  * (`count` over a filter) or one shuffle (`unique` groupBy, `relationships`
  * anti-join with the parent side broadcast when small). Row-predicate
  * checks over the same DataFrame fuse into ONE conditional-count
  * aggregate ([[violations]]): one scan, one plan to compile and one job
  * for all of them, which is what a gate of many cheap checks is bound
  * by. Checks never collect rows, only counts.
  */
object Quality {

  sealed trait Check { def name: String; def violations: Long }

  final case class CheckResult(name: String, violations: Long) {
    def passed: Boolean = violations == 0
  }

  def notNull(df: DataFrame, c: String): Long =
    df.filter(col(c).isNull).count()

  def unique(df: DataFrame, cols: Seq[String]): Long =
    // reserved agg name: a checked column set containing a column literally
    // named "count" must not collide with the multiplicity column
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__graft_n"))
      .filter(col("__graft_n") > 1).count()

  /** FK integrity: child values (non-null) that have no parent. */
  def relationships(child: DataFrame, childKey: String,
                    parent: DataFrame, parentKey: String): Long =
    child.select(col(childKey)).filter(col(childKey).isNotNull)
      .join(broadcast(parent.select(col(parentKey).as(childKey)).distinct()),
        Seq(childKey), "left_anti")
      .count()

  /** dbt_utils.expression_is_true: rows where the expression is NOT true. */
  def expressionIsTrue(df: DataFrame, e: Column): Long =
    df.filter(notTrue(e)).count()

  /** The row predicate of [[expressionIsTrue]]: `e` is false or NULL. */
  def notTrue(e: Column): Column = !coalesce(e, lit(false))

  /** Row-predicate checks fused: for each named VIOLATION predicate, the
    * number of rows where it is true, all from one `count_if` aggregate.
    * A predicate that can be NULL goes uncounted on those rows, so pass
    * `isNull` (the [[notNull]] predicate) or [[notTrue]] (the
    * [[expressionIsTrue]] one) to get exactly their counts. */
  def violations(df: DataFrame,
      predicates: Seq[(String, Column)]): Seq[CheckResult] = {
    require(predicates.nonEmpty, "at least one predicate")
    val counts = predicates.indices.map(i =>
      count_if(predicates(i)._2).as(s"__graft_v$i"))
    val row = df.agg(counts.head, counts.tail: _*).first()
    predicates.indices.map(i => CheckResult(predicates(i)._1, row.getLong(i)))
  }

  /** A check whose count is one slot of an evaluation it shares with
    * other checks (`counts` returns every slot, e.g. [[violations]]).
    * Called alone it evaluates the whole share; [[run]] evaluates each
    * share once, as ONE pool task, for all the checks that hold it. */
  final class Shared(val counts: () => Seq[Long], val slot: Int)
      extends (() => Long) {
    def apply(): Long = counts()(slot)
  }

  /** Freshness: violation iff max(tsCol) is older than `maxAgeSeconds`.
    * The clock is injectable so the check is deterministic under test;
    * production callers use the default wall clock. */
  def freshness(df: DataFrame, tsCol: String, maxAgeSeconds: Long,
                nowMillis: () => Long = () => System.currentTimeMillis()): Long = {
    val r = df.agg(max(col(tsCol))).first()
    if (r.isNullAt(0)) 1L
    else {
      val age = (nowMillis() - r.getTimestamp(0).getTime) / 1000
      if (age > maxAgeSeconds) 1L else 0L
    }
  }

  /** ROW-LEVEL contract routing — the quarantine form of the table-level
    * checks, for streaming gates where a violation must not poison the
    * batch: split `df` into (passing, failing) under named row
    * constraints; failing rows carry `violations`, the array of violated
    * constraint names, so the quarantine partition is self-describing
    * and replayable after the contract or producer is fixed. A NULL
    * constraint result counts as a violation (a contract you cannot
    * evaluate is not satisfied — same polarity as SQL CHECK would NOT
    * give you, chosen deliberately for the quarantine path). Pure narrow
    * projection + filter: composes with foreachBatch at any scale. */
  def partition(df: DataFrame,
      constraints: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    require(constraints.nonEmpty, "at least one constraint")
    val viols = array(constraints.map { case (n, c) =>
      when(!coalesce(c, lit(false)), lit(n)) }: _*)
    val tagged = df.withColumn("__viol",
      filter(viols, v => v.isNotNull))
    (tagged.filter(size(col("__viol")) === 0).drop("__viol"),
      tagged.filter(size(col("__viol")) > 0)
        .withColumnRenamed("__viol", "violations"))
  }

  /** Evaluate a named suite; throws if any check fails (dbt_runner.py:43-44
    * semantics) unless failFast=false, in which case results are returned.
    * Checks holding the same [[Shared]] evaluation are one unit of work;
    * every other check is its own. Results keep the order of `checks`. */
  def run(checks: Seq[(String, () => Long)],
          failFast: Boolean = false,
          parallelism: Int = 8): Seq[CheckResult] = {
    // a unit is one evaluation plus the (check position, slot) pairs it
    // answers: one per Shared evaluation, one per plain check (keyed on
    // its position, so a thunk listed twice still runs once per name)
    val byKey = scala.collection.mutable.LinkedHashMap
      .empty[Any, (() => Seq[Long], Vector[(Int, Int)])]
    checks.indices.foreach { i => checks(i)._2 match {
      case s: Shared =>
        val (_, at) = byKey.getOrElse(s.counts, (s.counts, Vector.empty))
        byKey(s.counts) = (s.counts, at :+ (i -> s.slot))
      case f => byKey(i) = (() => Seq(f()), Vector(i -> 0))
    }}
    val units = byKey.values.toSeq
    // units are independent read-only counts; running them from a
    // driver-side pool overlaps their Spark jobs (scheduler interleaves
    // stages), collapsing a 100+-check gate from sum-of-latencies to
    // roughly the longest few — same results, same order
    val counts: Seq[Seq[Long]] =
      if (parallelism <= 1 || units.size <= 1) units.map(_._1())
      else {
        // SparkContext scheduler thread-locals (job group, pool, tags,
        // description) do not cross into executor-pool threads; copy the
        // caller's values so checks stay attributable and cancellable as
        // the caller's job group
        val callerCtx = scala.util.Try(
          org.apache.spark.sql.SparkSession.active.sparkContext).toOption
        val schedulerKeys = Seq("spark.jobGroup.id",
          "spark.job.description", "spark.job.interruptOnCancel",
          "spark.scheduler.pool", "spark.job.tags")
        val inherited = callerCtx.toSeq.flatMap(sc =>
          schedulerKeys.map(k => k -> sc.getLocalProperty(k)))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(parallelism, units.size))
        try {
          units.map { case (evaluate, _) =>
            pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
              override def call(): Seq[Long] = {
                callerCtx.foreach(sc => inherited.foreach {
                  case (k, v) => sc.setLocalProperty(k, v) })
                evaluate()
              }
            })
          }.map { fut =>
            // rethrow the check's OWN exception, not the pool's
            // ExecutionException wrapper — callers catching the check's
            // type (e.g. a missing-table AnalysisException) keep working
            // exactly as with the inline path
            try fut.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw Option(e.getCause).getOrElse(e)
            }
          }
        } finally pool.shutdown()
      }
    val found = new Array[Long](checks.size)
    units.zip(counts).foreach { case ((_, at), cs) =>
      at.foreach { case (i, slot) => found(i) = cs(slot) } }
    val results =
      checks.indices.map(i => CheckResult(checks(i)._1, found(i)))
    val bad = results.filter(!_.passed)
    if (failFast && bad.nonEmpty)
      throw new IllegalStateException(
        "quality checks failed: " +
          bad.map(r => s"${r.name}=${r.violations}").mkString(", "))
    results
  }
}

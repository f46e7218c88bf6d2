package graftbench

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}

import java.nio.file.{Files, Paths}

/** The analyst read path: catalog queries over the committed sf0.01
  * tables, each executed once, in catalog order, to a noop sink. The
  * timed number is each query's first execution. The order is fixed, not
  * seeded: a query's first execution depends on what ran before it, so a
  * seeded order would make the run's total depend on the seed.
  *
  * All 136 first executions take ~150 s on 4 cores, far more than a run
  * may take, so the run uses one query per category (see
  * [[CatalogWorkload.subset]]).
  * Each output's row count is checked against the DuckDB oracle's count,
  * read from the final plan's SQL metrics so timing is unaffected. */
final class CatalogWorkload(p: Probe, data: String) {
  private val spark = p.spark
  private val res = p.res
  private val dir = s"$data/sf0.01"

  def run(): Unit = {
    val expected = CatalogWorkload.expectedCounts(s"$data/catalog_expected.tsv")
    p.fence()
    p.queries.drain()
    CatalogWorkload.subset.foreach { case (category, q) =>
      var plan: Option[SparkPlan] = None
      res.op(q.name) {
        val t0 = System.nanoTime()
        val df = p.timed("queries.plan") {
          val d = q.run(spark, dir)
          if (p.tracer.on) d.queryExecution.executedPlan
          d
        }
        p.timed("queries.exec") {
          df.write.format("noop").mode("overwrite").save()
        }
        val s = (System.nanoTime() - t0) / 1e9
        p.fence()
        plan = p.queries.drain().reverseIterator.collectFirst {
          case d if d.func == "overwrite" || d.func == "save" => d.qe.executedPlan
        }
        val rows = plan.toRight("no final plan").flatMap(CatalogWorkload.outputRows)
          .fold(n => throw new Mismatch(s"no row count in the final plan at $n"), identity)
        res.expect(s"${q.name} rows", rows, expected(q.name))
        s
      }.foreach { s =>
        res.sample("query_s", s)
        if (p.tracer.on) res.add(s"queries.${category}_s", s)
      }
      if (p.tracer.on) {
        plan.foreach { pl =>
          val nodes = Plans.nodes(pl)
          res.add("plan.exchanges", nodes.count(_.isInstanceOf[Exchange]))
          res.add("plan.expands", nodes.count(_.isInstanceOf[ExpandExec]))
          res.add("plan.cached_relations",
            nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
        }
        val held = spark.sparkContext.getPersistentRDDs
        res.add("cache.blocks_left", held.size)
        res.add("cache.bytes_left", spark.sparkContext.getRDDStorageInfo
          .filter(i => held.contains(i.id)).map(i => i.memSize + i.diskSize).sum.toDouble)
      }
      // whatever a query left cached must not tax the next one
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  /** Every catalog query's full output, one parquet file per query, for
    * run.py's content-hash check against the DuckDB oracle. Untimed. */
  def dumpAll(out: String): Unit =
    SparkEntry.catalog.foreach { q =>
      res.op(q.name) {
        q.run(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      }
      spark.catalog.clearCache()
    }
}

object CatalogWorkload {
  /** Per-layer name of each catalog, in `SparkEntry.catalog` order. */
  val Categories: Seq[(String, Seq[Q])] = Seq(
    "dedup" -> DedupQ.all, "similarity" -> SimilarityQ.all,
    "text" -> TextQ.all, "multimodal" -> MultimodalQ.all,
    "relational" -> Relational.all, "windows" -> Windows.all,
    "analytics" -> AnalyticsQ.all)

  /** The middle query of each category, so every catalog is represented
    * and the set never depends on the seed. */
  val subset: Seq[(String, Q)] = Categories.map { case (c, qs) => c -> qs(qs.size / 2) }

  def expectedCounts(path: String): Map[String, Long] =
    Files.readAllLines(Paths.get(path)).toArray.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split("\t"); f(0) -> f(1).toLong }.toMap

  /** Rows the plan produced: the topmost `numOutputRows` metric, reached
    * only through nodes that pass every row through unchanged. A shuffle
    * answers with the records it wrote: below a range exchange, the
    * sampling job runs the child a second time and doubles its counts. */
  def outputRows(plan: SparkPlan): Either[String, Long] = {
    def down(p: SparkPlan): Either[String, Long] = p match {
      case e: ShuffleExchangeExec => e.metrics.get("shuffleRecordsWritten")
        .map(m => Right(m.value)).getOrElse(Left(p.nodeName))
      case _ if p.metrics.contains("numOutputRows") => Right(p.metrics("numOutputRows").value)
      case a: AdaptiveSparkPlanExec => down(a.executedPlan)
      case s: QueryStageExec => down(s.plan)
      case r: ReusedExchangeExec => down(r.child)
      // a top-k reports no count of its own: min(limit, rows in) - offset
      case t: TakeOrderedAndProjectExec =>
        down(t.child).map(n => math.max(0L, math.min(t.limit.toLong, n) - t.offset))
      case l: GlobalLimitExec =>
        down(l.child).map(n => math.max(0L, math.min(l.limit.toLong, n) - l.offset))
      case _: SortExec | _: ProjectExec | _: WholeStageCodegenExec |
           _: InputAdapter | _: ColumnarToRowExec | _: AQEShuffleReadExec |
           _: V2Write => down(p.children.head)
      case _ => Left(p.nodeName)
    }
    down(plan)
  }

  private type V2Write = org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
}

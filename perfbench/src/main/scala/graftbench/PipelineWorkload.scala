package graftbench

import graft.datagen.Generator
import graft.etl.ReferencePipeline
import graft.operators.BronzeAppend
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.collection.mutable
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future}
import scala.jdk.CollectionConverters._

/** The reference's own job: seeded raw JSONL → streaming ingest → bronze
  * → the 16-model dbt DAG gated by its 110 schema checks.
  *
  * One run builds day 1 from 12 sim-hours of raw files: the freshness of
  * a full build, from raw files present to every model written and every
  * check passed. It then runs a tick with no new data through all three
  * layers, the floor every later tick pays. Day 1 is a from-scratch build
  * over the bronze the no-data tick sees unchanged, so after the tick
  * every model must still equal its day-1 content: the property
  * ReferencePipelineSpec asserts against a scratch rebuild. */
final class PipelineWorkload(p: Probe, work: String, seed: Long) {
  import PipelineWorkload._
  private val spark = p.spark
  private val res = p.res
  private val base = s"$work/pipeline"

  def run(): Unit = {
    // input generation, repeated so its median is steady; run 0 is used
    (0 until 3).foreach { i =>
      val t0 = System.nanoTime()
      generate(s"$base/gen$i")
      res.setupReps += (System.nanoTime() - t0) / 1e9
    }
    val raw = s"$base/gen0"
    val pipe = new ReferencePipeline(spark, s"$base/warehouse")

    put("day1", pass("day1", raw, pipe))
    // the grain properties ReferencePipelineSpec asserts on its fixture
    val day1 = res.op("day1.models") {
      val d = digests(pipe)
      d.foreach { case (m, (n, _)) => if (n == 0) throw new Mismatch(s"$m is empty") }
      res.expect("fact_events rows", d("fact_events")._1, d("stg_clickstream_events")._1)
      res.expect("fact_orders rows", d("fact_orders")._1, d("stg_orders")._1)
      d
    }
    put("noop", pass("noop", raw, pipe))
    day1.foreach { before =>
      res.op("noop.models") {
        digests(pipe).foreach { case (m, d) =>
          res.expect(s"$m (rows, hash) after the no-data tick vs day 1", d, before(m))
        }
      }
    }
  }

  private def put(phase: String, values: Map[String, Double]): Unit =
    values.foreach { case (k, v) => res.put(s"$phase.$k", v) }

  /** (rows, content hash) of every model. The 16 small jobs run
    * concurrently: one at a time they leave most cores idle. */
  private def digests(pipe: ReferencePipeline): Map[String, (Long, BigDecimal)] =
    Await.result(Future.traverse(pipe.modelPaths.keys.toSeq)(m =>
      Future(m -> digest(pipe.table(m)))), Duration.Inf).toMap

  /** ingest → bronze → dbt, each a timed op; the pass time is their sum
    * and is recorded only when all three succeed. When traced, returns
    * the pass's per-layer values, named without the phase. */
  private def pass(phase: String, raw: String,
      pipe: ReferencePipeline): Map[String, Double] = {
    val wh = s"$base/warehouse"
    val (landBefore, whBefore) =
      if (p.tracer.on) (sizes(s"$base/landing"), sizes(wh))
      else (Map.empty[String, Long], Map.empty[String, Long])
    p.queries.drain()
    val read0 = p.counters.recordsRead.get

    val ingest = timedOp(s"$phase.streaming.ingest") {
      val in = new StreamingIngest(spark)
      in.backfill(s"$raw/clickstream", EventSchema, s"$base/landing/clickstream",
        s"$base/checkpoint/clickstream", "clickstream",
        arrivalFrom = Some("ingest_time")) ++
      in.backfill(s"$raw/orders", OrderSchema, s"$base/landing/orders",
        s"$base/checkpoint/orders", "orders",
        arrivalFrom = Some("ingest_time"))
    }
    val bronze = timedOp(s"$phase.operators.bronze") {
      val b = new BronzeAppend(spark)
      b.appendNewPartitions(landing("clickstream", EventSchema),
        s"$base/bronze/clickstream", "batch_id") +
      b.appendNewPartitions(landing("orders", OrderSchema),
        s"$base/bronze/orders", "batch_id")
    }
    val dbtStartMs = System.currentTimeMillis()
    val checks = timedOp(s"$phase.etl.dbt") {
      val r = pipe.run(spark.read.parquet(s"$base/bronze/clickstream"),
        spark.read.parquet(s"$base/bronze/orders"))
      res.expect("checks run", r.size, ChecksExpected)
      res.expect("checks failing", r.count(!_.passed), 0)
      r
    }
    val dbtEndMs = System.currentTimeMillis()
    for ((_, si) <- ingest; (_, sb) <- bronze; (_, sd) <- checks)
      res.sample(s"${phase}_s", si + sb + sd)
    if (!p.tracer.on) Map.empty
    else {
      p.fence()
      val v = mutable.LinkedHashMap.empty[String, Double]
      ingest.foreach { case (batches, s) =>
        v("streaming.ingest_s") = s
        v("streaming.rows_in") = batches.map(_.numInputRows).sum.toDouble }
      bronze.foreach { case (n, s) =>
        v("operators.bronze_s") = s
        v("operators.bronze_rows") = n.toDouble }
      checks.foreach { case (_, s) => v("etl.dbt_s") = s }
      val writes = p.queries.drain().flatMap(w => Plans.written(w.qe).map {
        case (path, bytes) => (path, bytes, w.durNs) })
      val byModel = writes.flatMap { case (path, bytes, ns) =>
        modelOf(pipe, path).map(m => (m, bytes, ns)) }
      def groupS(prefixes: String*) = byModel.collect {
        case (m, _, ns) if prefixes.exists(m.startsWith) => ns }.sum / 1e9
      v("etl.staging_s") = groupS("stg_")
      v("etl.facts_s") = groupS("fact_")
      v("etl.dims_metrics_s") = groupS("dim_", "metrics_")
      v("etl.models_rebuilt") = byModel.map(_._1).distinct.size.toDouble
      v("etl.bytes_written") = writes.filter(_._1.startsWith(wh)).map(_._2).sum.toDouble
      v("etl.checks_s") = p.counters.busySeconds(dbtStartMs, dbtEndMs,
        _.contains("graft.operators.Quality"))
      val newLanding = newBytes(landBefore, sizes(s"$base/landing"))
      val newWh = newBytes(whBefore, sizes(wh))
      v("etl.new_file_bytes") = newWh.toDouble
      if (newLanding > 0) v("etl.write_amp") = newWh.toDouble / newLanding
      val rowsRead = p.counters.recordsRead.get - read0
      v("etl.rows_read") = rowsRead.toDouble
      bronze.foreach { case (n, _) =>
        if (n > 0) v("etl.rows_read_per_new_row") = rowsRead.toDouble / n }
      v.toMap
    }
  }

  /** A timed op: (result, seconds), or None when it failed. */
  private def timedOp[A](name: String)(body: => A): Option[(A, Double)] =
    res.op(name) {
      val t0 = System.nanoTime()
      val r = p.tracer.span(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }

  private def landing(topic: String, schema: StructType): DataFrame =
    spark.read.schema(schema.add("pipeline_ingested_at", TimestampType)
      .add("source_system", StringType).add("ingest_date", StringType)
      .add("batch_id", LongType)).parquet(s"$base/landing/$topic")

  /** Seeded raw JSONL, one file per sim-hour per topic. */
  private def generate(dir: String): Unit = {
    Seq("clickstream", "orders").foreach(t => Files.createDirectories(Paths.get(dir, t)))
    val gen = new Generator(seed)
    gen.simulateEach(Start, Hours, SessionsPerHour,
        sessionSpacingSec = 3600.0 / SessionsPerHour) { (h, evs, ords) =>
      Files.write(Paths.get(dir, "clickstream", f"clickstream_$h%02d.jsonl"),
        evs.map(gen.eventJson).asJava)
      Files.write(Paths.get(dir, "orders", f"orders_$h%02d.jsonl"),
        ords.map(gen.orderJson).asJava)
    }
  }

  private def modelOf(pipe: ReferencePipeline, path: String): Option[String] =
    pipe.modelPaths.toSeq.sortBy(-_._2.length)
      .collectFirst { case (m, mp) if path.startsWith(mp) => m }

  private def sizes(dir: String): Map[String, Long] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Map.empty
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  private def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (f, n) if !before.contains(f) => n }.sum

  /** (rows, order-insensitive content hash) of a model, columns taken in
    * name order; doubles are rounded to 6 places so that a different
    * summation order of the same values does not count as a difference. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(c), 6)
        case _ => col(c)
      }
    }
    val r = df.select(xxhash64(cols.toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

object PipelineWorkload {
  val Start: Instant = Instant.parse("2024-06-01T00:00:00Z")
  val Hours = 12
  val SessionsPerHour = 500
  /** Size of the schema.yml check corpus (staging + marts gates). */
  val ChecksExpected = 110

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", StringType), StructField("event_type", StringType),
    StructField("version", StringType), StructField("user_id", StringType),
    StructField("session_id", StringType), StructField("product_id", StringType),
    StructField("event_time", TimestampType), StructField("ingest_time", TimestampType),
    StructField("device", StringType), StructField("country", StringType),
    StructField("user_agent", StringType), StructField("referrer", StringType),
    StructField("experiment_id", StringType)))

  val OrderSchema: StructType = StructType(Seq(
    StructField("order_id", StringType), StructField("session_id", StringType),
    StructField("user_id", StringType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("product_id", StringType), StructField("quantity", IntegerType),
      StructField("price", DoubleType))))),
    StructField("order_status", StringType), StructField("order_time", TimestampType),
    StructField("ingest_time", TimestampType)))
}

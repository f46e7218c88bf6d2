package graft

import graft.etl.ReferencePipeline
import graft.operators.Incremental
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, expr, input_file_name, when}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The dbt_runner equivalence, end-to-end: generator bronze → all 16
  * models materialized with the reference's materialization configs →
  * the ENTIRE schema.yml test corpus green → re-run idempotent → an
  * incremental batch lands through the same path. */
class ReferencePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("full DAG: 16 models materialize, the whole schema.yml corpus" +
      " passes, re-runs are idempotent, incremental batches land") {
    val base = Files.createTempDirectory("graft_refpipe").toString
    val p = new ReferencePipeline(spark, base)
    val (ev6, ord6) = ReferenceFixtures.bronze(spark, 6)

    // first build from scratch
    val results = p.run(ev6, ord6)
    assert(results.size == 110 && results.map(_.name).distinct.size == 110,
      s"${results.size} checks ran, " +
        s"${results.map(_.name).distinct.size} distinct names")
    assert(results.forall(_.passed))
    p.modelPaths.keys.foreach { n =>
      assert(p.table(n).count() > 0, s"$n is empty")
    }
    // facts preserve staging grain
    assert(p.table("fact_events").count() ==
      p.table("stg_clickstream_events").count())
    assert(p.table("fact_orders").count() == p.table("stg_orders").count())

    // re-run with no new data: every layer identical (delete+insert
    // replaces rows with byte-identical recomputations)
    val factsBefore = TestSpark.rows(p.table("fact_orders"))
    val kpisBefore = TestSpark.rows(p.table("metrics_daily_kpis"))
    p.run(ev6, ord6)
    assert(TestSpark.rows(p.table("fact_orders")) == factsBefore)
    assert(TestSpark.rows(p.table("metrics_daily_kpis")) == kpisBefore)

    // incremental batch: 3 more simulated hours (the first 6 are a
    // deterministic prefix) flow through the same run path — the
    // steady-state run is sliver-narrowed (sidecars exist from the
    // first run); corpus stays green and the tables grow. A hand-made
    // LATE event (old event_ts, newest arrival) rides along: the
    // arrival sliver must admit it even though its event time is old.
    val evCount6 = p.table("fact_events").count()
    val (ev9raw, ord9) = ReferenceFixtures.bronze(spark, 9)
    import org.apache.spark.sql.functions._
    val maxes = ev9raw.agg(max("event_time"), max("pipeline_ingested_at"),
      max("batch_id")).head()
    val lateArrival = new java.sql.Timestamp(
      maxes.getTimestamp(1).getTime + 60000L)
    val lateRow = ev9raw.limit(1)
      .withColumn("event_id", lit("late-event-1"))
      .withColumn("session_id", lit("late-session-1"))
      .withColumn("event_time", lit(new java.sql.Timestamp(
        maxes.getTimestamp(0).getTime - 2 * 3600 * 1000L)))
      .withColumn("source_ingested_at", lit(lateArrival))
      .withColumn("pipeline_ingested_at", lit(lateArrival))
      .withColumn("batch_id", lit(maxes.getLong(2) + 1))
    val ev9 = ev9raw.unionByName(lateRow)
    val results9 = p.run(ev9, ord9)
    assert(results9.forall(_.passed))
    assert(p.table("fact_events").count() > evCount6)
    assert(p.table("fact_events").count() ==
      p.table("stg_clickstream_events").count())
    assert(p.table("fact_events")
      .filter(col("event_id") === "late-event-1").count() == 1,
      "arrival sliver must admit a late-event-time row")

    // THE sliver-correctness gate: the incrementally-maintained models
    // equal a from-scratch rebuild of the same bronze (row-identical),
    // and a FULL-OVERLAP pipeline (sliver narrowing off — the
    // crash-recovery path) lands the same rows too
    val scratchBase = Files.createTempDirectory("graft_refpipe_s").toString
    val scratch = new ReferencePipeline(spark, scratchBase)
    scratch.run(ev9, ord9)
    val overlapBase = Files.createTempDirectory("graft_refpipe_o").toString
    val overlap = new ReferencePipeline(spark, overlapBase, sliver = false)
    overlap.run(ev6, ord6); overlap.run(ev9, ord9)
    for (m <- Seq("stg_clickstream_events", "stg_clickstream_sessions",
        "stg_orders", "stg_order_items", "fact_events", "fact_orders",
        "fact_order_items", "fact_sessions", "metrics_daily_kpis")) {
      def rowsOf(q: ReferencePipeline) =
        TestSpark.rows(q.table(m).select(
          p.table(m).columns.sorted.map(col): _*))
      assert(rowsOf(p) == rowsOf(scratch),
        s"$m: sliver-incremental != scratch rebuild")
      assert(rowsOf(p) == rowsOf(overlap),
        s"$m: sliver-incremental != full-overlap incremental")
    }
  }

  test("change-gated dims/metrics: a no-new-data (day-3) run leaves " +
      "every table-materialized model's files byte-untouched " +
      "(mtime-pinned) with the full corpus still green; new data " +
      "rebuilds them") {
    val base = Files.createTempDirectory("graft_refpipe_gate").toString
    val p = new ReferencePipeline(spark, base)
    val (ev6, ord6) = ReferenceFixtures.bronze(spark, 6)
    p.run(ev6, ord6)

    val tableModels = Seq("dim_session_context", "dim_users",
      "dim_products", "dim_date", "metrics_daily_kpis",
      "metrics_daily_funnel", "metrics_user_lifecycle",
      "metrics_product_performance_daily")
    def mtimes(model: String): Map[String, Long] = {
      val dir = java.nio.file.Paths.get(p.modelPaths(model))
      val s = Files.walk(dir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => Files.isRegularFile(f))
        .map(f => f.toString ->
          Files.getLastModifiedTime(f).toMillis).toMap
      finally s.close()
    }
    val before = tableModels.map(m => m -> mtimes(m)).toMap

    // day-3: nothing new arrived — staging/fact upserts detect no-op,
    // the gate propagates, and no dim/metric file is even rewritten
    val day3 = p.run(ev6, ord6)
    assert(day3.forall(_.passed), "corpus must stay green on the gated run")
    tableModels.foreach { m =>
      assert(mtimes(m) == before(m),
        s"$m was rewritten on a provably-unchanged run")
    }

    // new upstream data flips the gate: every dim/metric rebuilds (their
    // row-correctness after rebuild is pinned by the main DAG test)
    val (ev9, ord9) = ReferenceFixtures.bronze(spark, 9)
    val res9 = p.run(ev9, ord9)
    assert(res9.forall(_.passed))
    tableModels.foreach { m =>
      assert(mtimes(m) != before(m),
        s"$m was not rebuilt after its upstreams changed")
    }
  }

  test("change-gate crash recovery: a fact change committed by a run " +
      "that died BEFORE dims/metrics rebuilds them on the next run, " +
      "even though that run's own upserts are content-equal no-ops") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_refpipe_crash").toString
    val p = new ReferencePipeline(spark, base)
    val (ev6, ord6) = ReferenceFixtures.bronze(spark, 6)
    p.run(ev6, ord6)

    // the crashed run: its fact_orders upsert COMMITTED (simulated as
    // an out-of-band keyed upsert bumping one order's amount through
    // the same materializer), then the process died before any
    // dim/metric rebuilt — the exact round-9 ADVICE window
    val victim = p.table("fact_orders")
      .orderBy(col("order_id")).limit(1).localCheckpoint()
    val orderId = victim.select("order_id").as[String](
      org.apache.spark.sql.Encoders.STRING).head()
    val userId = victim.select("user_id").as[String](
      org.apache.spark.sql.Encoders.STRING).head()
    val oldRev = p.table("dim_users")
      .filter(col("user_id") === userId)
      .select("lifetime_revenue").as[Double](
        org.apache.spark.sql.Encoders.scalaDouble).head()
    val inc = new graft.operators.Incremental(spark)
    inc.upsert(p.modelPaths("fact_orders"),
      victim.withColumn("order_total_amount",
        col("order_total_amount") + lit(1000.0)),
      Seq("order_id"))
    assert(p.table("fact_orders").filter(col("order_id") === orderId)
      .select("order_total_amount").as[Double](
        org.apache.spark.sql.Encoders.scalaDouble).head() > 1000.0 - 1,
      "the simulated crashed run's fact change must be committed")

    // next run, SAME bronze: every staging/fact upsert is a no-op (the
    // sliver sidecars are current), so the in-memory changed-set stays
    // empty — the durable .__deps fingerprint is what must notice the
    // fact_orders dir swap and force the rebuild
    val res = p.run(ev6, ord6)
    assert(res.forall(_.passed))
    val newRev = p.table("dim_users")
      .filter(col("user_id") === userId)
      .select("lifetime_revenue").as[Double](
        org.apache.spark.sql.Encoders.scalaDouble).head()
    assert(math.abs(newRev - (oldRev + 1000.0)) < 1e-6,
      s"dim_users stayed stale after crash recovery: $oldRev -> $newRev")

    // and the gate still closes: one more identical run leaves every
    // table model untouched (no rebuild-always regression)
    def mtimes(model: String): Map[String, Long] = {
      val dir = java.nio.file.Paths.get(p.modelPaths(model))
      val s = Files.walk(dir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => Files.isRegularFile(f))
        .map(f => f.toString ->
          Files.getLastModifiedTime(f).toMillis).toMap
      finally s.close()
    }
    val before = mtimes("dim_users")
    p.run(ev6, ord6)
    assert(mtimes("dim_users") == before,
      "dim_users rebuilt on a provably-unchanged run after recovery")
  }

  // ── file-backed bronze: the listing proof's input ──

  /** Append the fixture's batches `from` and later to a bronze dir, one
    * batch per file, as an ingest would: earlier files stay untouched. */
  private def appendBronze(dir: String, hours: Int, from: Int): Unit = {
    val (ev, ord) = ReferenceFixtures.bronze(spark, hours)
    (from until hours).foreach { h =>
      ev.filter(col("batch_id") === h).coalesce(1).write.mode("append")
        .parquet(s"$dir/clickstream")
      ord.filter(col("batch_id") === h).coalesce(1).write.mode("append")
        .parquet(s"$dir/orders")
    }
  }

  private def readBronze(dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/clickstream"),
      spark.read.parquet(s"$dir/orders"))

  /** Every regular file under `dir` (data, `.__wm` and `.__deps`
    * sidecars alike) with its mtime. */
  private def filesUnder(dir: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(dir))
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(f => Files.isRegularFile(f))
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    finally s.close()
  }

  /** Spark jobs `body` starts outside the check gates: a job counts
    * unless its call site, or that of the SQL execution it belongs to
    * (a broadcast's job runs on another thread), passes through
    * `Quality`. A marker job run after `body` proves the listener has
    * seen every earlier job. */
  private def jobsOutsideGates(body: => Unit): Int = {
    val sc = spark.sparkContext
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkListenerEvent]
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == fence))
          fenced.countDown()
        else { events.add(e); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add(s); ()
        case _ =>
      }
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(fence)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    def gate(details: String) = details.contains("graft.operators.Quality")
    val gateExecs = events.asScala.collect {
      case s: SparkListenerSQLExecutionStart if gate(s.details) =>
        s.executionId.toString }.toSet
    events.asScala.count {
      case j: SparkListenerJobStart =>
        !j.stageInfos.exists(st => gate(st.details)) &&
          !Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .exists(gateExecs)
      case _ => false
    }
  }

  private def rowsOf(p: ReferencePipeline, m: String) =
    TestSpark.rows(p.table(m).select(p.table(m).columns.sorted.map(col): _*))

  test("no-data tick over file-backed bronze: every incremental model is " +
      "skipped on its listing proof, so no file or sidecar under the " +
      "warehouse changes and no Spark job runs outside the check gates") {
    val base = Files.createTempDirectory("graft_refpipe_noop").toString
    val bronze = Files.createTempDirectory("graft_refpipe_bz").toString
    appendBronze(bronze, 6, from = 0)
    val p = new ReferencePipeline(spark, base)
    val (ev, ord) = readBronze(bronze)
    p.run(ev, ord)
    val before = filesUnder(base)
    assert(before.keys.count(_.endsWith(".__wm")) == 7,
      "one sliver sidecar per incremental model but fact_sessions")

    val (ev2, ord2) = readBronze(bronze) // the caller's reads, not run's
    var results = Seq.empty[graft.operators.Quality.CheckResult]
    val jobs = jobsOutsideGates { results = p.run(ev2, ord2) }
    assert(results.size == 110 && results.forall(_.passed))
    assert(filesUnder(base) == before,
      "the no-data tick wrote, rewrote or removed a file")
    assert(jobs == 0, s"$jobs Spark jobs ran outside the check gates")
  }

  test("listing proof falls back to the row proof: a bronze file renamed " +
      "with identical rows is proved empty by rows and re-stamped; a new " +
      "bronze file's arrivals are processed like a sliver = false rebuild") {
    val base = Files.createTempDirectory("graft_refpipe_fp").toString
    val bronze = Files.createTempDirectory("graft_refpipe_bz").toString
    appendBronze(bronze, 6, from = 0)
    val p = new ReferencePipeline(spark, base)
    p.run(readBronze(bronze)._1, readBronze(bronze)._2)
    def dataFiles() = filesUnder(base).filter { case (f, _) =>
      !f.endsWith(".__wm") }
    val before = dataFiles()
    val evPath = p.modelPaths("stg_clickstream_events")
    val markBefore = new Incremental(spark)
      .processedThrough(evPath, "pipeline_ingested_at")
    def wm() = new String(Files.readAllBytes(Paths.get(evPath + ".__wm")),
      "UTF-8")
    val wmBefore = wm()

    // the same rows under a new file name: the listing moves, the rows
    // do not
    val dir = Paths.get(bronze, "clickstream")
    val victim = {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).minBy(_.toString)
      finally s.close()
    }
    Files.move(victim, dir.resolve("part-renamed-" + victim.getFileName))
    Files.deleteIfExists(dir.resolve(s".${victim.getFileName}.crc"))
    val (ev, ord) = readBronze(bronze)
    val jobs = jobsOutsideGates { p.run(ev, ord) }
    assert(jobs > 0, "a moved listing must fall through to the row proof")
    assert(dataFiles() == before, "an identical-rows rename rebuilt a model")
    assert(new Incremental(spark).processedThrough(evPath,
      "pipeline_ingested_at") == markBefore)
    assert(wm() != wmBefore,
      "the row-proven empty sliver re-stamps the new listing")
    // ...so the next no-data tick is listing-proven again
    val (ev2, ord2) = readBronze(bronze)
    assert(jobsOutsideGates { p.run(ev2, ord2) } == 0)

    // new arrivals in a new file: processed, and every model equals a
    // full-overlap (sliver = false) build of the same bronze
    appendBronze(bronze, 9, from = 6)
    val (ev9, ord9) = readBronze(bronze)
    p.run(ev9, ord9)
    val scratch = new ReferencePipeline(spark,
      Files.createTempDirectory("graft_refpipe_fps").toString,
      sliver = false)
    scratch.run(ev9, ord9)
    p.modelPaths.keys.foreach { m =>
      assert(rowsOf(p, m) == rowsOf(scratch, m),
        s"$m: incremental over new bronze != sliver = false rebuild")
    }
  }

  /** Rewrite one bronze file under its own name as a single
    * uncompressed, dictionary-free parquet file holding `f` of its rows:
    * a fixed-width value changed this way keeps the file's size. */
  private def rewriteInPlace(file: Path)(f: DataFrame => DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft_refpipe_rw")
    f(spark.read.parquet(file.toString)).coalesce(1).write
      .option("compression", "none")
      .option("parquet.enable.dictionary", "false")
      .mode("overwrite").parquet(tmp.toString)
    val out = {
      val s = Files.list(tmp)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      finally s.close()
    }
    Files.move(out, file, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  test("listing proof sees an in-place rewrite: a bronze file rewritten " +
      "under its own name with the same size but other rows is processed") {
    val base = Files.createTempDirectory("graft_refpipe_rw").toString
    val bronze = Files.createTempDirectory("graft_refpipe_bz").toString
    appendBronze(bronze, 6, from = 0)
    // the latest-arriving order sits inside every re-admit window
    val latest = readBronze(bronze)._2
      .select(input_file_name(), col("order_id"),
        col("order_time").cast("timestamp"), col("pipeline_ingested_at"))
      .orderBy(col("pipeline_ingested_at").desc).first()
    val file = Paths.get(
      new org.apache.hadoop.fs.Path(latest.getString(0)).toUri.getPath)
    val orderId = latest.getString(1)
    val want = new java.sql.Timestamp(latest.getTimestamp(2).getTime + 1000)
    rewriteInPlace(file)(identity) // same rows, size-stable encoding
    val p = new ReferencePipeline(spark, base)
    p.run(readBronze(bronze)._1, readBronze(bronze)._2)
    val (size, mtime) = (Files.size(file), Files.getLastModifiedTime(file))

    // a writer that reuses file names replaces the file: one order's
    // order_time moves by a second, nothing else changes
    rewriteInPlace(file)(_.withColumn("order_time",
      when(col("order_id") === orderId,
        col("order_time") + expr("INTERVAL 1 SECOND"))
        .otherwise(col("order_time"))))
    assert(Files.size(file) == size, "the rewrite must keep the file size")
    assert(Files.getLastModifiedTime(file) != mtime)
    p.run(readBronze(bronze)._1, readBronze(bronze)._2)
    Seq("stg_orders", "fact_orders").foreach { m =>
      val got = p.table(m).filter(col("order_id") === orderId)
        .select(col("order_ts")).collect().map(_.getTimestamp(0)).toSeq
      assert(got == Seq(want), s"$m did not pick up the rewritten order")
    }
  }

  test("fact_sessions crash window: a run that dies at fact_sessions, " +
      "after both session-feeding staging models committed, loses no " +
      "touched session on the next run") {
    val base = Files.createTempDirectory("graft_refpipe_fs").toString
    val bronze = Files.createTempDirectory("graft_refpipe_bz").toString
    appendBronze(bronze, 6, from = 0)
    val p = new ReferencePipeline(spark, base)
    p.run(readBronze(bronze)._1, readBronze(bronze)._2)
    appendBronze(bronze, 9, from = 6)

    // the crashed run: fact_sessions' lock is held, so the run throws
    // there, after stg_clickstream_sessions and stg_orders committed
    val fs = p.modelPaths("fact_sessions")
    val tok = Incremental.acquire(fs)
    try intercept[Incremental.ConcurrentWriteException] {
      p.run(readBronze(bronze)._1, readBronze(bronze)._2)
    } finally Incremental.release(fs, tok)

    val (ev9, ord9) = readBronze(bronze)
    p.run(ev9, ord9)
    val scratch = new ReferencePipeline(spark,
      Files.createTempDirectory("graft_refpipe_fss").toString,
      sliver = false)
    scratch.run(ev9, ord9)
    val (got, want) =
      (rowsOf(p, "fact_sessions"), rowsOf(scratch, "fact_sessions"))
    val differ = (want -- got).size + (got -- want).size
    assert(differ == 0, s"fact_sessions differs from the rebuild in " +
      s"$differ rows: the crashed run's touched sessions were lost")
  }
}

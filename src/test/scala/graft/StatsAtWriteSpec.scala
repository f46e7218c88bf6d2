package graft

import graft.operators.{FileStats, PartitionedSnapshots => PS}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-15 headline: STATS-AT-WRITE. A table that declares
  * `zonemap_cols` gets per-file min/max/null-count recorded by EVERY
  * commit — harvested in the same footer read that already records row
  * counts, carried in the filemeta itself (Delta's stats-in-commit-log
  * shape) — so data-column file-skipping is the always-fresh DEFAULT:
  * no `build_zone_map` call, no staleness window, zero extra store
  * ops, through both read doors. */
class StatsAtWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private val store = graft.operators.CommitStore.local

  /** Deterministic multi-file layout: each frame becomes exactly one
    * task partition (and so one data file per partition dir), with the
    * rows the test assigned it — the RDD boundary stops the optimizer
    * folding unioned local relations back into one partition. */
  private def grouped(frames: DataFrame*): DataFrame =
    frames.map(df =>
      spark.createDataFrame(df.rdd.coalesce(1), df.schema))
      .reduce(_ union _)

  private def v1Files(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one V1 scan, got ${scans.size}")
    scans.head.metrics("numFiles").value
  }

  private def v2Files(df: DataFrame): (Int, Int) = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s.scan
    }.collect { case p: ParquetScan => p }
    assert(scans.size == 1, s"expected one ParquetScan, got $scans")
    val p = scans.head
    assert(p.fileIndex.isInstanceOf[graft.plans.GraftFileIndex],
      "scan must plan from the metadata index")
    (p.fileIndex.listFiles(p.partitionFilters, p.dataFilters)
      .map(_.files.size).sum, p.fileIndex.allFiles().size)
  }

  test("codec round-trips every stat type and survives separator/" +
      "escape-hostile values") {
    import org.apache.spark.sql.types._
    val cases: Seq[(DataType, Any, Any)] = Seq(
      (BooleanType, false, java.lang.Boolean.FALSE),
      (ByteType, 7.toByte, java.lang.Byte.valueOf(7.toByte)),
      (ShortType, (-300).toShort, java.lang.Short.valueOf((-300).toShort)),
      (IntegerType, 42, java.lang.Integer.valueOf(42)),
      (LongType, -9876543210L, java.lang.Long.valueOf(-9876543210L)),
      (FloatType, 1.5f, java.lang.Float.valueOf(1.5f)),
      (DoubleType, math.Pi, java.lang.Double.valueOf(math.Pi)),
      (StringType, "a\tb/c:d%e\nf=g",
        org.apache.spark.unsafe.types.UTF8String
          .fromString("a\tb/c:d%e\nf=g")),
      (DateType, java.time.LocalDate.of(2024, 2, 29),
        java.lang.Integer.valueOf(
          java.time.LocalDate.of(2024, 2, 29).toEpochDay.toInt)),
      (TimestampType,
        java.time.Instant.parse("2024-06-01T12:34:56.789012Z"),
        java.lang.Long.valueOf(
          java.time.Instant.parse("2024-06-01T12:34:56.789012Z")
            .getEpochSecond * 1000000L + 789012L)))
    cases.foreach { case (dt, external, internal) =>
      val enc = FileStats.encodeValue(dt, external)
      assert(FileStats.decodeValue(dt, enc) == internal, s"$dt")
    }
    // render/parse: hostile column names and values, null markers, and
    // the rendered token never contains a literal tab or newline (the
    // filemeta line separators)
    val stats = Seq(
      "a:b/c" -> FileStats.ColStat(Some("x\ty"), Some("%"), 3L),
      "plain" -> FileStats.ColStat(None, None, 0L))
    val token = FileStats.render(stats)
    assert(!token.exists(c => c == '\t' || c == '\n'), token)
    assert(FileStats.parse(token) == stats)
    // corrupt tokens degrade to empty, never throw
    assert(FileStats.parse("garbage").isEmpty)
    assert(FileStats.parse("a:b").isEmpty)
  }

  test("declared zonemap_cols: a plain write + upsert record per-file " +
      "stats in the filemeta, a point query plans only survivors with " +
      "NO build_zone_map call — fresh at EVERY version, both doors") {
    val root = tmp("saw_main")
    spark.conf.set("spark.sql.catalog.saw",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.saw.root", root)
    val t = s"$root/t"
    PS.setStatsColumns(t, Seq("k"), store)
    // one partition, four files with disjoint k ranges
    val df = grouped(
      (1L to 10L).map(k => (k, "p", s"v$k")).toDF("k", "d", "v"),
      (11L to 20L).map(k => (k, "p", s"v$k")).toDF("k", "d", "v"),
      (21L to 30L).map(k => (k, "p", s"v$k")).toDF("k", "d", "v"),
      (31L to 40L).map(k => (k, "p", s"v$k")).toDF("k", "d", "v"))
    PS.write(spark, t, df, "d", store)
    // the stats live in the filemeta record itself
    val refs = PS.fileManifest(t, 1L, store).get
    assert(refs.nonEmpty && refs.forall(_.stats.isDefined),
      s"every ref carries stats: $refs")
    // V1 door
    val q1 = PS.read(spark, t, store).filter(col("k") <= 5L)
    val all1 = v1Files(PS.read(spark, t, store))
    assert(all1 >= 4)
    assert(v1Files(q1) < all1, "stats-at-write must prune (V1)")
    assert(q1.select("k").as[Long].collect().toSet == (1L to 5L).toSet)
    // SQL door
    val q2 = spark.sql("SELECT k FROM saw.t WHERE k <= 5")
    val (planned, total) = v2Files(q2)
    assert(planned < total, s"stats-at-write must prune (SQL): " +
      s"$planned of $total")
    assert(q2.as[Long].collect().toSet == (1L to 5L).toSet)
    // a NEW commit's files are statted too — no staleness window: the
    // fresh partition's out-of-range file is pruned immediately
    PS.upsert(spark, t, (100L to 140L).map(k => (k, "q", s"v$k"))
      .toDF("k", "d", "v"), Seq("k"), "d", store = store)
    val q3 = spark.sql("SELECT k FROM saw.t WHERE k <= 5")
    val (planned3, total3) = v2Files(q3)
    assert(total3 > total, "the upsert added files")
    assert(planned3 == planned,
      s"the new files must prune on their FRESH stats: $planned3")
    assert(q3.as[Long].collect().toSet == (1L to 5L).toSet)
    // and a query INTO the new range reads the new partition's files
    val q4 = spark.sql("SELECT k FROM saw.t WHERE k >= 120")
    assert(q4.as[Long].collect().toSet == (120L to 140L).toSet)
  }

  test("every stat type prunes without losing rows: long, string, " +
      "date, timestamp, double") {
    val root = tmp("saw_types")
    spark.conf.set("spark.sql.catalog.sawt",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.sawt.root", root)
    val t = s"$root/t"
    PS.setStatsColumns(t, Seq("k", "s", "dt", "ts", "x"), store)
    // INT96 (the Hive-compat default) carries no usable footer stats;
    // a lakehouse table stats-prunes timestamps only under the
    // int64 rendering — same rule as the round-14 sidecar harvest
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    def mk(ks: Seq[Long]) = ks.map { k =>
      (k, "p", f"s$k%03d", java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(k)),
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T00:00:00Z")
            .plusSeconds(k * 3600)), k * 1.5)
    }.toDF("k", "d", "s", "dt", "ts", "x")
    val df = grouped(mk(1L to 9L), mk(10L to 19L), mk(20L to 30L))
    PS.write(spark, t, df, "d", store)
    val total = v2Files(spark.sql("SELECT k FROM sawt.t"))._2
    assert(total >= 3)
    def check(where: String, want: Set[Long],
        expectPrune: Boolean): Unit = {
      val q = spark.sql(s"SELECT k FROM sawt.t WHERE $where")
      val (planned, _) = v2Files(q)
      if (expectPrune)
        assert(planned < total, s"$where should prune: $planned/$total")
      assert(q.as[Long].collect().toSet == want, where)
    }
    check("s < 's005'", (1L to 4L).toSet, expectPrune = true)
    check("s LIKE 's00%'", (1L to 9L).toSet, expectPrune = true)
    check("dt = DATE'2024-01-03'", Set(2L), expectPrune = true)
    check("ts >= TIMESTAMP'2024-06-02 04:00:00UTC'",
      (28L to 30L).toSet, expectPrune = true)
    check("x <= 3.0", Set(1L, 2L), expectPrune = true)
    check("k IN (1, 25)", Set(1L, 25L), expectPrune = true)
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  test("null semantics: IS NULL / IS NOT NULL prune on recorded null " +
      "counts; an all-null file rejects under a comparison; rows are " +
      "never lost") {
    val root = tmp("saw_null")
    spark.conf.set("spark.sql.catalog.sawn",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.sawn.root", root)
    val t = s"$root/t"
    PS.setStatsColumns(t, Seq("v"), store)
    // file A: no nulls; file B: all null; file C: mixed
    val df = grouped(
      (1L to 10L).map(k => (k, "p", Some(s"v$k"))).toDF("k", "d", "v"),
      (11L to 20L).map(k => (k, "p", None: Option[String]))
        .toDF("k", "d", "v"),
      (21L to 30L).map(k =>
        (k, "p", if (k % 2 == 0) Some(s"w$k") else None))
        .toDF("k", "d", "v"))
    PS.write(spark, t, df, "d", store)
    val total = v2Files(spark.sql("SELECT k FROM sawn.t"))._2
    assert(total >= 3)
    val isNull = spark.sql("SELECT k FROM sawn.t WHERE v IS NULL")
    assert(v2Files(isNull)._1 < total, "IS NULL prunes the no-null file")
    assert(isNull.as[Long].collect().toSet ==
      ((11L to 20L) ++ (21L to 30L).filter(_ % 2 == 1)).toSet)
    val notNull = spark.sql("SELECT k FROM sawn.t WHERE v IS NOT NULL")
    assert(v2Files(notNull)._1 < total,
      "IS NOT NULL prunes the all-null file")
    assert(notNull.as[Long].collect().toSet ==
      ((1L to 10L) ++ (21L to 30L).filter(_ % 2 == 0)).toSet)
    // comparison: the all-null file can never match
    val cmp = spark.sql("SELECT k FROM sawn.t WHERE v >= 'v'")
    assert(v2Files(cmp)._1 < total, "all-null file rejects")
    assert(cmp.as[Long].collect().toSet ==
      ((1L to 10L) ++ (21L to 30L).filter(_ % 2 == 0)).toSet)
  }

  test("NaN-poisoned float stats keep their file (parquet omits the " +
      "min/max; absent stats never prune) and results stay exact") {
    val root = tmp("saw_nan")
    spark.conf.set("spark.sql.catalog.sawf",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.sawf.root", root)
    val t = s"$root/t"
    PS.setStatsColumns(t, Seq("x"), store)
    val df = ((1L to 10L).map(k => (k, "p", k * 1.0)) ++
      Seq((11L, "p", Double.NaN)) ++
      (12L to 20L).map(k => (k, "p", k * 1.0)))
      .toDF("k", "d", "x")
      .repartition(3, col("k") < 11L, col("k") < 12L)
    PS.write(spark, t, df, "d", store)
    // NaN sorts ABOVE every double in Spark: x > 15 matches it
    val q = spark.sql("SELECT k FROM sawf.t WHERE x > 15.0")
    assert(q.as[Long].collect().toSet == (16L to 20L).toSet + 11L)
  }

  test("filtered-scan cardinality: a pruned scan reports the " +
      "survivors' exact row sum as its estimate, and a selective " +
      "join broadcasts where the full table would not") {
    val root = tmp("saw_card")
    spark.conf.set("spark.sql.catalog.sawc",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.sawc.root", root)
    val t = s"$root/big"
    PS.setStatsColumns(t, Seq("k"), store)
    // one partition value, four files with disjoint k ranges
    def slab(lo: Long, hi: Long) = (lo to hi).map(k =>
      (k, "p", s"val-$k-${k * 7919}")).toDF("k", "d", "v")
    val df = grouped(slab(1L, 10000L), slab(10001L, 20000L),
      slab(20001L, 30000L), slab(30001L, 40000L))
    PS.write(spark, t, df, "d", store)
    def stats(sql: String) = {
      val rels = spark.sql(sql).queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r
      }
      assert(rels.size == 1)
      rels.head.stats
    }
    val full = stats("SELECT * FROM sawc.big")
    assert(full.rowCount.contains(BigInt(40000)))
    val sel = stats("SELECT * FROM sawc.big WHERE k <= 2000")
    // survivors' sum: under the full table, at or above the true count
    assert(sel.rowCount.isDefined)
    assert(sel.rowCount.get < BigInt(40000), s"${sel.rowCount}")
    assert(sel.rowCount.get >= BigInt(2000))
    assert(sel.sizeInBytes < full.sizeInBytes,
      s"${sel.sizeInBytes} vs ${full.sizeInBytes}")
    // the selective side broadcasts with NO hint under a threshold the
    // full table exceeds — operands measured on scans with the JOIN's
    // own projection (column pruning scales the size estimate, so the
    // SELECT-* numbers above are not the build side's)
    val selJ = stats("SELECT k, v FROM sawc.big WHERE k <= 2000")
    val fullJ = stats("SELECT k, v FROM sawc.big WHERE k IS NOT NULL")
    assert(selJ.sizeInBytes < fullJ.sizeInBytes)
    val threshold = (selJ.sizeInBytes + fullJ.sizeInBytes) / 2
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        threshold.toString)
      // pin the STATIC planner's choice — this test is about the
      // estimate driving the initial plan; AQE's runtime re-plan from
      // actual sizes is a separate (already-working) mechanism
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.range(200000).selectExpr("id AS k", "id % 7 AS g")
        .createOrReplaceTempView("saw_fact")
      val j = spark.sql("SELECT f.g, b.v FROM saw_fact f JOIN " +
        "(SELECT * FROM sawc.big WHERE k <= 2000) b ON f.k = b.k")
      j.collect()
      assert(j.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        s"expected broadcast:\n${j.queryExecution.executedPlan}")
      val jf = spark.sql("SELECT f.g, b.v FROM saw_fact f JOIN " +
        "sawc.big b ON f.k = b.k")
      jf.collect()
      assert(!jf.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "the UNFILTERED table must exceed the pinned threshold")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("SQL surfaces: CALL system.set_stats_cols declares the " +
      "columns; CREATE TABLE TBLPROPERTIES('zonemap_cols') declares " +
      "them from birth; INSERT then records stats") {
    val root = tmp("saw_sql")
    spark.conf.set("spark.sql.catalog.saws",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.saws.root", root)
    spark.sql("CREATE TABLE saws.born (k BIGINT, d STRING, v STRING) " +
      "PARTITIONED BY (d) TBLPROPERTIES ('zonemap_cols'='k')")
    assert(PS.statsColumns(s"$root/born", store) == Seq("k"))
    spark.sql("INSERT INTO saws.born VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val refs = PS.fileManifest(s"$root/born",
      PS.currentVersion(s"$root/born", store).get, store).get
    assert(refs.forall(_.stats.isDefined), s"$refs")
    // procedure declares / clears
    PS.write(spark, s"$root/p", Seq((1L, "a")).toDF("k", "d"), "d", store)
    spark.sql("CALL saws.system.set_stats_cols(table => 'p', " +
      "cols => 'k')")
    assert(PS.statsColumns(s"$root/p", store) == Seq("k"))
    spark.sql("CALL saws.system.set_stats_cols(table => 'p', " +
      "cols => '')")
    assert(PS.statsColumns(s"$root/p", store).isEmpty)
  }

  test("stats-at-write composes with DML: delete/update/merge/compact " +
      "commits re-stat their rewritten files; optimistic upsert stats " +
      "its lock-free prepare") {
    val root = tmp("saw_dml")
    spark.conf.set("spark.sql.catalog.sawd",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.sawd.root", root)
    val t = s"$root/t"
    PS.setStatsColumns(t, Seq("k"), store)
    PS.write(spark, t, (1L to 40L).map(k => (k, s"p${k % 2}", s"v$k"))
      .toDF("k", "d", "v"), "d", store)
    def allStatted(): Boolean = {
      val v = PS.currentVersion(t, store).get
      PS.fileManifest(t, v, store).get.forall(_.stats.isDefined)
    }
    assert(allStatted())
    PS.upsert(spark, t, Seq((41L, "p1", "w"))
      .toDF("k", "d", "v"), Seq("k"), "d", store = store)
    assert(allStatted())
    PS.delete(spark, t, col("k") === 3L, "d", store)
    assert(allStatted())
    PS.updateWhere(spark, t, Map("v" -> lit("u")), col("k") === 4L,
      "d", store)
    assert(allStatted())
    PS.merge(spark, t, Seq((5L, "p1", "m")).toDF("k", "d", "v"),
      Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v")), store = store)
    assert(allStatted())
    PS.compact(spark, t, "d", store = store)
    assert(allStatted())
    // the optimistic maintenance rewrite records them too — fragment
    // p1 first so the compaction has something to coalesce
    PS.upsert(spark, t, Seq((6L, "p1", "x"), (7L, "p1", "y"))
      .toDF("k", "d", "v").repartition(2), Seq("k"), "d",
      store = store)
    assert(allStatted())
    PS.compact(spark, t, "d", store = store)
    assert(allStatted())
    // the final state still prunes and answers exactly
    val q = spark.sql("SELECT k FROM sawd.t WHERE k = 41")
    assert(q.as[Long].collect().toSet == Set(41L))
  }

  test("backfillStats enriches files that PREDATE the declaration: " +
      "a data-column point query prunes only after the backfill, the " +
      "op is idempotent, and later commits carry the enriched lines") {
    val t = s"${tmp("saw_bf")}/t"
    // three files in one partition with disjoint k ranges, written
    // under the `none` OPT-OUT (round 16: an UNDECLARED table now
    // auto-stats, so opt-out is how a stat-less history arises) —
    // row counts recorded, stats absent
    PS.setStatsColumns(t, Nil, store)
    PS.write(spark, t, grouped(
      Seq.tabulate(10)(i => (i.toLong, "P", s"v$i"))
        .toDF("k", "d", "v"),
      Seq.tabulate(10)(i => ((i + 10).toLong, "P", s"w$i"))
        .toDF("k", "d", "v"),
      Seq.tabulate(10)(i => ((i + 20).toLong, "P", s"x$i"))
        .toDF("k", "d", "v")), "d", store)
    PS.setStatsColumns(t, Seq("k"), store)
    def q() = PS.read(spark, t, store).filter(col("k") === 15L)
    assert(v1Files(q()) == 3L, "declaration alone: no stats, no skip")
    assert(PS.backfillStats(spark, t, store) == 3)
    assert(v1Files(q()) == 1L, "backfilled stats prune to one file")
    assert(q().select("v").as[String].collect().toSet == Set("w5"))
    assert(PS.backfillStats(spark, t, store) == 0, "idempotent")
    // a subsequent commit CARRIES the enriched lines forward — the
    // untouched partition keeps skipping at the new version
    PS.upsert(spark, t, Seq((100L, "Q", "q")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    assert(v1Files(q()) == 1L, "enrichment survives the next commit")
  }

  test("SQL surface: CALL system.backfill_stats reports the enriched " +
      "file count and the DSv2 door prunes afterwards") {
    val root = tmp("saw_bfsql")
    spark.conf.set("spark.sql.catalog.sawbf",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.sawbf.root", root)
    val t = s"$root/t"
    // stat-less history via the opt-out (see the operator-API twin)
    PS.setStatsColumns(t, Nil, store)
    PS.write(spark, t, grouped(
      Seq.tabulate(10)(i => (i.toLong, "P", s"v$i"))
        .toDF("k", "d", "v"),
      Seq.tabulate(10)(i => ((i + 10).toLong, "P", s"w$i"))
        .toDF("k", "d", "v")), "d", store)
    spark.sql("CALL sawbf.system.set_stats_cols(table => 't', " +
      "cols => 'k')")
    val q = spark.sql("SELECT v FROM sawbf.t WHERE k = 5")
    assert(v2Files(q)._1 == 2, "no stats yet: both files planned")
    val n = spark.sql("CALL sawbf.system.backfill_stats(table => 't')")
      .collect().head.getInt(0)
    assert(n == 2, s"expected 2 files enriched, got $n")
    val q2 = spark.sql("SELECT v FROM sawbf.t WHERE k = 5")
    assert(v2Files(q2)._1 == 1, "backfilled stats prune the DSv2 scan")
    assert(q2.as[String].collect().toSet == Set("v5"))
  }
}

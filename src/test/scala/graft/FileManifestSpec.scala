package graft

import graft.operators.{PartitionedSnapshots => PS}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Per-version FILE manifest (round-13 flagship): commits record their
  * complete file list + owner schemas, and reads plan from that
  * metadata — an explicit Spark file index, zero dir listings, zero
  * footer reads — with byte-identical results to the legacy listing
  * path, which remains the fallback for pre-feature versions. */
class FileManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private val store = graft.operators.CommitStore.local

  private def legacyRead(t: String, v: Long): DataFrame = {
    val m = PS.manifest(t, v, store)
    val dirs = m.toSeq.sorted.map { case (p, o) =>
      f"$t/_snapshots/v$o%05d/data/$p"
    }
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  private def graftIndexOf(df: DataFrame) =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: graft.plans.GraftFileIndex => g }

  test("fast path plans from the recorded index and matches legacy " +
      "rows across upsert/delete/update/merge/compact") {
    val t = tmp("fm_ops") + "/t"
    PS.write(spark, t,
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
        .toDF("k", "d", "v"), "d", store)
    PS.upsert(spark, t, Seq((2L, "b", "y2"), (4L, "a", "w"))
      .toDF("k", "d", "v"), Seq("k"), "d", store = store)
    PS.delete(spark, t, col("k") === 3L, "d", store)
    PS.updateWhere(spark, t, Map("v" -> upper(col("v"))),
      col("d") === "a", "d", store)
    PS.merge(spark, t, Seq((1L, "a", "m1"), (9L, "b", "m9"))
      .toDF("k", "d", "v"), Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v")), store = store)
    PS.compact(spark, t, "d", store = store)

    val cur = PS.currentVersion(t, store).get
    val fast = PS.readVersion(spark, t, cur, store)
    // the scan is served by the metadata index, not a listing
    assert(graftIndexOf(fast).isDefined,
      "expected the plan-from-metadata GraftFileIndex in the scan")
    val legacy = legacyRead(t, cur)
    assert(fast.schema.map(f => (f.name, f.dataType)) ===
      legacy.schema.map(f => (f.name, f.dataType)))
    assert(fast.as[(Long, String, String)].collect().toSet ===
      legacy.as[(Long, String, String)].collect().toSet)
    // the planned files are exactly the recorded manifest's files
    // (inputFiles come back scheme-qualified; versionFiles are raw)
    assert(fast.inputFiles.toSeq.map(_.stripPrefix("file:")).sorted ===
      PS.versionFiles(t, cur, store))
    // and versionFiles agrees between recorded and listing derivations
    val listed = PS.manifest(t, cur, store).toSeq.flatMap { case (p, o) =>
      val dir = f"$t/_snapshots/v$o%05d/data/$p"
      store.listEntries(dir)
        .filter(e => !e.isDir && e.name.endsWith(".parquet"))
        .map(e => s"$dir/${e.name}")
    }.sorted
    assert(PS.versionFiles(t, cur, store) === listed)
  }

  test("time travel: every retained version plans from its own record") {
    val t = tmp("fm_tt") + "/t"
    val v1 = PS.write(spark, t, Seq((1L, "a", "x")).toDF("k", "d", "v"),
      "d", store)
    val v2 = PS.upsert(spark, t, Seq((2L, "b", "y")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    val r1 = PS.readVersion(spark, t, v1, store)
    val r2 = PS.readVersion(spark, t, v2, store)
    assert(graftIndexOf(r1).isDefined && graftIndexOf(r2).isDefined)
    assert(r1.count() === 1 && r2.count() === 2)
    // restore carries the restored version's file manifest forward
    val v3 = PS.restore(spark, t, v1, store)
    val r3 = PS.readVersion(spark, t, v3, store)
    assert(graftIndexOf(r3).isDefined)
    assert(r3.as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "x")))
  }

  test("schema evolution: new column surfaces as null on carried " +
      "partitions, through the recorded schemas alone") {
    val t = tmp("fm_evo") + "/t"
    PS.write(spark, t, Seq((1L, "a", "x")).toDF("k", "d", "v"), "d",
      store)
    // touched partition b carries the new column; partition a is
    // carried with its old footer
    PS.upsert(spark, t,
      Seq((2L, "b", "y", 7)).toDF("k", "d", "v", "extra"),
      Seq("k"), "d", store = store)
    val cur = PS.currentVersion(t, store).get
    val fast = PS.readVersion(spark, t, cur, store)
    assert(graftIndexOf(fast).isDefined)
    val got = fast.select("k", "d", "v", "extra")
      .as[(Long, String, String, Option[Int])].collect().toSet
    assert(got === Set((1L, "a", "x", None), (2L, "b", "y", Some(7))))
  }

  test("filter pushdown and column pruning reach the indexed scan") {
    val t = tmp("fm_push") + "/t"
    PS.write(spark, t,
      (1 to 100).map(i => (i.toLong, s"p${i % 4}", s"v$i"))
        .toDF("k", "d", "v"), "d", store)
    val df = PS.read(spark, t, store).filter(col("k") === 42L)
      .select("k", "v")
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.relation.location.isInstanceOf[graft.plans.GraftFileIndex])
    assert(scan.metadata("PushedFilters").contains("EqualTo(k,42)"))
    assert(scan.requiredSchema.fieldNames.toSet === Set("k", "v"))
    assert(df.as[(Long, String)].collect().toSet === Set((42L, "v42")))
  }

  test("pre-feature version (no sidecars) falls back to the listing " +
      "path and the next commit upgrades the table") {
    val t = tmp("fm_legacy") + "/t"
    val v1 = PS.write(spark, t,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "d", "v"), "d",
      store)
    // simulate a pre-feature commit: drop its sidecars
    store.delete(f"$t/_snapshots/v$v1%05d/filemeta")
    store.delete(f"$t/_snapshots/v$v1%05d/data_schema")
    val legacy = PS.readVersion(spark, t, v1, store)
    assert(graftIndexOf(legacy).isEmpty, "expected the listing path")
    assert(legacy.count() === 2)
    // next commit lists once (lazy upgrade)… but v1 stays the owner of
    // its untouched partition, and v1 has no data_schema — so the READ
    // still falls back (owner schema missing) while versionFiles is
    // fully recorded
    val v2 = PS.upsert(spark, t, Seq((2L, "b", "y2")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    assert(PS.fileManifest(t, v2, store).isDefined)
    val afterUpgrade = PS.readVersion(spark, t, v2, store)
    assert(graftIndexOf(afterUpgrade).isEmpty,
      "owner v1 lacks data_schema — must decline the fast path")
    assert(afterUpgrade.as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "x"), (2L, "b", "y2")))
    // a full rewrite re-owns every partition → fully indexed again
    PS.write(spark, t, PS.read(spark, t, store), "d", store)
    val rebuilt = PS.read(spark, t, store)
    assert(graftIndexOf(rebuilt).isDefined)
    assert(rebuilt.count() === 2)
  }

  test("optimistic commits record file manifests (including the " +
      "bare-owner shape) and vacuum keeps what they reference") {
    val t = tmp("fm_opt") + "/t"
    PS.write(spark, t, Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("k", "d", "v"), "d", store)
    val v = PS.upsert(spark, t,
      Seq((3L, "c", "z")).toDF("k", "d", "v"), Seq("k"), "d",
      store = store)
    val fast = PS.readVersion(spark, t, v, store)
    assert(graftIndexOf(fast).isDefined)
    assert(fast.count() === 3)
    PS.vacuum(t, keep = 1, store = store)
    val after = PS.read(spark, t, store)
    assert(graftIndexOf(after).isDefined)
    assert(after.count() === 3)
  }

  test("indexPlanMeta backfills a pre-feature table: owners gain " +
      "schemas, versions gain filemeta, plans turn fast") {
    val t = tmp("fm_backfill") + "/t"
    val v1 = PS.write(spark, t,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "d", "v"), "d",
      store)
    val v2 = PS.upsert(spark, t, Seq((3L, "c", "z")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    // simulate a fully pre-feature table
    Seq(v1, v2).foreach { v =>
      store.delete(f"$t/_snapshots/v$v%05d/filemeta")
      store.delete(f"$t/_snapshots/v$v%05d/data_schema")
    }
    assert(graftIndexOf(PS.read(spark, t, store)).isEmpty)
    val wrote = PS.indexPlanMeta(spark, t, store)
    assert(wrote === Seq(v1, v2))
    // idempotent
    assert(PS.indexPlanMeta(spark, t, store).isEmpty)
    val fast = PS.read(spark, t, store)
    assert(graftIndexOf(fast).isDefined)
    assert(fast.as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
    // the pinned old version is indexed too
    assert(graftIndexOf(PS.readVersion(spark, t, v1, store)).isDefined)
  }

  test("SQL catalog SELECT plans from the metadata index with the " +
      "declared-schema overlay") {
    val root = tmp("fm_sql")
    val cat = "fmsnap"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    PS.write(spark, s"$root/t",
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "d", "v"), "d",
      store)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN note STRING")
    val df = spark.sql(s"SELECT k, v, note FROM $cat.t")
    val locs = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => s
    }
    assert(locs.nonEmpty, "expected a DSv2 scan")
    val got = df.as[(Long, String, Option[String])].collect().toSet
    assert(got === Set((1L, "x", None), (2L, "y", None)))
    // the v2 scan's file listing came from the metadata index
    val pqScan = locs.head.scan.asInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
    assert(pqScan.fileIndex.isInstanceOf[graft.plans.GraftFileIndex])
  }

  test("TORN sidecars degrade the read to the listing path — a " +
      "corrupt filemeta or data_schema makes planning slower, never " +
      "the table unreadable") {
    val t = s"${tmp("fm_torn")}/t"
    PS.write(spark, t, Seq((1L, "A", "a"), (2L, "B", "b"),
      (3L, "C", "c")).toDF("k", "d", "v"), "d", store)
    // simulate a crashed half-write: truncated filemeta content
    store.write(f"$t/_snapshots/v00001/filemeta",
      "half\twritten".getBytes("UTF-8"))
    assert(PS.fileManifest(t, 1L, store).isEmpty,
      "torn filemeta must parse as absent")
    assert(PS.planMeta(t, 1L, store).isEmpty,
      "planMeta must decline, not throw")
    assert(PS.read(spark, t, store).count() == 3,
      "the read must fall back to the listing path")
    // and a torn owner schema: the backfill restores the filemeta
    // (idempotent on the torn one), then corrupt data_schema
    PS.indexPlanMeta(spark, t, store)
    assert(PS.fileManifest(t, 1L, store).nonEmpty)
    store.write(f"$t/_snapshots/v00001/data_schema",
      "{not valid json".getBytes("UTF-8"))
    assert(PS.ownerSchema(t, 1L, store).isEmpty)
    assert(PS.planMeta(t, 1L, store).isEmpty)
    assert(PS.read(spark, t, store).count() == 3)
  }

  test("an INCOMPLETE-but-parseable filemeta fails the manifest " +
      "cross-check everywhere: versionFiles serves the full listing " +
      "(a paced bootstrap must never pin a short list), planMeta " +
      "declines") {
    val t = s"${tmp("fm_short")}/t"
    PS.write(spark, t, Seq((1L, "A", "a"), (2L, "B", "b"),
      (3L, "C", "c")).toDF("k", "d", "v"), "d", store)
    val full = PS.versionFiles(t, 1L, store)
    assert(full.size == 3)
    // drop one partition's rows from the record (simulating an
    // under-reported commit-time listing or a writer bug)
    val recorded = new String(
      store.read(f"$t/_snapshots/v00001/filemeta").get, "UTF-8")
    val short = recorded.split('\n').filterNot(_.startsWith("__p=B"))
      .mkString("\n")
    store.write(f"$t/_snapshots/v00001/filemeta",
      short.getBytes("UTF-8"))
    assert(PS.fileManifest(t, 1L, store).get.size == 2,
      "the record itself parses")
    assert(PS.versionFiles(t, 1L, store) == full,
      "versionFiles must fall back to the complete listing")
    assert(PS.planMeta(t, 1L, store).isEmpty)
    assert(PS.read(spark, t, store).count() == 3)
  }

  test("indexPlanMeta REPAIR lists fresh, never carries a " +
      "pre-existing record: a within-partition-short predecessor " +
      "(the class the manifest cross-check cannot detect) must not " +
      "propagate into the repaired filemeta") {
    val t = s"${tmp("fm_repair")}/t"
    // several files per partition: round-robin repartition spreads
    // partition A's rows across tasks, one file per task per dir
    val df = Seq((1L, "A", "a1"), (2L, "A", "a2"), (3L, "A", "a3"),
      (4L, "A", "a4"), (5L, "B", "b1"), (6L, "B", "b2"))
      .toDF("k", "d", "v").repartition(4)
    val v1 = PS.write(spark, t, df, "d", store)
    val diskA = store.listEntries(f"$t/_snapshots/v$v1%05d/data/__p=A")
      .count(e => !e.isDir && e.name.endsWith(".parquet"))
    assert(diskA >= 2, s"need a multi-file partition, got $diskA")
    // tamper v1's filemeta WITHIN partition A: drop one of its file
    // lines — partition set and owners still agree, so the record
    // passes checkedFileManifest everywhere
    val fmPath = f"$t/_snapshots/v$v1%05d/filemeta"
    val lines = new String(store.read(fmPath).get, "UTF-8").split('\n')
    val dropped = lines.indexWhere(_.startsWith("__p=A"))
    store.write(fmPath, lines.zipWithIndex.collect {
      case (l, i) if i != dropped => l
    }.mkString("\n").getBytes("UTF-8"))
    assert(PS.planMeta(t, v1, store).isDefined,
      "the short record passes the cross-check (by design)")
    // v2 touches only B; its commit carries A's (short) refs forward
    val v2 = PS.upsert(spark, t, Seq((10L, "B", "b3"))
      .toDF("k", "d", "v"), Seq("k"), "d", store = store)
    val fm2Path = f"$t/_snapshots/v$v2%05d/filemeta"
    assert(PS.fileManifest(t, v2, store).get
      .count(_.part == "__p=A") == diskA - 1,
      "the commit carry propagates the short list (the repair's job)")
    // now make v2's record INCONSISTENT (whole partition missing) so
    // the repair triggers; the rewrite must come from fresh listings,
    // not from v1's short-but-checked record
    val l2 = new String(store.read(fm2Path).get, "UTF-8").split('\n')
    store.write(fm2Path, l2.filterNot(_.startsWith("__p=B"))
      .mkString("\n").getBytes("UTF-8"))
    assert(PS.indexPlanMeta(spark, t, store) === Seq(v2))
    assert(PS.fileManifest(t, v2, store).get
      .count(_.part == "__p=A") == diskA,
      "repair must re-list partition A in full")
    assert(PS.readVersion(spark, t, v2, store).count() == 7)
  }

  test("HUSK versions survive the backfill: a pre-horizon version " +
      "kept only as a data owner (vacuum reclaimed owners its own " +
      "manifest references) is skipped, never crashes indexPlanMeta, " +
      "and the current version stays fully indexed") {
    val t = s"${tmp("fm_husk")}/t"
    // v1 owns A+B; v2 rewrites A (refs B->1); v3 rewrites B
    // (refs A->2); v4 rewrites A (refs B->3). vacuum keep=1 retains
    // v4's manifest {A->4, B->3}: v1 and v2 are unreferenced and
    // reclaimed — v3 survives as B's owner but its own manifest
    // references the reclaimed v2, making it a HUSK
    PS.write(spark, t, Seq((1L, "A", "a"), (2L, "B", "b"))
      .toDF("k", "d", "v"), "d", store)
    PS.upsert(spark, t, Seq((1L, "A", "a2")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    PS.upsert(spark, t, Seq((2L, "B", "b2")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    PS.upsert(spark, t, Seq((1L, "A", "a3")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    assert(PS.vacuum(t, keep = 1, store).toSet == Set(1L, 2L))
    assert(PS.hasManifest(t, 3L, store), "v3 must survive as owner")
    // strip v3's sidecars so the backfill would have to INFER from
    // the reclaimed v2 dirs (the pre-fix crash path)
    store.delete(s"$t/_snapshots/v00003/filemeta")
    store.delete(s"$t/_snapshots/v00002/data_schema")
    store.delete(s"$t/_snapshots/v00003/data_schema")
    val wrote = PS.indexPlanMeta(spark, t, store)
    assert(!wrote.contains(3L), s"husk must be skipped, wrote $wrote")
    // v3 planMeta declines (owner schema gone) — the documented
    // vacuumed-version contract — while the CURRENT version, whose
    // owner v3 needs its data_schema restored, is re-indexed
    assert(PS.planMeta(t, 3L, store).isEmpty)
    assert(PS.planMeta(t, 4L, store).isDefined)
    assert(PS.read(spark, t, store).as[(Long, String, String)]
      .collect().toSet == Set((1L, "A", "a3"), (2L, "B", "b2")))
  }
}

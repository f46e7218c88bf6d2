package graft

import graft.operators.{CommitStore, Snapshots, PartitionedSnapshots => PS}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Manifest-commit MVCC at partition granularity: an upsert writes ONLY
  * its touched partitions, the manifest maps every live partition to its
  * owning version, and vacuum is ownership-driven (a pre-horizon version
  * whose partitions are still referenced survives) — the Delta/Iceberg
  * metadata-layer idea on plain parquet, for fact tables where
  * Snapshots' full-copy-per-version is unaffordable. */
class PartitionedSnapshotsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_psnap").resolve("t").toString

  private def rows(t: String): Set[(Long, String, String)] =
    PS.read(spark, t).select("k", "d", "v")
      .as[(Long, String, String)].collect().toSet

  test("a metadata-only writer waits out a held table lock: addColumn " +
      "started while another holder keeps the lock ~200 ms succeeds " +
      "once it is released") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "a")).toDF("k", "d", "v"), "d")
    // another writer's reservation or commit section holding the lock
    val tok = graft.operators.Incremental.acquire(t)
    val holder = new Thread(() => {
      Thread.sleep(200)
      graft.operators.Incremental.release(t, tok)
    })
    holder.start()
    PS.addColumn(spark, t, "note", org.apache.spark.sql.types.StringType)
    holder.join()
    assert(PS.tableProps(t)("schema").contains("\"note\""))
    assert(rows(t) == Set((1L, "A", "a")))
  }

  test("upsert writes ONLY the touched partitions; untouched manifest" +
      " entries carry over and pinned readers stay isolated") {
    val t = tmpTable()
    val v1 = PS.write(spark, t,
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"))
        .toDF("k", "d", "v"), "d")
    assert(v1 == 1L)
    // touch only partition 01-02: replace key 2, add key 3
    val v2 = PS.upsert(spark, t,
      Seq((2L, "2024-01-02", "B"), (3L, "2024-01-02", "c"))
        .toDF("k", "d", "v"), Seq("k"), "d")
    assert(v2 == 2L)
    assert(rows(t) == Set((1L, "2024-01-01", "a"),
      (2L, "2024-01-02", "B"), (3L, "2024-01-02", "c")))
    // v2's data dir holds ONLY the touched partition
    val store = CommitStore.local
    val v2parts = store.listEntries(s"$t/_snapshots/v00002/data")
      .filter(_.isDir).map(_.name)
    assert(v2parts == Seq("__p=2024-01-02"), v2parts.toString)
    // manifest: 01-01 still owned by v1, 01-02 moved to v2
    assert(PS.manifest(t, 2L) ==
      Map("__p=2024-01-01" -> 1L, "__p=2024-01-02" -> 2L))
    // pinned reader of v1 is untouched by the commit
    assert(PS.readVersion(spark, t, 1L).select("k", "v")
      .as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b"))
  }

  test("upsert CREATES a new partition; delete+insert replaces keys" +
      " within a partition") {
    val t = tmpTable()
    PS.write(spark, t,
      Seq((1L, "p1", "a")).toDF("k", "d", "v"), "d")
    PS.upsert(spark, t,
      Seq((9L, "p9", "new-part")).toDF("k", "d", "v"), Seq("k"), "d")
    PS.upsert(spark, t,
      Seq((1L, "p1", "A2")).toDF("k", "d", "v"), Seq("k"), "d")
    assert(rows(t) == Set((1L, "p1", "A2"), (9L, "p9", "new-part")))
    assert(PS.manifest(t, 3L) ==
      Map("__p=p1" -> 3L, "__p=p9" -> 2L))
  }

  test("vacuum is OWNERSHIP-driven: a pre-horizon version still" +
      " referenced by the current manifest survives; fully-superseded" +
      " versions and orphans go") {
    val t = tmpTable()
    // v1 owns P1+P2; v2 rewrites P2; v3 rewrites P2 again →
    // v2 is fully superseded, v1 still owns P1
    PS.write(spark, t, Seq((1L, "P1", "a"), (2L, "P2", "b"))
      .toDF("k", "d", "v"), "d")
    PS.upsert(spark, t, Seq((2L, "P2", "b2")).toDF("k", "d", "v"),
      Seq("k"), "d")
    PS.upsert(spark, t, Seq((2L, "P2", "b3")).toDF("k", "d", "v"),
      Seq("k"), "d")
    val dropped = PS.vacuum(t, keep = 1)
    assert(dropped == Seq(2L), s"dropped $dropped")
    assert(PS.versions(t) == Seq(1L, 3L))
    // data fully intact after reclamation
    assert(rows(t) == Set((1L, "P1", "a"), (2L, "P2", "b3")))
    // the vacuumed version is gone for time travel
    assertThrows[IllegalStateException](PS.readVersion(spark, t, 2L))
    // pinned v1 still readable (its dir was referenced, hence kept)
    assert(PS.readVersion(spark, t, 1L).count() == 2)
  }

  test("escaped and NULL partition values round-trip through the" +
      " manifest addressing") {
    val t = tmpTable()
    PS.write(spark, t,
      Seq((1L, Some("has space:colon"), "a"), (2L, Option.empty[String], "n"))
        .toDF("k", "d", "v"), "d")
    PS.upsert(spark, t,
      Seq((1L, Some("has space:colon"), "A"), (3L, Option.empty[String], "N"))
        .toDF("k", "d", "v"), Seq("k"), "d")
    val got = PS.read(spark, t).select("k", "d", "v")
      .as[(Long, Option[String], String)].collect().toSet
    assert(got == Set((1L, Some("has space:colon"), "A"),
      (2L, None, "n"), (3L, None, "N")))
  }

  test("crashed-writer orphan (data written, pointer never flipped) is" +
      " invisible and vacuumed; version numbering never collides") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "p", "a")).toDF("k", "d", "v"), "d")
    // simulate a crash: v2 data dir exists, no pointer flip
    Seq((9L, "p", "torn")).toDF("k", "d", "v")
      .withColumn("__p", col("d")).write.partitionBy("__p")
      .parquet(s"$t/_snapshots/v00002/data")
    assert(rows(t) == Set((1L, "p", "a")), "orphan must be invisible")
    // next commit skips past the orphan's number
    val v3 = PS.upsert(spark, t, Seq((2L, "p", "b")).toDF("k", "d", "v"),
      Seq("k"), "d")
    assert(v3 == 3L)
    assert(rows(t) == Set((1L, "p", "a"), (2L, "p", "b")))
    assert(PS.vacuum(t, keep = 10).contains(2L), "orphan reclaimed")
  }

  test("changes() is manifest-diff CDC: only partitions whose owner" +
      " changed are read; insert/update/delete tagged per key") {
    val t = tmpTable()
    PS.write(spark, t,
      Seq((1L, "P1", "a"), (2L, "P2", "b"), (3L, "P2", "c"))
        .toDF("k", "d", "v"), "d")
    // v2: touch only P2 — update key 2, delete nothing, insert key 4
    PS.upsert(spark, t,
      Seq((2L, "P2", "B"), (3L, "P2", "c"), (4L, "P2", "d"))
        .toDF("k", "d", "v"), Seq("k"), "d")
    val ch = PS.changes(spark, t, 1L, 2L, Seq("k"))
      .select("k", "v", "change_type")
      .as[(Long, String, String)].collect().toSet
    // key 1 lives in an UNCHANGED partition → never read, never tagged;
    // key 3 re-written identical → not an update (null-safe equality)
    assert(ch == Set((2L, "B", "update"), (4L, "d", "insert")))
    // identical manifests → zero changes without reading data
    assert(PS.changes(spark, t, 2L, 2L, Seq("k")).isEmpty)
  }

  test("streamCommit versions every micro-batch as a manifest commit") {
    val base = Files.createTempDirectory("graft_psnap_sc").toString
    val t = s"$base/t"; val in = s"$base/in"; val cp = s"$base/cp"
    Seq((1L, "p1", "a")).toDF("k", "d", "v").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def drain(): Unit = {
      val q = PS.streamCommit(spark,
        spark.readStream.schema(schema).parquet(in), t, Seq("k"), "d", cp,
        zoneMapCols = Seq("k"))
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    drain()
    Seq((1L, "p1", "A2"), (2L, "p2", "b")).toDF("k", "d", "v")
      .write.mode("append").parquet(in)
    drain()
    assert(rows(t).map(r => (r._1, r._3)) == Set((1L, "A2"), (2L, "b")))
    assert(PS.currentVersion(t).exists(_ >= 2L))
    // the zone map followed every commit: the CURRENT version is
    // indexed and a pruned point read skips the other partition's files
    val cur = PS.currentVersion(t).get
    assert(CommitStore.local.exists(
      f"$t/_snapshots/v$cur%05d/zonemap/_SUCCESS"),
      "stats stayed fresh under streaming ingestion")
    val hit = PS.readBetween(spark, t, "k", 2L, 2L)
    assert(hit.select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((2L, "b")))
    assert(hit.inputFiles.forall(_.contains("__p=p2")),
      "k=2 lives in p2 only; p1's files are pruned")
  }

  test("property: PartitionedSnapshots ≡ Snapshots over the same" +
      " upsert sequence (the manifest layout changes COST, never" +
      " CONTENT)") {
    val rnd = new scala.util.Random(42L)
    val tP = tmpTable(); val tS = tmpTable()
    (1 to 4).foreach { g =>
      val batch = (1 to 30).map { _ =>
        val k = rnd.nextInt(40).toLong
        (k, s"p${k % 5}", s"v$g-${rnd.nextInt(1000)}")
      }.toDF("k", "d", "v").dropDuplicates("k")
      if (g == 1) {
        PS.write(spark, tP, batch, "d")
        Snapshots.write(spark, tS, batch)
      } else {
        PS.upsert(spark, tP, batch, Seq("k"), "d")
        Snapshots.upsert(spark, tS, batch, Seq("k"))
      }
    }
    val got = PS.read(spark, tP).select("k", "d", "v")
      .as[(Long, String, String)].collect().toSet
    val want = Snapshots.read(spark, tS).select("k", "d", "v")
      .as[(Long, String, String)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
    // and every intermediate version agrees too (time travel parity)
    (1L to 4L).foreach { v =>
      val a = PS.readVersion(spark, tP, v).select("k", "v")
        .as[(Long, String)].collect().toSet
      val b = Snapshots.readVersion(spark, tS, v).select("k", "v")
        .as[(Long, String)].collect().toSet
      assert(a == b, s"version $v disagrees")
    }
  }

  test("registerView serves SQL consumers; a pinned view keeps its" +
      " version as commits land") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "p", "a")).toDF("k", "d", "v"), "d")
    assert(PS.registerView(spark, "ps_cur", t) == 1L)
    val pinned = PS.registerView(spark, "ps_pin", t, Some(1L))
    PS.upsert(spark, t, Seq((1L, "p", "A2")).toDF("k", "d", "v"),
      Seq("k"), "d")
    PS.registerView(spark, "ps_cur", t) // re-point to current
    assert(spark.sql("SELECT v FROM ps_cur").as[String].head() == "A2")
    assert(spark.sql("SELECT v FROM ps_pin").as[String].head() == "a")
    assert(pinned == 1L)
  }

  test("LIVE readers during a multi-generation rebuild see zero torn" +
      " state: pinned v1 and current-pointer polls stay consistent" +
      " while upserts rewrite partitions (manifest-commit isolation)") {
    val t = tmpTable()
    val n = 400
    def genDf(g: Int) = spark.range(n)
      .selectExpr("id AS k", s"concat('p', id % 4) AS d",
        s"CAST($g AS STRING) AS v")
    PS.write(spark, t, genDf(1), "d")
    val generations = 4
    val writerFailed =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val writer = new Thread(() => {
      try (2 to generations).foreach(g =>
        PS.upsert(spark, t, genDf(g), Seq("k"), "d"))
      catch { case e: Throwable => writerFailed.set(e) }
    })
    writer.start()
    val torn = scala.collection.mutable.ArrayBuffer.empty[String]
    var polls = 0
    while (writer.isAlive && torn.isEmpty) {
      val pinned = PS.readVersion(spark, t, 1L)
        .groupBy(col("v")).count().as[(String, Long)].collect().toMap
      if (pinned != Map("1" -> n.toLong))
        torn += s"pinned v1 saw $pinned"
      val cur = PS.read(spark, t)
        .groupBy(col("v")).count().as[(String, Long)].collect().toMap
      if (cur.size != 1 || cur.values.head != n.toLong)
        torn += s"current read saw mixed/partial $cur"
      polls += 1
    }
    writer.join(120000)
    assert(writerFailed.get() == null,
      s"writer failed: ${writerFailed.get()}")
    assert(torn.isEmpty, torn.mkString("; "))
    assert(polls > 0)
    assert(PS.read(spark, t).groupBy(col("v")).count()
      .as[(String, Long)].collect().toMap ==
      Map(generations.toString -> n.toLong))
  }

  test("compact coalesces fragmented partitions into ONE file as a new" +
      " version; compact partitions carry over and pinned readers are" +
      " untouched") {
    val t = tmpTable()
    val store = CommitStore.local
    // 8 rows written from 4 tasks → 4 files in partition F
    val v1 = PS.write(spark, t,
      Seq.tabulate(8)(i => (i.toLong, "F", s"f$i"))
        .toDF("k", "d", "v").repartition(4), "d")
    assert(v1 == 1L)
    // partition C arrives compact (single row, single file)
    val v2 = PS.upsert(spark, t,
      Seq((100L, "C", "c")).toDF("k", "d", "v"), Seq("k"), "d")
    def files(v: Long, p: String): Int =
      store.listEntries(f"$t/_snapshots/v$v%05d/data/__p=$p")
        .count(e => !e.isDir && e.name.endsWith(".parquet"))
    assert(files(1L, "F") >= 2, "precondition: F is fragmented")
    assert(files(2L, "C") == 1)
    val before = rows(t)
    val (v3, compacted) = PS.compact(spark, t, "d")
    assert(v3 == 3L && compacted == Seq("__p=F"),
      s"($v3, $compacted)")
    assert(files(3L, "F") == 1, "compacted to one file")
    assert(rows(t) == before, "row set is bit-identical")
    assert(PS.manifest(t, 3L) ==
      Map("__p=F" -> 3L, "__p=C" -> 2L),
      "compact partition C carried over without rewriting")
    // a reader pinned BEFORE the compaction keeps its immutable dirs
    assert(PS.readVersion(spark, t, 2L).count() == 9)
    // nothing fragmented left → no-op, no version burned
    assert(PS.compact(spark, t, "d") == ((3L, Seq.empty)))
    // maxRecordsPerFile caps the rewrite: 8 rows, 3-row cap →
    // ceil(8/3) = 3 files rolled inside the single task
    val t2 = tmpTable()
    PS.write(spark, t2,
      Seq.tabulate(8)(i => (i.toLong, "F", s"g$i"))
        .toDF("k", "d", "v").repartition(4), "d")
    val (v5, parts5) = PS.compact(spark, t2, "d", maxRecordsPerFile = 3)
    assert(parts5 == Seq("__p=F"), parts5.toString)
    assert(store.listEntries(f"$t2/_snapshots/v$v5%05d/data/__p=F")
      .count(e => !e.isDir && e.name.endsWith(".parquet")) == 3)
    assert(PS.read(spark, t2).count() == 8)
  }

  test("zone map prunes the FILE LIST before the scan plans; rebuild" +
      " after an upsert re-scans only newly-owned partitions") {
    val t = tmpTable()
    // 3 partitions, disjoint k ranges: P0=0-9, P1=10-19, P2=20-29
    PS.write(spark, t,
      Seq.tabulate(30)(i => (i.toLong, s"P${i / 10}", s"v$i"))
        .toDF("k", "d", "v"), "d")
    PS.buildZoneMap(spark, t, Seq("k"))
    val full = PS.read(spark, t)
    val pruned = PS.readBetween(spark, t, "k", 12L, 17L)
    assert(pruned.select("k", "d", "v").as[(Long, String, String)]
      .collect().toSet ==
      (12 to 17).map(i => (i.toLong, "P1", s"v$i")).toSet)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"pruned ${pruned.inputFiles.length} vs full " +
        s"${full.inputFiles.length} — P0/P2 files should be skipped")
    assert(pruned.inputFiles.forall(_.contains("__p=P1")),
      "only P1's files survive a [12,17] range")
    // incremental rebuild: the upsert touches ONLY P2; carried
    // partitions keep their v1 stat rows without re-reading data
    PS.upsert(spark, t,
      Seq((25L, "P2", "V25")).toDF("k", "d", "v"), Seq("k"), "d")
    PS.buildZoneMap(spark, t, Seq("k"))
    val idx = spark.read.parquet(s"$t/_snapshots/v00002/zonemap")
    assert(idx.filter(col("file").contains("/v00001/data/__p=P0/"))
      .count() > 0, "P0 stats carried from the v1 index")
    assert(idx.filter(col("file").contains("/v00002/data/__p=P2/"))
      .count() > 0, "P2 stats re-collected for its new owner")
    assert(PS.readBetween(spark, t, "k", 25L, 25L)
      .select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((25L, "V25")))
    // a range no file can hold: zero rows, schema intact, no scan
    val none = PS.readBetween(spark, t, "k", 1000L, 2000L)
    assert(none.count() == 0 && none.columns.contains("v"))
  }

  test("partition layout EVOLVES via a full-rebuild version: same rows" +
      " under the new layout, pinned readers keep the old one, vacuum" +
      " reclaims the superseded layout at horizon") {
    val t = tmpTable()
    // v1: partitioned by date; rows carry an orthogonal region column
    val v1 = PS.write(spark, t, Seq(
      (1L, "2024-01-01", "emea"), (2L, "2024-01-01", "apac"),
      (3L, "2024-01-02", "emea"), (4L, "2024-01-02", "amer"))
      .toDF("k", "d", "region"), "d")
    // re-layout by region: read current, rewrite as the NEXT version —
    // write() on an existing table is exactly the Iceberg
    // partition-evolution move (a metadata-committed full rebuild)
    val v2 = PS.write(spark, t, PS.read(spark, t), "region")
    assert(v2 == v1 + 1)
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "d", "region").as[(Long, String, String)]
        .collect().toSet
    assert(rowSet(PS.read(spark, t)) ==
      rowSet(PS.readVersion(spark, t, v1)), "content is layout-free")
    // the new layout's data dirs are region-named
    val store = CommitStore.local
    val v2parts = store.listEntries(s"$t/_snapshots/v%05d/data".format(v2))
      .filter(_.isDir).map(_.name).sorted
    assert(v2parts == Seq("__p=amer", "__p=apac", "__p=emea"),
      s"v2 layout: $v2parts")
    // pinned v1 reader keeps answering from the date layout
    assert(PS.readVersion(spark, t, v1).inputFiles
      .forall(_.contains("__p=2024-")), "v1 reads date-layout files")
    // vacuum at horizon 1 drops the date layout entirely
    assert(PS.vacuum(t, keep = 1) == Seq(v1))
    assert(rowSet(PS.read(spark, t)).size == 4)
  }

  test("bloom index: point lookups read only bloom-surviving files;" +
      " incremental rebuild carries untouched partitions' blooms") {
    val t = tmpTable()
    // 3 partitions × high-cardinality key: every partition's [min,max]
    // covers the probe, so a zone map would prune NOTHING here
    PS.write(spark, t,
      Seq.tabulate(30)(i => (i.toLong, s"P${i % 3}", s"v$i"))
        .toDF("k", "d", "v"), "d")
    PS.buildBloomIndex(spark, t, Seq("k"), expectedItemsPerFile = 1000)
    val full = PS.read(spark, t)
    val hit = PS.readEquals(spark, t, "k", Seq(14L))
    assert(hit.select("k", "d", "v").as[(Long, String, String)]
      .collect().toSeq == Seq((14L, "P2", "v14")))
    assert(hit.inputFiles.length < full.inputFiles.length,
      s"bloom prune must skip files: ${hit.inputFiles.length} vs " +
        s"${full.inputFiles.length}")
    // incremental rebuild: upsert touches ONLY P0; carried partitions
    // keep their v1 bloom rows without re-reading data
    PS.upsert(spark, t,
      Seq((0L, "P0", "V0")).toDF("k", "d", "v"), Seq("k"), "d")
    PS.buildBloomIndex(spark, t, Seq("k"), expectedItemsPerFile = 1000)
    val idx = spark.read.parquet(s"$t/_snapshots/v00002/bloomidx")
    assert(idx.filter(col("file").contains("/v00001/data/__p=P1/"))
      .count() > 0, "P1 blooms carried from the v1 index")
    assert(idx.filter(col("file").contains("/v00002/data/__p=P0/"))
      .count() > 0, "P0 blooms re-collected for its new owner")
    assert(PS.readEquals(spark, t, "k", Seq(0L))
      .select("v").as[String].collect().toSeq == Seq("V0"))
    // a pinned version keeps answering through its own immutable index
    assert(PS.readEquals(spark, t, "k", Seq(14L), version = Some(1L))
      .count() == 1)
  }

  test("MERGE INTO: conditional update + delete + insert in one commit," +
      " untouched partitions carry over, pinned readers see the old rows") {
    val t = tmpTable()
    PS.write(spark, t, Seq(
      (1L, "A", "keep"), (2L, "A", "update-me"), (3L, "A", "delete-me"),
      (4L, "B", "other-partition"))
      .toDF("k", "d", "v"), "d")
    // source addresses ONLY partition A: update k=2 (value from the
    // source), delete k=3 (flagged), insert k=9
    val src = Seq(
      (2L, "A", "updated", false), (3L, "A", "", true),
      (9L, "A", "inserted", false))
      .toDF("k", "d", "v", "del")
    val v2 = PS.merge(spark, t, src, Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v")),
      whenMatchedDelete = Some(PS.source("del")))
    assert(v2 == 2L)
    assert(rows(t) == Set((1L, "A", "keep"), (2L, "A", "updated"),
      (9L, "A", "inserted"), (4L, "B", "other-partition")))
    // partition B's manifest entry carried over (owner still v1)
    val m = PS.manifest(t, v2)
    assert(m("__p=B") == 1L && m("__p=A") == 2L, s"$m")
    // pinned reader still sees the pre-merge rows
    assert(PS.readVersion(spark, t, 1L).count() == 4)
    // update expressions can COMBINE both sides
    PS.merge(spark, t,
      Seq((2L, "A", "suffix", false)).toDF("k", "d", "v", "del"),
      Seq("k"), "d",
      whenMatchedUpdate = Map("v" ->
        concat(PS.target("v"), lit("+"), PS.source("v"))),
      insertNotMatched = false)
    assert(rows(t).contains((2L, "A", "updated+suffix")))
    // insertNotMatched=false drops unmatched source rows
    PS.merge(spark, t,
      Seq((99L, "A", "never", false)).toDF("k", "d", "v", "del"),
      Seq("k"), "d", insertNotMatched = false)
    assert(!rows(t).exists(_._1 == 99L))
  }

  test("MERGE delete: a NULL delete-condition means NOT deleted" +
      " (three-valued logic must not silently drop matched rows)") {
    val t = tmpTable()
    PS.write(spark, t, Seq(
      (1L, "A", "null-flag"), (2L, "A", "true-flag"), (3L, "A", "false-flag"))
      .toDF("k", "d", "v"), "d")
    val src = Seq(
      (1L, "A", "u1", None: Option[Boolean]),
      (2L, "A", "u2", Some(true)),
      (3L, "A", "u3", Some(false)))
      .toDF("k", "d", "v", "del")
    PS.merge(spark, t, src, Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v")),
      whenMatchedDelete = Some(PS.source("del")),
      insertNotMatched = false)
    // k=2 deleted; k=1 (NULL flag) and k=3 (false flag) updated, KEPT
    assert(rows(t) == Set((1L, "A", "u1"), (3L, "A", "u3")))
  }

  test("MERGE evolveSchema: a new source column lands (nulls for" +
      " pre-existing rows); history and untouched partitions stay green") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "a1"), (2L, "A", "a2"),
      (3L, "B", "b1")).toDF("k", "d", "v"), "d")
    val src = Seq((2L, "A", "a2-upd", "extra-2"),
      (9L, "A", "a9", "extra-9")).toDF("k", "d", "v", "note")
    // without the flag the new column is silently usable but not landed
    PS.merge(spark, t, src, Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v")))
    assert(!PS.read(spark, t).columns.contains("note"))
    // with the flag it lands: matched update + insert carry it, rows
    // the source never touched read null
    PS.merge(spark, t, src, Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v"),
        "note" -> PS.source("note")),
      evolveSchema = true)
    val got = PS.read(spark, t)
      .select("k", "v", "note")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(got == Set(
      (1L, "a1", None), (2L, "a2-upd", Some("extra-2")),
      (9L, "a9", Some("extra-9")), (3L, "b1", None)), s"$got")
    // untouched partition B: old footers, still readable via mergeSchema
    assert(PS.read(spark, t).filter(col("k") === 3L).count() == 1)
    // pinned history (pre-evolution versions) reads green
    assert(PS.readVersion(spark, t, 1L).columns.toSet ==
      Set("k", "d", "v"))
    assert(PS.readVersion(spark, t, 1L).count() == 3)
    // a FURTHER merge on the evolved table touching only the old-footer
    // partition still resolves the evolved column (null-filled)
    PS.merge(spark, t, Seq((3L, "B", "b1-upd", "extra-3"))
      .toDF("k", "d", "v", "note"), Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v"),
        "note" -> PS.source("note")))
    assert(PS.read(spark, t).filter(col("k") === 3L)
      .select("v", "note").as[(String, String)].head() ==
      (("b1-upd", "extra-3")))
  }

  test("readWhere intersects zone-map and bloom survivors: combined" +
      " range+equality predicates prune harder than either alone") {
    val t = tmpTable()
    // 4 partitions: k ranges disjoint per partition (zone-map friendly),
    // u high-cardinality across all partitions (bloom friendly)
    PS.write(spark, t,
      Seq.tabulate(40)(i => (i.toLong, s"u${i % 10}", s"P${i / 10}", s"v$i"))
        .toDF("k", "u", "d", "v"), "d")
    PS.buildZoneMap(spark, t, Seq("k"))
    PS.buildBloomIndex(spark, t, Seq("u"), expectedItemsPerFile = 100)
    val full = PS.read(spark, t)
    // range alone keeps P1; equality alone keeps every partition holding
    // u3; combined keeps their intersection
    val both = PS.readWhere(spark, t,
      ranges = Seq(("k", 10L, 19L)), equalities = Seq(("u", Seq("u3"))))
    assert(both.select("k", "u", "v").as[(Long, String, String)]
      .collect().toSet == Set((13L, "u3", "v13")))
    assert(both.inputFiles.length < full.inputFiles.length)
    val rangeOnly = PS.readWhere(spark, t, ranges = Seq(("k", 10L, 19L)))
    assert(rangeOnly.inputFiles.forall(_.contains("__p=P1")))
    assert(both.inputFiles.length <= rangeOnly.inputFiles.length)
    // absent matches: empty result, schema intact
    val none = PS.readWhere(spark, t,
      ranges = Seq(("k", 10L, 19L)), equalities = Seq(("u", Seq("zz"))))
    assert(none.count() == 0 && none.columns.contains("v"))
  }

  test("compact(clusterBy) makes zone-map pruning selective WITHIN a" +
      " partition: rolled files cover disjoint cluster-key ranges") {
    val t = tmpTable()
    // one partition, 30 rows, k interleaved across 5 writer tasks
    PS.write(spark, t,
      Seq.tabulate(30)(i => (((i * 7) % 30).toLong, "F", s"v$i"))
        .toDF("k", "d", "v").repartition(5), "d")
    val (v2, _) = PS.compact(spark, t, "d", maxRecordsPerFile = 10,
      clusterBy = Seq("k"))
    PS.buildZoneMap(spark, t, Seq("k"))
    val idx = spark.read.parquet(f"$t/_snapshots/v$v2%05d/zonemap")
    assert(idx.count() == 3, "30 rows / 10-row cap = 3 rolled files")
    val spans = idx.select("min__k", "max__k").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(spans == Seq((0L, 9L), (10L, 19L), (20L, 29L)),
      s"sorted roll → disjoint ranges, got $spans")
    val hit = PS.readBetween(spark, t, "k", 3L, 7L)
    assert(hit.inputFiles.length == 1,
      "a 5-key range lands in ONE of the three files")
    assert(hit.select("k").as[Long].collect().toSet == (3L to 7L).toSet)
  }

  test("upsert with a NEW column evolves the schema: old partitions read" +
      " as null, cross-schema merges keep old rows") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "a")).toDF("k", "d", "v"), "d")
    PS.upsert(spark, t,
      Seq((2L, "B", "b", 9L)).toDF("k", "d", "v", "extra"), Seq("k"), "d")
    assert(PS.read(spark, t).select("k", "v", "extra")
      .as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(9L))))
    // an upsert INTO the pre-evolution partition merges across the
    // schema gap: the old row survives with a null in the new column
    PS.upsert(spark, t,
      Seq((3L, "A", "c", 7L)).toDF("k", "d", "v", "extra"), Seq("k"), "d")
    assert(PS.read(spark, t).select("k", "v", "extra")
      .as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(9L)), (3L, "c", Some(7L))))
  }

  test("predicate delete rewrites ONLY partitions holding matches;" +
      " a fully-deleted partition leaves the manifest; pinned readers" +
      " keep the deleted rows until vacuum") {
    val t = tmpTable()
    PS.write(spark, t, Seq(
      (1L, "A", "a1"), (2L, "A", "drop-me"),
      (3L, "B", "b1"), (4L, "C", "drop-me"), (5L, "C", "drop-me"))
      .toDF("k", "d", "v"), "d")
    // one matching row in A: A rewrites, B and C carry over
    val v2 = PS.delete(spark, t, col("k") === 2L, "d")
    assert(v2 == 2L)
    assert(rows(t) == Set((1L, "A", "a1"), (3L, "B", "b1"),
      (4L, "C", "drop-me"), (5L, "C", "drop-me")))
    assert(PS.manifest(t, 2L) ==
      Map("__p=A" -> 2L, "__p=B" -> 1L, "__p=C" -> 1L))
    // MVCC: the pinned v1 reader still sees the deleted row
    assert(PS.readVersion(spark, t, 1L).count() == 5)
    // every row of C matches: its manifest entry disappears
    val v3 = PS.delete(spark, t, col("v") === "drop-me", "d")
    assert(v3 == 3L)
    assert(rows(t) == Set((1L, "A", "a1"), (3L, "B", "b1")))
    assert(PS.manifest(t, 3L) == Map("__p=A" -> 2L, "__p=B" -> 1L))
    // nothing matches: no version burned
    assert(PS.delete(spark, t, col("k") === 99L, "d") == 3L)
    assert(PS.currentVersion(t).contains(3L))
  }

  test("restore re-commits an old manifest with ZERO data movement;" +
      " ownership vacuum keeps the restored owners alive") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "good"), (2L, "B", "b"))
      .toDF("k", "d", "v"), "d")
    PS.upsert(spark, t, Seq((1L, "A", "fat-fingered"))
      .toDF("k", "d", "v"), Seq("k"), "d")
    assert(rows(t).contains((1L, "A", "fat-fingered")))
    val v3 = PS.restore(spark, t, 1L)
    assert(v3 == 3L)
    assert(rows(t) == Set((1L, "A", "good"), (2L, "B", "b")))
    // metadata-only: v3 owns NOTHING, it references v1's dirs
    assert(PS.manifest(t, 3L) == Map("__p=A" -> 1L, "__p=B" -> 1L))
    assert(!CommitStore.local.exists(s"$t/_snapshots/v00003/data"))
    // the undone v2 stays time-travelable until vacuumed
    assert(PS.readVersion(spark, t, 2L).count() == 2)
    // vacuum keeps v1 (owner of everything the current manifest needs),
    // drops the undone v2
    assert(PS.vacuum(t, keep = 1) == Seq(2L))
    assert(rows(t) == Set((1L, "A", "good"), (2L, "B", "b")))
    // history: newest first, ownership counts, all at-or-below
    // pointer, publish times recorded and ordered
    val h = PS.history(t)
    assert(h.map(c => (c.version, c.partitions, c.owned, c.committed))
      == Seq((3L, 2, 0, true), (1L, 2, 2, true)))
    assert(h.forall(_.publishedMs.isDefined) &&
      h(0).publishedMs.get >= h(1).publishedMs.get)
  }

  test("optimizeWrite lands each touched partition as ONE file" +
      " (fragmentation prevented at write time)") {
    val t = tmpTable()
    PS.write(spark, t, Seq((100L, "Z", "z")).toDF("k", "d", "v"), "d")
    PS.upsert(spark, t,
      Seq.tabulate(8)(i => (i.toLong, "F", s"f$i"))
        .toDF("k", "d", "v").repartition(4),
      Seq("k"), "d", optimizeWrite = true)
    assert(CommitStore.local
      .listEntries(s"$t/_snapshots/v00002/data/__p=F")
      .count(e => !e.isDir && e.name.endsWith(".parquet")) == 1)
    assert(PS.read(spark, t).count() == 9)
  }

  test("changes() spans a schema-evolution boundary: a row gaining a" +
      " non-null value in the new column registers as an update") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "a"), (2L, "B", "b"))
      .toDF("k", "d", "v"), "d")
    PS.upsert(spark, t,
      Seq((1L, "A", "a", 5L)).toDF("k", "d", "v", "extra"), Seq("k"), "d")
    val ch = PS.changes(spark, t, 1L, 2L, Seq("k"))
      .select(col("k"), col("change_type"), col("extra"))
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(ch == Seq((1L, "update", Some(5L))),
      s"untouched partition B never enters the diff; got $ch")
  }

  test("write-audit-publish: a staged version is invisible until" +
      " publish, audits read it directly, and abandoned stages vacuum" +
      " as orphans") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "a")).toDF("k", "d", "v"), "d")
    val staged = PS.stageUpsert(spark, t,
      Seq((2L, "B", "b")).toDF("k", "d", "v"), Seq("k"), "d")
    assert(staged == 2L)
    // readers stay on v1 while the audit runs
    assert(PS.currentVersion(t).contains(1L))
    assert(rows(t) == Set((1L, "A", "a")))
    assert(PS.readVersion(spark, t, staged).count() == 2,
      "the audit reads the staged version")
    PS.publish(t, staged)
    assert(PS.currentVersion(t).contains(2L))
    assert(rows(t) == Set((1L, "A", "a"), (2L, "B", "b")))
    // publish only moves forward (restore handles rollback)
    intercept[IllegalStateException](PS.publish(t, 1L))
    // a failed-audit stage is simply never published: vacuum reclaims
    // it as an above-pointer orphan
    val abandoned = PS.stageUpsert(spark, t,
      Seq((9L, "C", "bad-batch")).toDF("k", "d", "v"), Seq("k"), "d")
    assert(PS.vacuum(t, keep = 2) == Seq(abandoned))
    assert(rows(t) == Set((1L, "A", "a"), (2L, "B", "b")))
  }

  test("compact(zOrderBy) rolls files that are narrow in EVERY" +
      " dimension: each 4-row file covers one 2x2 quadrant of the grid") {
    val t = tmpTable()
    // 4x4 grid in one partition, deliberately scrambled across tasks
    val pts = (for { x <- 0 until 4; y <- 0 until 4 }
      yield ((x * 4 + y).toLong, "G", x.toLong, y.toLong))
    PS.write(spark, t,
      new scala.util.Random(3).shuffle(pts)
        .toDF("k", "d", "x", "y").repartition(4), "d")
    val (v2, parts) = PS.compact(spark, t, "d", maxRecordsPerFile = 4,
      zOrderBy = Seq("x", "y"))
    assert(parts == Seq("__p=G"))
    PS.buildZoneMap(spark, t, Seq("x", "y"))
    val idx = spark.read.parquet(f"$t/_snapshots/v$v2%05d/zonemap")
      .select(col("min__x"), col("max__x"), col("min__y"), col("max__y"))
      .as[(Long, Long, Long, Long)].collect()
    assert(idx.length == 4, s"16 rows / 4-row cap = 4 files, got ${idx.length}")
    idx.foreach { case (x0, x1, y0, y1) =>
      assert(x1 - x0 <= 1 && y1 - y0 <= 1,
        s"file spans x[$x0,$x1] y[$y0,$y1] — not a Morton quadrant")
    }
    assert(PS.read(spark, t).count() == 16)
  }

  test("TIMESTAMP AS OF: versions address by publish time; a restore" +
      " re-anchors the present while past instants keep their version") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "a")).toDF("k", "d", "v"), "d")
    val ts1 = PS.commitTimeMs(t, 1L).get
    Thread.sleep(20)
    PS.upsert(spark, t, Seq((2L, "B", "b")).toDF("k", "d", "v"),
      Seq("k"), "d")
    val ts2 = PS.commitTimeMs(t, 2L).get
    assert(ts1 <= ts2)
    assert(PS.versionAt(t, ts1).contains(1L))
    assert(PS.versionAt(t, ts2).contains(2L))
    assert(PS.versionAt(t, ts1 - 1).isEmpty,
      "before the first publish nothing is addressable")
    assert(PS.readAsOf(spark, t, ts1).count() == 1)
    assert(PS.readAsOf(spark, t, System.currentTimeMillis).count() == 2)
    Thread.sleep(20)
    PS.restore(spark, t, 1L)
    assert(PS.versionAt(t, System.currentTimeMillis).contains(3L),
      "the restore is the newest publish")
    assert(PS.readAsOf(spark, t, System.currentTimeMillis).count() == 1)
    assert(PS.versionAt(t, ts2).contains(2L),
      "the pre-restore instant still reads its own version")
  }

  test("property: the full lifecycle (upsert / optimizeWrite / delete /" +
      " compact / restore) tracks an in-memory model over a random op" +
      " sequence, and every historical version stays readable") {
    val rnd = new scala.util.Random(7L)
    val t = tmpTable()
    // model: key -> value; partition is a FIXED function of the key
    // (the partCol-immutability contract)
    def dOf(k: Long) = s"P${k % 4}"
    def df(m: Map[Long, String]) =
      m.toSeq.map { case (k, v) => (k, dOf(k), v) }.toDF("k", "d", "v")
    var model = Map(1L -> "init", 5L -> "init5")
    var committed = Vector.empty[(Long, Map[Long, String])]
    def snap(v: Long): Unit = { committed :+= (v -> model) }
    snap(PS.write(spark, t, df(model), "d"))
    (1 to 14).foreach { step =>
      rnd.nextInt(5) match {
        case 0 | 1 => // keyed upsert, sometimes optimized
          val batch = (1 to (1 + rnd.nextInt(3))).map(_ =>
            rnd.nextInt(12).toLong -> s"s$step").toMap
          model ++= batch
          snap(PS.upsert(spark, t, df(batch), Seq("k"), "d",
            optimizeWrite = rnd.nextBoolean()))
        case 2 => // predicate delete on the value column
          val victim = s"s${1 + rnd.nextInt(math.max(step - 1, 1))}"
          val before = model
          model = model.filterNot(_._2 == victim)
          val v = PS.delete(spark, t, col("v") === victim, "d")
          if (model != before) snap(v)
        case 3 => // maintenance: never changes content
          PS.compact(spark, t, "d") match {
            case (v, parts) if parts.nonEmpty => snap(v)
            case _ => ()
          }
        case 4 => // rollback/forward to any committed version
          val (v, state) = committed(rnd.nextInt(committed.size))
          model = state
          snap(PS.restore(spark, t, v))
      }
      assert(rows(t).map(r => r._1 -> r._3).toMap == model,
        s"divergence after step $step")
    }
    // every committed version still reads back as its recorded state
    committed.foreach { case (v, state) =>
      assert(PS.readVersion(spark, t, v).select("k", "v")
        .as[(Long, String)].collect().toMap == state,
        s"history broken at v$v")
    }
  }

  test("the whole flow runs through the HADOOP binding (store-agnostic" +
      " control plane)") {
    val store = CommitStore.hadoop()
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "x", "a"), (2L, "y", "b"))
      .toDF("k", "d", "v"), "d", store)
    PS.upsert(spark, t, Seq((2L, "y", "B")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    assert(PS.read(spark, t, store).select("k", "v")
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "B"))
    assert(PS.currentVersion(t, store).contains(2L))
    assert(PS.vacuum(t, keep = 1, store = store).isEmpty,
      "v1 still owns partition x — ownership vacuum keeps it")
    // the newer lifecycle ops run through the same seam: delete,
    // restore, WAP on t; compact + zone map on a fragmented t2
    PS.delete(spark, t, col("k") === 2L, "d", store)
    assert(PS.read(spark, t, store).count() == 1)
    PS.restore(spark, t, 2L, store)
    assert(PS.read(spark, t, store).count() == 2, "delete undone")
    val beforeStage = PS.currentVersion(t, store).get
    val staged = PS.stageUpsert(spark, t,
      Seq((99L, "z", "staged")).toDF("k", "d", "v"), Seq("k"), "d",
      store = store)
    assert(PS.currentVersion(t, store).contains(beforeStage),
      "staged version invisible through the hadoop binding too")
    PS.publish(t, staged, store)
    assert(PS.read(spark, t, store).select("k")
      .as[Long].collect().toSet == Set(1L, 2L, 99L))
    val t2 = tmpTable()
    PS.write(spark, t2,
      Seq.tabulate(6)(i => (10L + i, "x", s"f$i")).toDF("k", "d", "v")
        .repartition(3), "d", store)
    val (v2b, compacted) = PS.compact(spark, t2, "d", store = store)
    assert(compacted == Seq("__p=x"))
    PS.buildZoneMap(spark, t2, Seq("k"), store = store)
    assert(PS.readBetween(spark, t2, "k", 12L, 12L, store = store)
      .count() == 1 && v2b == 2L)
  }

  test("restore refuses versions ABOVE the pointer: a staged (or " +
      "crashed-writer orphan) version can only publish, never restore") {
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", "a")).toDF("k", "d", "v"), "d")
    val staged = PS.stageUpsert(spark, t,
      Seq((2L, "B", "b")).toDF("k", "d", "v"), Seq("k"), "d")
    val e = intercept[IllegalStateException](PS.restore(spark, t, staged))
    assert(e.getMessage.contains("staged or orphaned"), e.getMessage)
    assert(PS.currentVersion(t).contains(1L), "pointer untouched")
    // the staged version still publishes through its own protocol
    PS.publish(t, staged)
    assert(rows(t) == Set((1L, "A", "a"), (2L, "B", "b")))
  }

  test("restore routes through the constraint choke point: a CHECK " +
      "added after v refuses to resurrect violating rows (zero-copy " +
      "preserved — the refusal is a read-only validation scan)") {
    import graft.operators.Constraints
    val t = tmpTable()
    PS.write(spark, t, Seq((1L, "A", -5.0)).toDF("k", "d", "qty"), "d")
    PS.upsert(spark, t, Seq((1L, "A", 5.0)).toDF("k", "d", "qty"),
      Seq("k"), "d")
    Constraints.add(spark, t, "qty_pos", "qty > 0") // current v2 passes
    val e = intercept[IllegalStateException](PS.restore(spark, t, 1L))
    assert(e.getMessage.contains("qty_pos"), e.getMessage)
    assert(PS.currentVersion(t).contains(2L), "no version burned")
    Constraints.drop(t, "qty_pos")
    assert(PS.restore(spark, t, 1L) == 3L)
    assert(PS.read(spark, t).select("k", "qty").as[(Long, Double)]
      .collect().toSet == Set((1L, -5.0)))
  }

  test("empty-primed keyed version (manifest present, zero partitions)" +
      " is a first-class citizen: ALTER ADD COLUMN routes as " +
      "partitioned, constraints add vacuously, restore re-commits the " +
      "empty manifest") {
    import graft.operators.Constraints
    import org.apache.spark.sql.types.StringType
    val t = tmpTable()
    PS.initTable(t, "d", spark.range(0).select(col("id").as("k"),
      lit("").as("d"), lit("").as("v")).schema.json)
    // prime with an EMPTY batch: v1 commits with a present-but-empty
    // manifest — the case manifest-emptiness format detection misreads
    PS.upsert(spark, t, spark.range(0).select(col("id").as("k"),
      lit("x").as("d"), lit("y").as("v")), Seq("k"), "d")
    assert(PS.hasManifest(t, 1L) && PS.manifest(t, 1L).isEmpty)
    // pre-fix this routed to the full-copy reader, which scanned the
    // version dir's control files as parquet and failed
    PS.addColumn(spark, t, "extra", StringType)
    Constraints.add(spark, t, "k_nonneg", "k >= 0") // vacuous over v1
    PS.upsert(spark, t,
      Seq((7L, "x", "y", "e")).toDF("k", "d", "v", "extra"),
      Seq("k"), "d")
    assert(PS.read(spark, t).columns.toSet ==
      Set("k", "d", "v", "extra"))
    // CDC works ACROSS the empty version: empty→data is all inserts,
    // data→empty(restore) is all deletes (pre-fix both threw
    // 'no snapshot' and a pull consumer was told to reset)
    assert(PS.changes(spark, t, 1L, 2L, Seq("k"))
      .select("k", "change_type").as[(Long, String)].collect().toSeq ==
      Seq((7L, "insert")))
    // the zone-map builder treats the empty version as a no-op, not a
    // missing snapshot
    assert(PS.buildZoneMap(spark, t, Seq("k"), version = Some(1L)) == 1L)
    // rolling back to the empty primed version re-commits an empty
    // manifest (an empty table state is restorable like any other)
    val v3 = PS.restore(spark, t, 1L)
    assert(PS.hasManifest(t, v3) && PS.manifest(t, v3).isEmpty)
    assert(PS.currentVersion(t).contains(v3))
    assert(PS.changes(spark, t, 2L, v3, Seq("k"))
      .select("k", "change_type").as[(Long, String)].collect().toSeq ==
      Seq((7L, "delete")))
    // ...and the empty state READS: zero rows, declared schema
    assert(PS.read(spark, t).count() == 0)
    assert(PS.read(spark, t).columns.toSet == Set("k", "d", "v", "extra"))
    // the commit log shows every committed version, empty ones included
    assert(PS.history(t).map(c => (c.version, c.partitions)) ==
      Seq((3L, 0), (2L, 1), (1L, 0)))
  }

  test("write-audit-publish of an EMPTY first batch: stage, audit " +
      "zero rows, publish — the empty version is a first-class commit") {
    val t = tmpTable()
    PS.initTable(t, "d", spark.range(0).select(col("id").as("k"),
      lit("").as("d"), lit("").as("v")).schema.json)
    // a WAP pipeline's first batch legitimately carries zero rows
    val staged = PS.stageUpsert(spark, t,
      spark.emptyDataset[(Long, String, String)].toDF("k", "d", "v"),
      Seq("k"), "d")
    assert(PS.hasManifest(t, staged) && PS.manifest(t, staged).isEmpty)
    assert(PS.currentVersion(t).isEmpty, "staged stays invisible")
    PS.publish(t, staged) // pre-fix: refused as "never staged"
    assert(PS.currentVersion(t).contains(staged))
    assert(PS.read(spark, t).count() == 0)
    assert(PS.read(spark, t).columns.toSet == Set("k", "d", "v"))
  }
}

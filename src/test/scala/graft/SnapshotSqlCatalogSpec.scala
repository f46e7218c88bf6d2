package graft

import graft.operators.{PartitionedSnapshots => PS, Snapshots}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The DSv2 catalog plugin: snapshot tables addressable from plain SQL
  * with native VERSION AS OF / TIMESTAMP AS OF time travel, scans
  * staying native parquet (pushdown visible in the plan), both snapshot
  * formats resolved, and mutations refused (writes belong to the
  * operator APIs that carry the commit protocol). */
class SnapshotSqlCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root = {
    val r = Files.createTempDirectory("graft_sqlcat").toString
    spark.conf.set("spark.sql.catalog.snap",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.snap.root", r)
    r
  }

  test("current read, VERSION AS OF, TIMESTAMP AS OF, native scans") {
    val t = s"$root/sales"
    PS.write(spark, t, Seq((1L, "A", "a1"), (2L, "B", "b1"))
      .toDF("k", "d", "v"), "d")
    val ts1 = PS.commitTimeMs(t, 1L).get
    Thread.sleep(5)
    PS.upsert(spark, t, Seq((2L, "B", "b2"), (3L, "B", "b3"))
      .toDF("k", "d", "v"), Seq("k"), "d")

    def rows(sql: String) =
      spark.sql(sql).select("k", "v").as[(Long, String)].collect().toSet
    assert(rows("SELECT * FROM snap.sales") ==
      Set((1L, "a1"), (2L, "b2"), (3L, "b3")))
    assert(rows("SELECT * FROM snap.sales VERSION AS OF 1") ==
      Set((1L, "a1"), (2L, "b1")))
    val tsLit = new java.sql.Timestamp(ts1).toString
    assert(rows(s"SELECT * FROM snap.sales TIMESTAMP AS OF '$tsLit'") ==
      Set((1L, "a1"), (2L, "b1")))
    // native parquet scan with the filter pushed
    val plan = spark.sql("SELECT k FROM snap.sales WHERE k = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet") || plan.contains("BatchScan"),
      s"not a native parquet scan:\n$plan")
    assert("PushedFilters: \\[[^\\]]*k".r.findFirstIn(plan).isDefined,
      s"filter not pushed:\n$plan")
  }

  test("full-copy Snapshots tables resolve through the same catalog") {
    val t = s"$root/dim"
    Snapshots.write(spark, t, Seq((10L, "x")).toDF("id", "name"))
    Snapshots.upsert(spark, t, Seq((10L, "x2"), (11L, "y"))
      .toDF("id", "name"), Seq("id"))
    assert(spark.sql("SELECT * FROM snap.dim").count() == 2)
    assert(spark.sql("SELECT name FROM snap.dim VERSION AS OF 1")
      .as[String].collect().toSeq == Seq("x"))
  }

  test("full-copy tables take SQL INSERT and MERGE through the" +
      " version-copy commit protocol") {
    val t = s"$root/dim2"
    Snapshots.write(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    spark.sql("INSERT INTO snap.dim2 VALUES (3, 'c')")
    assert(Snapshots.currentVersion(t).contains(2L))
    assert(spark.sql("SELECT * FROM snap.dim2").count() == 3)
    Seq((2L, "B"), (4L, "d")).toDF("id", "name")
      .createOrReplaceTempView("dim2_src")
    spark.sql("""
      MERGE INTO snap.dim2 t USING dim2_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET name = s.name
      WHEN NOT MATCHED THEN INSERT *
    """)
    val got = spark.sql("SELECT id, name FROM snap.dim2")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")), s"$got")
    // history intact; pinned reads unaffected
    assert(spark.sql("SELECT * FROM snap.dim2 VERSION AS OF 1")
      .count() == 2)
    // UPDATE / DELETE rewrite the whole copy as new versions
    spark.sql("UPDATE snap.dim2 SET name = upper(name) WHERE id <= 2")
    assert(spark.sql("SELECT name FROM snap.dim2 ORDER BY id")
      .as[String].collect().toSeq == Seq("A", "B", "c", "d"))
    spark.sql("DELETE FROM snap.dim2 WHERE id = 4")
    assert(spark.sql("SELECT id FROM snap.dim2").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    spark.sql("INSERT OVERWRITE snap.dim2 VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM snap.dim2").count() == 1)
  }

  test("VERSION AS OF refuses staged-but-unpublished (WAP) versions" +
      " above the commit pointer") {
    val t = s"$root/wap"
    PS.write(spark, t, Seq((1L, "A", "v1")).toDF("k", "d", "v"), "d")
    // stage v2 WITHOUT publishing: the pointer still says v1, so SQL
    // time travel must not expose the un-audited data
    val staged = PS.stageUpsert(spark, t,
      Seq((2L, "A", "unaudited")).toDF("k", "d", "v"), Seq("k"), "d")
    assert(staged == 2L)
    assert(spark.sql("SELECT * FROM snap.wap").count() == 1)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM snap.wap VERSION AS OF 2").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    // after publish the same version resolves
    PS.publish(t, staged)
    assert(spark.sql("SELECT * FROM snap.wap VERSION AS OF 2")
      .count() == 2)
  }

  test("INSERT INTO / INSERT OVERWRITE route through the commit" +
      " protocol: versions advance, pinned readers unaffected") {
    val t = s"$root/ins"
    PS.write(spark, t, Seq((1L, "A", "a1"), (2L, "B", "b1"))
      .toDF("k", "d", "v"), "d")
    spark.sql("INSERT INTO snap.ins VALUES (3, 'A', 'a3'), (4, 'C', 'c4')")
    assert(PS.currentVersion(t).contains(2L))
    assert(spark.sql("SELECT * FROM snap.ins").count() == 4)
    // append = no key dedup: inserting an existing key ADDS a row
    spark.sql("INSERT INTO snap.ins VALUES (1, 'A', 'a1-dup')")
    assert(spark.sql("SELECT * FROM snap.ins WHERE k = 1").count() == 2)
    // untouched partition B carried over (owner still v1)
    assert(PS.manifest(t, 3L)("__p=B") == 1L)
    // pinned reader isolation across SQL writes
    assert(spark.sql("SELECT * FROM snap.ins VERSION AS OF 1").count() == 2)
    // INSERT OVERWRITE = full rebuild version; history intact
    spark.sql("INSERT OVERWRITE snap.ins VALUES (9, 'Z', 'z9')")
    assert(spark.sql("SELECT * FROM snap.ins").count() == 1)
    assert(spark.sql("SELECT * FROM snap.ins VERSION AS OF 3").count() == 5)
  }

  test("MERGE INTO lowers to the manifest-commit merge: conditional" +
      " update, delete, insert; SQL clause-order semantics") {
    val t = s"$root/mrg"
    PS.write(spark, t, Seq(
      (1L, "A", "keep", 10), (2L, "A", "update-me", 20),
      (3L, "A", "delete-me", 30), (4L, "B", "other", 40))
      .toDF("k", "d", "v", "amt"), "d")
    Seq((2L, "A", "updated", 21, false), (3L, "A", "x", 0, true),
      (9L, "A", "inserted", 90, false))
      .toDF("k", "d", "v", "amt", "del")
      .createOrReplaceTempView("mrg_src")
    spark.sql("""
      MERGE INTO snap.mrg t USING mrg_src s ON t.k = s.k
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v, amt = t.amt + s.amt
      WHEN NOT MATCHED THEN INSERT *
    """)
    assert(PS.currentVersion(t).contains(2L))
    val got = spark.sql("SELECT k, v, amt FROM snap.mrg")
      .as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "keep", 10), (2L, "updated", 41),
      (9L, "inserted", 90), (4L, "other", 40)), s"$got")
    // untouched partition carried; pinned reader sees pre-merge rows
    assert(PS.manifest(t, 2L)("__p=B") == 1L)
    assert(spark.sql("SELECT * FROM snap.mrg VERSION AS OF 1")
      .count() == 4)
    // conditional INSERT: only rows passing the guard insert
    Seq((20L, "A", "big", 100, false), (21L, "A", "small", 1, false))
      .toDF("k", "d", "v", "amt", "del")
      .createOrReplaceTempView("mrg_src2")
    spark.sql("""
      MERGE INTO snap.mrg t USING mrg_src2 s ON t.k = s.k
      WHEN NOT MATCHED AND s.amt > 50 THEN INSERT *
    """)
    assert(spark.sql("SELECT v FROM snap.mrg WHERE k >= 20")
      .as[String].collect().toSeq == Seq("big"))
    // unsupported shapes refuse loudly, not silently
    val e = intercept[Exception] {
      spark.sql("""
        MERGE INTO snap.mrg t USING mrg_src2 s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, d, v, amt) VALUES
          (s.k, s.d, upper(s.v), s.amt)
      """)
    }
    assert(e.getMessage.contains("INSERT *"), e.getMessage)
  }

  test("DELETE FROM / UPDATE rewrite only touched partitions through" +
      " the commit protocol; versions advance; pinned readers isolated") {
    val t = s"$root/dml"
    PS.write(spark, t, Seq(
      (1L, "A", "a1", 10), (2L, "A", "a2", 20),
      (3L, "B", "b1", 30), (4L, "B", "b2", 40))
      .toDF("k", "d", "v", "amt"), "d")
    // DELETE: only partition A holds matches -> B's owner carries over
    spark.sql("DELETE FROM snap.dml WHERE amt < 15")
    assert(PS.currentVersion(t).contains(2L))
    assert(spark.sql("SELECT k FROM snap.dml").as[Long]
      .collect().toSet == Set(2L, 3L, 4L))
    assert(PS.manifest(t, 2L)("__p=B") == 1L)
    // UPDATE with expression over the row; only partition B rewrites
    spark.sql("UPDATE snap.dml SET v = concat(v, '!'), amt = amt + 1" +
      " WHERE d = 'B' AND amt >= 40")
    assert(PS.currentVersion(t).contains(3L))
    val got = spark.sql("SELECT k, v, amt FROM snap.dml")
      .as[(Long, String, Int)].collect().toSet
    assert(got == Set((2L, "a2", 20), (3L, "b1", 30), (4L, "b2!", 41)),
      s"$got")
    assert(PS.manifest(t, 3L)("__p=A") == 2L, "A carried over")
    // pinned reader pre-DML
    assert(spark.sql("SELECT * FROM snap.dml VERSION AS OF 1")
      .count() == 4)
    // no-match UPDATE burns no version
    spark.sql("UPDATE snap.dml SET amt = 0 WHERE k = 999")
    assert(PS.currentVersion(t).contains(3L))
  }

  test("BETWEEN in an UPDATE condition and a MERGE clause condition " +
      "resolves and selects exactly its rows") {
    val t = s"$root/btw"
    PS.write(spark, t, (1L to 20L).map(k => (k, s"p${k % 4}", 0))
      .toDF("k", "d", "c"), "d")
    spark.sql("UPDATE snap.btw SET c = 1 WHERE k BETWEEN 1 AND 10")
    assert(spark.sql("SELECT k FROM snap.btw WHERE c = 1").as[Long]
      .collect().toSet == (1L to 10L).toSet)
    (1L to 20L).map(k => (k, s"p${k % 4}", 9)).toDF("k", "d", "c")
      .createOrReplaceTempView("btw_src")
    spark.sql("""
      MERGE INTO snap.btw t USING btw_src s ON t.k = s.k
      WHEN MATCHED AND t.k BETWEEN 1 AND 3 THEN UPDATE SET c = 2
    """)
    assert(spark.sql("SELECT c, count(*) FROM snap.btw GROUP BY c")
      .as[(Int, Long)].collect().toSet == Set((2, 3L), (1, 7L), (0, 10L)))
  }

  test("CREATE TABLE + first INSERT and CTAS establish v1 through the" +
      " commit protocol") {
    spark.sql("CREATE TABLE snap.created (k BIGINT, d STRING, v STRING)" +
      " PARTITIONED BY (d)")
    // declared-but-empty: reads as zero rows with the declared schema
    assert(spark.sql("SELECT * FROM snap.created").count() == 0)
    assert(spark.table("snap.created").columns.toSet ==
      Set("k", "d", "v"))
    spark.sql("INSERT INTO snap.created VALUES (1, 'A', 'a1')")
    assert(PS.currentVersion(s"$root/created").contains(1L))
    assert(spark.sql("SELECT v FROM snap.created").as[String]
      .collect().toSeq == Seq("a1"))
    // CTAS: create + write in one statement
    spark.sql("CREATE TABLE snap.ctas PARTITIONED BY (d) AS" +
      " SELECT k, v, d FROM snap.created")
    assert(spark.sql("SELECT * FROM snap.ctas").count() == 1)
    assert(PS.tableProps(s"$root/ctas").get("partCol").contains("d"))
    // duplicate create refuses
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE snap.created (x INT) PARTITIONED BY (x)")
    }
    assert(e.getMessage.toLowerCase.contains("exists"), e.getMessage)
  }

  test("MERGE WITH SCHEMA EVOLUTION lands a new source column via SQL") {
    val t = s"$root/evo"
    PS.write(spark, t, Seq((1L, "A", "v1"), (3L, "B", "v3"))
      .toDF("k", "d", "v"), "d")
    Seq((1L, "A", "v1u", "n1"), (2L, "A", "v2", "n2"))
      .toDF("k", "d", "v", "note").createOrReplaceTempView("evo_src")
    spark.sql("""
      MERGE WITH SCHEMA EVOLUTION INTO snap.evo t USING evo_src s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v, note = s.note
      WHEN NOT MATCHED THEN INSERT *
    """)
    val got = spark.sql("SELECT k, v, note FROM snap.evo")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(got == Set((1L, "v1u", Some("n1")), (2L, "v2", Some("n2")),
      (3L, "v3", None)), s"$got")
    // pre-evolution history still reads with its own schema
    assert(spark.sql("SELECT * FROM snap.evo VERSION AS OF 1")
      .columns.toSet == Set("k", "d", "v"))
  }

  test("CALL snap.system.*: history, compact, restore, vacuum, indexes" +
      " — the SQL maintenance console over the commit protocol") {
    val t = s"$root/maint"
    PS.write(spark, t, Seq.tabulate(8)(i =>
      (i.toLong, s"P${i % 2}", s"v$i")).toDF("k", "d", "v"), "d")
    // fragment partition P0 with two single-row upserts
    PS.upsert(spark, t, Seq((0L, "P0", "V0")).toDF("k", "d", "v"),
      Seq("k"), "d")
    PS.upsert(spark, t, Seq((2L, "P0", "V2")).toDF("k", "d", "v"),
      Seq("k"), "d")
    // history: newest first, versions committed
    val hist = spark.sql("CALL snap.system.history(table => 'maint')")
      .select("version", "committed").as[(Long, Boolean)].collect()
    assert(hist.map(_._1).toSeq == Seq(3L, 2L, 1L) &&
      hist.forall(_._2), hist.mkString(","))
    // compact rolls the fragmented partition as a new version
    val c = spark.sql(
      "CALL snap.system.compact(table => 'maint', min_files => 2)")
      .as[(Long, Int)].head()
    assert(c._1 == 4L && c._2 >= 1, s"$c")
    assert(PS.read(spark, t).count() == 8)
    // zone map + bloom index build by name
    spark.sql("CALL snap.system.build_zone_map(table => 'maint'," +
      " cols => 'k')")
    spark.sql("CALL snap.system.build_bloom_index(table => 'maint'," +
      " cols => 'v', expected_items_per_file => 100)")
    assert(PS.readBetween(spark, t, "k", 0L, 1L).count() == 2)
    // restore to v1 re-commits old owners with zero data movement
    val rv = spark.sql(
      "CALL snap.system.restore(table => 'maint', version => 1)")
      .as[Long].head()
    assert(rv == 5L && PS.read(spark, t)
      .filter(col("k") === 0L).select("v").as[String].head() == "v0")
    // vacuum reclaims unreferenced versions and reports them
    val deleted = spark.sql(
      "CALL snap.system.vacuum(table => 'maint', keep => 1)")
      .as[Long].collect().toSet
    assert(deleted.nonEmpty, "vacuum must reclaim superseded versions")
    assert(PS.read(spark, t).count() == 8)
  }

  test("SHOW TBLPROPERTIES surfaces the recorded layout and version") {
    val props = spark.sql("SHOW TBLPROPERTIES snap.maint")
      .as[(String, String)].collect().toMap
    assert(props.get("partCol").contains("d"), s"$props")
    assert(props.get("keys").contains("k"), s"$props")
    assert(props.get("format").contains("graft.partitioned-snapshots"))
    assert(props.contains("current_version"))
  }

  test("table_changes TVF: CDC between versions from plain SQL, keys " +
      "from the recorded layout, 2-arg form reads to current") {
    val t = s"$root/cdc"
    PS.write(spark, t, Seq((1L, "A", "a1"), (2L, "A", "b1"), (3L, "B", "c1"))
      .toDF("k", "d", "v"), "d")                       // v1
    PS.upsert(spark, t, Seq((2L, "A", "b2"), (4L, "B", "d1"))
      .toDF("k", "d", "v"), Seq("k"), "d")             // v2: update + insert
    PS.delete(spark, t, col("k") === 3L, "d")          // v3: delete
    val rows = spark.sql("SELECT k, v, change_type " +
        s"FROM table_changes('snap.cdc', 1, 3) ORDER BY k")
      .as[(Long, String, String)].collect().toSeq
    assert(rows == Seq((2L, "b2", "update"), (3L, "c1", "delete"),
      (4L, "d1", "insert")), s"$rows")
    // 2-arg form: to_version defaults to the commit pointer
    val twoArg = spark.sql(
      "SELECT k, change_type FROM table_changes('snap.cdc', 1)")
      .as[(Long, String)].collect().toSet
    assert(twoArg == Set((2L, "update"), (3L, "delete"), (4L, "insert")))
    // unchanged-partition rows never appear (k=1 untouched throughout)
    assert(!rows.exists(_._1 == 1L))
  }

  test("table_changes TVF trailing boolean: Delta-CDF image parity " +
      "from SQL") {
    val rows = spark.sql("SELECT k, v, change_type " +
        "FROM table_changes('snap.cdc', 1, 2, true) ORDER BY k, " +
        "change_type")
      .as[(Long, String, String)].collect().toSeq
    assert(rows == Seq((2L, "b2", "update_postimage"),
      (2L, "b1", "update_preimage"), (4L, "d1", "insert")), s"$rows")
  }

  test("table_changes TVF takes TIMESTAMP bounds via publish-time " +
      "time travel; SQL mirror procedure replicates to a target table") {
    val t = s"$root/cdcts"
    PS.write(spark, t, Seq((1L, "A", "a1")).toDF("k", "d", "v"), "d")
    val ts1 = PS.commitTimeMs(t, 1L).get
    Thread.sleep(5)
    PS.upsert(spark, t, Seq((2L, "A", "b1")).toDF("k", "d", "v"),
      Seq("k"), "d")
    val ts2 = PS.commitTimeMs(t, 2L).get
    val (l1, l2) = (new java.sql.Timestamp(ts1).toString,
      new java.sql.Timestamp(ts2).toString)
    val rows = spark.sql("SELECT k, change_type FROM table_changes(" +
        s"'snap.cdcts', TIMESTAMP '$l1', TIMESTAMP '$l2')")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((2L, "insert")), s"$rows")

    // a DATE bound would silently parse as a tiny version number —
    // refused with instructions instead
    val de = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('snap.cdcts', " +
        "DATE '2026-08-14', 2)").collect()
    }
    assert(de.getMessage.contains("DATE bounds are ambiguous"),
      de.getMessage)

    // pure-SQL replication: CALL mirror drains into a sibling table
    val applied = spark.sql("CALL snap.system.mirror(table => 'cdcts', " +
      "consumer => 'rep', target => 'cdcts_rep', part_col => 'd')")
      .as[(Boolean, Long, Long)].collect().toSeq
    assert(applied == Seq((true, 0L, 2L)), s"$applied")
    assert(spark.sql("SELECT COUNT(*) FROM snap.cdcts_rep")
      .as[Long].head == 2L)
    // caught up → zero result rows
    assert(spark.sql("CALL snap.system.mirror(table => 'cdcts', " +
      "consumer => 'rep', target => 'cdcts_rep', part_col => 'd')")
      .count() == 0L)
  }

  test("table_changes TVF: full-copy tables take explicit keys; " +
      "missing keys refuse with instructions") {
    val t = s"$root/cdcdim"
    Snapshots.write(spark, t, Seq((10L, "x")).toDF("id", "name"))
    Snapshots.upsert(spark, t, Seq((10L, "x2"), (11L, "y"))
      .toDF("id", "name"), Seq("id"))
    val rows = spark.sql("SELECT id, name, change_type FROM " +
        "table_changes('snap.cdcdim', 1, 2, 'id') ORDER BY id")
      .as[(Long, String, String)].collect().toSeq
    assert(rows == Seq((10L, "x2", "update"), (11L, "y", "insert")))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('snap.cdcdim', 1, 2)")
        .collect()
    }
    assert(e.getMessage.contains("records no key columns"), e.getMessage)
  }

  test("pure-SQL change-feed loop: feed_cursor -> table_changes -> " +
      "feed_commit -> feed_consumers") {
    val t = s"$root/feed"
    PS.write(spark, t, Seq((1L, "A", "a1"), (2L, "A", "b1"))
      .toDF("k", "d", "v"), "d")
    PS.upsert(spark, t, Seq((2L, "A", "b2"), (3L, "B", "c1"))
      .toDF("k", "d", "v"), Seq("k"), "d")

    val c0 = spark.sql(
      "CALL snap.system.feed_cursor(table => 'feed', consumer => 'idx')")
      .as[(String, Option[Long], Option[Long])].collect().head
    assert(c0 == (("idx", None, Some(2L))), s"$c0")

    // bootstrap from v1, drain to current, then commit the drained head
    val drained = spark.sql(
      "SELECT k, v, change_type FROM table_changes('snap.feed', 1, 2) " +
        "ORDER BY k")
      .as[(Long, String, String)].collect().toSeq
    assert(drained == Seq((2L, "b2", "update"), (3L, "c1", "insert")))
    spark.sql("CALL snap.system.feed_commit(table => 'feed', " +
      "consumer => 'idx', version => 2)").collect()

    val c1 = spark.sql(
      "CALL snap.system.feed_cursor(table => 'feed', consumer => 'idx')")
      .as[(String, Option[Long], Option[Long])].collect().head
    assert(c1 == (("idx", Some(2L), Some(2L))), "caught up")

    val consumers = spark.sql(
      "CALL snap.system.feed_consumers(table => 'feed')")
      .as[(String, Long)].collect().toSeq
    assert(consumers == Seq(("idx", 2L)))
  }

  test("CHECK constraints gate the SQL write path: add_constraint -> " +
      "INSERT refused -> show/drop -> INSERT passes") {
    val t = s"$root/ck"
    PS.write(spark, t, Seq((1L, "A", 5.0)).toDF("k", "d", "qty"), "d")
    spark.sql("CALL snap.system.add_constraint(table => 'ck', " +
      "name => 'qty_pos', expr => 'qty > 0')").collect()
    assert(spark.sql("CALL snap.system.show_constraints(table => 'ck')")
      .as[(String, String)].collect().toSeq ==
      Seq(("qty_pos", "qty > 0")))

    val e = intercept[Exception] {
      spark.sql("INSERT INTO snap.ck VALUES (2L, 'A', -3.0D)")
    }
    assert(e.getMessage.contains("qty_pos"), e.getMessage)
    assert(spark.sql("SELECT COUNT(*) FROM snap.ck").as[Long].head == 1L)

    spark.sql("INSERT INTO snap.ck VALUES (2L, 'A', 3.0D)")

    // the lowered MERGE INTO path enforces too
    Seq((1L, "A", -7.0)).toDF("k", "d", "qty")
      .createOrReplaceTempView("ck_src")
    val me = intercept[Exception] {
      spark.sql("MERGE INTO snap.ck t USING ck_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET qty = s.qty " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(me.getMessage.contains("qty_pos"), me.getMessage)

    spark.sql("CALL snap.system.drop_constraint(table => 'ck', " +
      "name => 'qty_pos')").collect()
    spark.sql("INSERT INTO snap.ck VALUES (3L, 'A', -3.0D)")
    assert(spark.sql("SELECT COUNT(*) FROM snap.ck").as[Long].head == 3L)
  }

  test("vacuum(respect_consumers => true) retains the slow consumer's " +
      "versions; reclaims after it catches up") {
    val t = s"$root/sv"
    PS.write(spark, t, Seq((1L, "A", "v1")).toDF("k", "d", "v"), "d")
    graft.operators.ChangeFeed.commit(t, "lag", 1L)
    (2 to 4).foreach(i => PS.upsert(spark, t,
      Seq((1L, "A", s"v$i")).toDF("k", "d", "v"), Seq("k"), "d"))
    assert(spark.sql("CALL snap.system.vacuum(table => 'sv', " +
      "keep => 1, respect_consumers => true)").count() == 0L,
      "slow consumer pins retention")
    graft.operators.ChangeFeed.commit(t, "lag", 4L)
    assert(spark.sql("CALL snap.system.vacuum(table => 'sv', " +
      "keep => 1, respect_consumers => true)").count() > 0L,
      "caught-up consumer unblocks reclamation")
  }

  test("generated columns from SQL: NULL input derives the value, " +
      "divergence refuses, show lists the definition") {
    val t = s"$root/gen"
    PS.write(spark, t, Seq((1L, "Alpha", "A")).toDF("k", "d", "m"), "m")
    spark.sql("CALL snap.system.add_generated_column(table => 'gen', " +
      "col => 'm', expr => 'substring(d, 1, 1)')").collect()
    assert(spark.sql(
      "CALL snap.system.show_generated_columns(table => 'gen')")
      .as[(String, String)].collect().toSeq ==
      Seq(("m", "substring(d, 1, 1)")))

    spark.sql(
      "INSERT INTO snap.gen VALUES (2L, 'Beta', CAST(NULL AS STRING))")
    assert(spark.sql("SELECT m FROM snap.gen WHERE k = 2")
      .as[String].head == "B")

    val e = intercept[Exception] {
      spark.sql("INSERT INTO snap.gen VALUES (3L, 'Cat', 'X')")
    }
    assert(e.getMessage.contains("diverging"), e.getMessage)
  }

  test("CALL snap.system.detail: one metadata-sized row with format, " +
      "layout, live file stats, and feature counts") {
    spark.sql("SELECT 1 FROM snap.cdc LIMIT 1").collect() // table exists
    val d = spark.sql("CALL snap.system.detail(table => 'cdc')")
      .collect().head
    assert(d.getString(0) == "graft.partitioned-snapshots")
    assert(d.getLong(1) >= 3L, "cdc saw three commits")
    assert(d.getInt(4) > 0 && d.getLong(5) > 0L, "live files counted")
    // full-copy tables report their format too
    val dim = spark.sql("CALL snap.system.detail(table => 'dim')")
      .collect().head
    assert(dim.getString(0) == "graft.snapshots")
    assert(dim.getInt(3) == 0, "full-copy has no manifest partitions")
  }

  test("listTables sees committed tables; RENAME stays refused") {
    spark.sql("SELECT 1").collect() // force catalog init via root
    val names = spark.sql("SHOW TABLES IN snap").select("tableName")
      .as[String].collect().toSet
    assert(names.contains("sales") && names.contains("dim"), s"$names")
    // DROP TABLE is supported (own test); RENAME would break every
    // recorded path reference and stays refused
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE snap.sales RENAME TO snap.sales2")
    }
    assert(e.getMessage.contains("read-only"), e.getMessage)
  }

  test("writeStream.toTable into a snapshot table: epochs commit as " +
      "versions through the operator protocol, restart across the " +
      "checkpoint is exactly-once, history readable via VERSION AS OF") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val t = s"$root/streamed" // touch root first: it registers the catalog
    val srcDir = Files.createTempDirectory("graft_stream_src").toString
    val cp = Files.createTempDirectory("graft_stream_cp").toString
    spark.sql("CREATE TABLE snap.streamed (k BIGINT, d STRING, v STRING) " +
      "PARTITIONED BY (d)")
    val srcSchema = StructType(Seq(StructField("k", LongType),
      StructField("d", StringType), StructField("v", StringType)))
    def writeJson(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def run(): Unit = {
      val q = spark.readStream.schema(srcSchema).json(srcDir)
        .writeStream.option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("snap.streamed")
      q.awaitTermination()
    }
    writeJson("a.json", Seq("""{"k":1,"d":"A","v":"a1"}""",
      """{"k":2,"d":"B","v":"b1"}"""))
    run()
    assert(spark.sql("SELECT k, v FROM snap.streamed")
      .as[(Long, String)].collect().toSet == Set((1L, "a1"), (2L, "b1")))

    // restart across the checkpoint: only the NEW file is processed —
    // were the first epoch re-applied, this keyless table would hold
    // duplicate k=1/k=2 rows
    writeJson("b.json", Seq("""{"k":3,"d":"A","v":"c1"}"""))
    run()
    assert(spark.sql("SELECT k, v FROM snap.streamed")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b1"), (3L, "c1")),
      "restart re-applied or dropped an epoch")

    // each epoch is a first-class version: the pre-restart state is
    // still addressable, and the commits carry streaming txn markers
    val cur = PS.currentVersion(t).get
    assert(spark.sql(s"SELECT k FROM snap.streamed VERSION AS OF ${cur - 1}")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(PS.commitTxn(t, cur).exists(_.matches(".+/\\d+")), 
      s"no txn marker on v$cur: ${PS.commitTxn(t, cur)}")
    // staging is cleaned after every committed epoch
    assert(PS.lastCommittedEpoch(t,
      PS.commitTxn(t, cur).get.split('/').head).nonEmpty)
  }

  test("streaming sink schema evolution: a restarted stream with a new" +
      " column widens a KEYED table (old rows read null, constraints " +
      "and generated columns preserved); evolveSchema=false and type " +
      "conflicts refuse at stream start") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val t = s"$root/evol" // touch root first: registers the catalog
    val srcDir = Files.createTempDirectory("graft_evol_src").toString
    val cp = Files.createTempDirectory("graft_evol_cp").toString
    // keyed table with a CHECK constraint and a generated column the
    // stream never supplies
    PS.upsert(spark, t, Seq((1L, "A", "a1")).toDF("k", "d", "v"),
      Seq("k"), "d")
    graft.operators.Constraints.add(spark, t, "k_pos", "k > 0")
    graft.operators.GeneratedColumns.add(spark, t, "v_up", "upper(v)")
    def writeJson(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def run(schema: StructType, opts: Map[String, String] = Map.empty)
        : Unit = {
      var w = spark.readStream.schema(schema).json(srcDir)
        .writeStream.option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      opts.foreach { case (k, v) => w = w.option(k, v) }
      w.toTable("snap.evol").awaitTermination()
    }
    val s1 = StructType(Seq(StructField("k", LongType),
      StructField("d", StringType), StructField("v", StringType)))
    writeJson("a.json", Seq("""{"k":2,"d":"A","v":"b1"}"""))
    run(s1)
    assert(spark.sql("SELECT k, v_up FROM snap.evol")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "A1"), (2L, "B1")), "generated column computes per epoch")

    // upstream adds a column; the restarted stream widens the table
    val s2 = StructType(s1.fields :+ StructField("extra", StringType))
    writeJson("b.json", Seq("""{"k":2,"d":"A","v":"b2","extra":"x"}"""))
    run(s2)
    assert(spark.sql("SELECT k, v, extra FROM snap.evol ORDER BY k")
      .as[(Long, String, Option[String])].collect().toSeq ==
      Seq((1L, "a1", None), (2L, "b2", Some("x"))),
      "keyed epoch upsert must widen; pre-existing rows read null")
    assert(spark.sql("SELECT k, v_up FROM snap.evol WHERE k = 2")
      .as[(Long, String)].head() == ((2L, "B2")),
      "generated column recomputed through the evolved epoch")
    // the CHECK constraint still gates post-evolution epochs
    writeJson("c.json", Seq("""{"k":-9,"d":"A","v":"bad","extra":"y"}"""))
    val ce = intercept[Exception] { run(s2) }
    assert(ce.getMessage != null && (ce.getMessage.contains("k_pos") ||
      ce.getCause != null && ce.getCause.getMessage.contains("k_pos")),
      s"constraint must survive evolution: ${ce.getMessage}")
    java.nio.file.Files.delete(java.nio.file.Paths.get(srcDir, "c.json"))

    // strict mode: a FRESH stream carrying yet another new column
    // refuses at start, naming it
    val s3 = StructType(s2.fields :+ StructField("extra2", StringType))
    writeJson("d.json",
      Seq("""{"k":3,"d":"A","v":"c1","extra":"x","extra2":"z"}"""))
    val cp2 = Files.createTempDirectory("graft_evol_cp2").toString
    val se = intercept[Exception] {
      var w = spark.readStream.schema(s3).json(srcDir)
        .writeStream.option("checkpointLocation", cp2)
        .option("evolveSchema", "false")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      w.toTable("snap.evol").awaitTermination()
    }
    def msgChain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgChain(se).contains("extra2") &&
      msgChain(se).contains("evolveSchema=false"), msgChain(se))

    // a TYPE conflict refuses at stream start regardless of the option
    val sBad = StructType(Seq(StructField("k", LongType),
      StructField("d", StringType), StructField("v", LongType)))
    val cp3 = Files.createTempDirectory("graft_evol_cp3").toString
    val te = intercept[Exception] {
      spark.readStream.schema(sBad).json(srcDir)
        .writeStream.option("checkpointLocation", cp3)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("snap.evol").awaitTermination()
    }
    assert(msgChain(te).contains("types conflict"), msgChain(te))
  }

  test("ALTER TABLE ADD COLUMN: old rows null, next INSERT carries it, " +
      "old versions readable, constraints preserved") {
    val t = s"$root/alt"
    PS.write(spark, t, Seq((1L, "A", 5.0)).toDF("k", "d", "qty"), "d")
    graft.operators.Constraints.add(spark, t, "qty_pos", "qty > 0")
    spark.sql("ALTER TABLE snap.alt ADD COLUMN note STRING")
    // existing committed rows surface the new column as null
    assert(spark.sql("SELECT k, note FROM snap.alt")
      .as[(Long, Option[String])].collect().toSeq == Seq((1L, None)))
    // the next INSERT lands the column through the commit protocol
    spark.sql("INSERT INTO snap.alt VALUES (2, 'A', 3.0, 'hello')")
    assert(spark.sql("SELECT k, note FROM snap.alt")
      .as[(Long, Option[String])].collect().toMap ==
      Map(1L -> None, 2L -> Some("hello")))
    // history green: the pre-ALTER version still reads
    assert(spark.sql("SELECT k FROM snap.alt VERSION AS OF 1")
      .as[Long].collect().toSeq == Seq(1L))
    // CHECK constraints survive the ALTER and still gate writes
    val ce = intercept[Exception] {
      spark.sql("INSERT INTO snap.alt VALUES (3, 'A', -1.0, 'bad')")
    }
    assert(ce.getMessage.contains("qty_pos"), ce.getMessage)
    // double-ALTER of the same column refuses
    val dup = intercept[Exception] {
      spark.sql("ALTER TABLE snap.alt ADD COLUMN note STRING")
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
  }

  test("DESCRIBE DETAIL on an empty-primed keyed table: format stays " +
      "partitioned and control files never count as data") {
    val t = s"$root/emptydetail"
    PS.initTable(t, "d", spark.range(0).select(col("id").as("k"),
      lit("").as("d")).schema.json)
    PS.upsert(spark, t,
      spark.range(0).select(col("id").as("k"), lit("x").as("d")),
      Seq("k"), "d")
    val r = spark.sql("CALL snap.system.detail(table => 'emptydetail')")
      .collect().head
    assert(r.getString(0) == "graft.partitioned-snapshots", r.toString)
    assert(r.getInt(4) == 0 && r.getLong(5) == 0L,
      s"control files counted as table data: $r")
  }

  test("CALL snap.system.txns surfaces streaming exactly-once marks " +
      "(metas ∪ the vacuum-preserved sidecar)") {
    val t = s"$root/txnsview"
    PS.write(spark, t, Seq((1L, "A", "a")).toDF("k", "d", "v"), "d",
      txn = Some("q-a/3"))
    PS.upsert(spark, t, Seq((1L, "A", "b")).toDF("k", "d", "v"),
      Seq("k"), "d")
    PS.upsert(spark, t, Seq((1L, "A", "c")).toDF("k", "d", "v"),
      Seq("k"), "d", txn = Some("q-b/7"))
    def txns() = spark.sql(
      "CALL snap.system.txns(table => 'txnsview')")
      .select("query_id", "epoch")
      .as[(String, Long)].collect().toSeq.sorted
    def preservedAt() = spark.sql(
      "CALL snap.system.txns(table => 'txnsview')")
      .select("query_id", "preserved_at_ms")
      .as[(String, Option[Long])].collect().toMap
    assert(txns() == Seq(("q-a", 3L), ("q-b", 7L)))
    assert(preservedAt().forall(_._2.isEmpty),
      "meta-borne marks carry no preservation time (not sweepable)")
    // vacuum reclaims q-a's version; its mark survives in the sidecar
    assert(PS.vacuum(t, keep = 1).nonEmpty)
    assert(txns() == Seq(("q-a", 3L), ("q-b", 7L)),
      "vacuum lost a query's high-water mark")
    // the preserved mark now shows its sidecar age (what a
    // txn_retain_ms sweep would measure); q-b stays meta-borne
    assert(preservedAt()("q-a").isDefined && preservedAt()("q-b").isEmpty,
      s"${preservedAt()}")
  }

  test("CALL snap.system.drop_txn retires a query's exactly-once mark " +
      "and the txns view reflects the drop; remaining_epoch reports a " +
      "mark still visible from retained metas") {
    val t = s"$root/txndrop"
    PS.write(spark, t, Seq((1L, "A", "a")).toDF("k", "d", "v"), "d",
      txn = Some("q-gone/3"))
    PS.upsert(spark, t, Seq((1L, "A", "b")).toDF("k", "d", "v"),
      Seq("k"), "d")
    PS.upsert(spark, t, Seq((1L, "A", "c")).toDF("k", "d", "v"),
      Seq("k"), "d", txn = Some("q-live/7"))
    // q-gone's version ages out; its mark survives only in the sidecar
    assert(PS.vacuum(t, keep = 1).nonEmpty)
    def txns() = spark.sql("CALL snap.system.txns(table => 'txndrop')")
      .select("query_id", "epoch")
      .as[(String, Long)].collect().toSeq.sorted
    assert(txns() == Seq(("q-gone", 3L), ("q-live", 7L)))

    // retire q-gone: sidecar existed, nothing left in retained metas →
    // remaining_epoch null, replay protection has actually ended
    val r = spark.sql("CALL snap.system.drop_txn(table => 'txndrop', " +
      "app_id => 'q-gone')").collect()(0)
    assert(r.getString(0) == "q-gone" && r.getBoolean(1), s"$r")
    assert(r.isNullAt(2), s"retired mark must leave nothing behind: $r")
    assert(txns() == Seq(("q-live", 7L)), "txns view must reflect the drop")
    assert(PS.lastCommittedEpoch(t, "q-gone").isEmpty,
      "a restarted q-gone now REPLAYS — the documented contract")

    // q-live's mark rides the CURRENT version's meta, not the sidecar:
    // drop_txn reports it still visible (remaining_epoch = 7)
    val r2 = spark.sql("CALL snap.system.drop_txn(table => 'txndrop', " +
      "app_id => 'q-live')").collect()(0)
    assert(!r2.getBoolean(1), s"no sidecar yet for q-live: $r2")
    assert(!r2.isNullAt(2) && r2.getLong(2) == 7L,
      s"meta-borne mark must surface as remaining_epoch: $r2")
    assert(PS.lastCommittedEpoch(t, "q-live").contains(7L))

    // vacuum with txn_retain_ms is addressable from SQL (fresh marks
    // survive; the age sweep path is pinned operator-level in
    // SnapshotStreamingWriteSpec)
    PS.upsert(spark, t, Seq((1L, "A", "d")).toDF("k", "d", "v"),
      Seq("k"), "d")
    spark.sql("CALL snap.system.vacuum(table => 'txndrop', keep => 1, " +
      "txn_retain_ms => 3600000)").collect()
    assert(txns() == Seq(("q-live", 7L)),
      "a fresh mark must survive an hour-scale retention sweep")

    // an explicit NULL retention is the omit/-1 never-sweep default,
    // NOT retention-0: getLong over a null slot reads 0, so without
    // the isNullAt guard this call would sweep the (previously
    // preserved, hence aged) q-live mark immediately
    spark.sql("CALL snap.system.vacuum(table => 'txndrop', keep => 1, " +
      "txn_retain_ms => NULL)").collect()
    assert(txns() == Seq(("q-live", 7L)),
      "txn_retain_ms => NULL must read as never-sweep, not 0 ms")
  }

  test("catalog-level store binding: spark.sql.catalog.<name>.store " +
      "routes the whole SQL surface (DDL/DML/time travel/CALL/" +
      "table_changes) through the named CommitStore; unknown bindings " +
      "refuse at first use") {
    root // register the base catalog confs first
    val hroot = Files.createTempDirectory("graft_snaph").toString
    spark.conf.set("spark.sql.catalog.snaph",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.snaph.root", hroot)
    spark.conf.set("spark.sql.catalog.snaph.store", "hadoop")
    spark.sql("CREATE TABLE snaph.ht (k BIGINT, d STRING, v STRING) " +
      "PARTITIONED BY (d)")
    spark.sql("INSERT INTO snaph.ht VALUES (1, 'A', 'a1')")
    spark.sql("INSERT INTO snaph.ht VALUES (2, 'B', 'b1')")
    assert(spark.sql("SELECT k FROM snaph.ht")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.sql("SELECT k FROM snaph.ht VERSION AS OF 1")
      .as[Long].collect().toSet == Set(1L))
    // control files were written through the hadoop binding (same
    // namespace as local on file:// — the routing is what's pinned)
    assert(graft.operators.CommitStore.hadoop()
      .exists(s"$hroot/ht/_current"))
    // procedures inherit the catalog's store
    assert(spark.sql("CALL snaph.system.history(table => 'ht')")
      .collect().length == 2)
    // the TVF resolves the catalog's store from the session conf
    assert(spark.sql(
      "SELECT change_type FROM table_changes('snaph.ht', 1, 2, 'k')")
      .as[String].collect().toSeq == Seq("insert"))
    // unknown binding: loud refusal at catalog initialization
    spark.conf.set("spark.sql.catalog.snapbad",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.snapbad.root", hroot)
    spark.conf.set("spark.sql.catalog.snapbad.store", "no-such-binding")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE snapbad.x (k BIGINT, d STRING) " +
        "PARTITIONED BY (d)")
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("unknown CommitStore binding"), chain)
  }

  test("ALTER TABLE DROP/RENAME/retype COLUMN refuse BY DESIGN with " +
      "the CTAS migration recipe in the error (documented refusal — " +
      "committed footers bind columns by name; see README)") {
    val t = s"$root/reshape"
    PS.write(spark, t, Seq((1L, "A", 5.0)).toDF("k", "d", "qty"), "d")
    def refusal(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql))
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    }
    val drop = refusal("ALTER TABLE snap.reshape DROP COLUMN qty")
    assert(drop.contains("DROP COLUMN qty") &&
      drop.contains("CREATE TABLE") && drop.contains("INSERT INTO") &&
      drop.contains("column mapping"), drop)
    val ren = refusal(
      "ALTER TABLE snap.reshape RENAME COLUMN qty TO amount")
    assert(ren.contains("RENAME COLUMN qty TO amount") &&
      ren.contains("`qty` AS `amount`"), ren)
    val retype = refusal(
      "ALTER TABLE snap.reshape ALTER COLUMN qty TYPE STRING")
    assert(retype.contains("TYPE string") && retype.contains("CAST"),
      retype)
    // the table is untouched by the refusals and the recipe's first
    // step works: a CTAS-shaped migration lands the reshape explicitly
    assert(spark.sql("SELECT qty FROM snap.reshape")
      .as[Double].collect().toSeq == Seq(5.0))
    spark.sql("CREATE TABLE snap.reshape_v2 " +
      "(k BIGINT, d STRING, amount DOUBLE) PARTITIONED BY (d)")
    spark.sql("INSERT INTO snap.reshape_v2 " +
      "SELECT k, d, qty AS amount FROM snap.reshape")
    assert(spark.sql("SELECT amount FROM snap.reshape_v2")
      .as[Double].collect().toSeq == Seq(5.0))
  }

  test("property: a random SQL DML sequence (INSERT/MERGE/UPDATE/" +
      "DELETE) leaves the table identical to the same logical ops " +
      "through the operator API on a twin table, at every step") {
    val rnd = new scala.util.Random(91L)
    val sqlT = s"$root/prop_sql"       // driven via snap.prop_sql DML
    val twin = s"$root/prop_twin"      // driven via the operator API
    val parts = Seq("A", "B", "C")
    def rows(n: Int): Seq[(Long, String, Long)] = (1 to n).map { _ =>
      val k = rnd.nextInt(15).toLong
      (k, parts((k % 3).toInt), rnd.nextInt(100).toLong)
    }
    def seed = Seq((1L, "B", 10L), (2L, "C", 20L), (3L, "A", 30L))
    PS.write(spark, sqlT, seed.toDF("k", "d", "v"), "d")
    PS.upsert(spark, sqlT, Seq.empty[(Long, String, Long)]
      .toDF("k", "d", "v"), Seq("k"), "d") // record keys for MERGE
    PS.write(spark, twin, seed.toDF("k", "d", "v"), "d")
    def values(rs: Seq[(Long, String, Long)]) =
      rs.map { case (k, d, v) => s"($k, '$d', $v)" }.mkString(", ")
    (1 to 14).foreach { i =>
      rnd.nextInt(4) match {
        case 0 => // append
          val r = rows(1 + rnd.nextInt(3))
          spark.sql(s"INSERT INTO snap.prop_sql VALUES ${values(r)}")
          PS.append(spark, twin, r.toDF("k", "d", "v"), "d")
        case 1 => // keyed merge (update matched, insert unmatched)
          val r = rows(1 + rnd.nextInt(3))
            .groupBy(_._1).map(_._2.head).toSeq // one row per key
          spark.sql("MERGE INTO snap.prop_sql t USING (SELECT " +
            "CAST(k AS BIGINT) AS k, d, CAST(v AS BIGINT) AS v FROM " +
            s"VALUES ${values(r)} AS x(k, d, v)) s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET v = s.v " +
            "WHEN NOT MATCHED THEN INSERT *")
          PS.merge(spark, twin, r.toDF("k", "d", "v"), Seq("k"), "d",
            whenMatchedUpdate = Map("v" -> PS.source("v")),
            insertNotMatched = true)
        case 2 => // predicate update
          val lo = rnd.nextInt(80).toLong
          spark.sql(s"UPDATE snap.prop_sql SET v = v + 1 WHERE v >= $lo")
          PS.updateWhere(spark, twin,
            Map("v" -> (col("v") + lit(1L))), col("v") >= lit(lo), "d")
        case 3 => // predicate delete
          val k = rnd.nextInt(15).toLong
          spark.sql(s"DELETE FROM snap.prop_sql WHERE k = $k")
          PS.delete(spark, twin, col("k") === lit(k), "d")
      }
      assert(TestSpark.rows(PS.read(spark, sqlT).select("k", "d", "v")) ==
        TestSpark.rows(PS.read(spark, twin).select("k", "d", "v")),
        s"SQL front door diverged from the operator API after op $i")
    }
  }

  test("fully streaming snapshot-to-snapshot pipeline: graft-changes " +
      "source -> transform -> toTable sink, keyed epochs upsert, " +
      "exactly-once across restarts, every epoch a version") {
    val srcT = s"$root/pipe_src"
    val dstT = s"$root/pipe_dst"
    val cp = Files.createTempDirectory("graft_pipe_cp").toString
    PS.write(spark, srcT, Seq((1L, "A", "a1"), (2L, "B", "b1"))
      .toDF("k", "d", "v"), "d")
    // declare the derived table, then record a KEYED layout (empty
    // keyed upsert) so streamed epochs upsert — an update replaces its
    // key instead of appending
    spark.sql("CREATE TABLE snap.pipe_dst (k BIGINT, d STRING, " +
      "v_up STRING) PARTITIONED BY (d)")
    PS.upsert(spark, dstT,
      Seq.empty[(Long, String, String)].toDF("k", "d", "v_up"),
      Seq("k"), "d")
    def run(): Unit = {
      val q = graft.operators.ChangeFeed.readStream(spark, srcT)
        .filter(col("change_type") =!= "delete")
        .select(col("k"), col("d"), upper(col("v")).as("v_up"))
        .writeStream.option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("snap.pipe_dst")
      q.awaitTermination()
    }
    run() // bootstrap: snapshot-as-inserts flows through the transform
    def state() = spark.sql("SELECT k, v_up FROM snap.pipe_dst")
      .as[(Long, String)].collect().toMap
    assert(state() == Map(1L -> "A1", 2L -> "B1"))
    val vAfterBoot = PS.currentVersion(dstT).get

    // source evolves; a restarted run drains exactly the new CDC rows
    PS.upsert(spark, srcT, Seq((2L, "B", "b2"), (3L, "A", "c1"))
      .toDF("k", "d", "v"), Seq("k"), "d")
    run()
    assert(state() == Map(1L -> "A1", 2L -> "B2", 3L -> "C1"),
      "update must REPLACE its key (keyed epoch upsert), insert must land")
    // each applied epoch is a first-class version: the pre-update
    // state is still addressable
    assert(spark.sql(
        s"SELECT k, v_up FROM snap.pipe_dst VERSION AS OF $vAfterBoot")
      .as[(Long, String)].collect().toMap ==
      Map(1L -> "A1", 2L -> "B1"))
    // caught-up re-run is a no-op: nothing duplicates, no version burns
    val vBefore = PS.currentVersion(dstT).get
    run()
    assert(state() == Map(1L -> "A1", 2L -> "B2", 3L -> "C1"))
    assert(PS.currentVersion(dstT).get == vBefore,
      "an empty epoch must not burn a version")
  }

  test("streaming sink zoneMapCols option keeps the file-stats index " +
      "fresh per epoch (streamCommit parity)") {
    val t = s"$root/zm_stream"
    val srcDir = Files.createTempDirectory("graft_zm_src").toString
    val cp = Files.createTempDirectory("graft_zm_cp").toString
    spark.sql("CREATE TABLE snap.zm_stream (k BIGINT, d STRING) " +
      "PARTITIONED BY (d)")
    Files.write(java.nio.file.Paths.get(srcDir, "a.json"),
      Seq("""{"k":1,"d":"A"}""", """{"k":9,"d":"B"}""")
        .mkString("\n").getBytes("UTF-8"))
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.StringType))))
      .json(srcDir)
      .writeStream.option("checkpointLocation", cp)
      .option("zoneMapCols", "k")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("snap.zm_stream")
    q.awaitTermination()
    val cur = PS.currentVersion(t).get
    val idx = spark.read.parquet(f"$t/_snapshots/v$cur%05d/zonemap")
    assert(idx.count() > 0, "zone map should exist for the epoch's version")
    assert(idx.columns.contains("min__k") && idx.columns.contains("max__k"),
      idx.columns.mkString(","))
  }

  test("DROP TABLE: removes all versions and layout under the lock; " +
      "registered consumers gate the drop (PURGE overrides); " +
      "re-CREATE starts clean") {
    val t = s"$root/droppable"
    PS.write(spark, t, Seq((1L, "A", "x")).toDF("k", "d", "v"), "d")
    PS.upsert(spark, t, Seq((2L, "B", "y")).toDF("k", "d", "v"),
      Seq("k"), "d")
    // a registered consumer gates the plain drop
    graft.operators.ChangeFeed.poll(spark, t, "c1").foreach(b =>
      graft.operators.ChangeFeed.commit(t, "c1", b.toVersion))
    val gated = intercept[Exception] {
      spark.sql("DROP TABLE snap.droppable")
    }
    assert(gated.getMessage.contains("change-feed consumers"),
      gated.getMessage)
    assert(spark.sql("SELECT count(*) FROM snap.droppable")
      .as[Long].head() == 2L, "gated drop must leave the table intact")
    // PURGE overrides; everything is gone and the name is reusable
    spark.sql("DROP TABLE snap.droppable PURGE")
    val gone = intercept[Exception] {
      spark.sql("SELECT * FROM snap.droppable").collect()
    }
    assert(gone.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      gone.getMessage.contains("cannot be found"), gone.getMessage)
    spark.sql("CREATE TABLE snap.droppable (k BIGINT, d STRING) " +
      "PARTITIONED BY (d)")
    spark.sql("INSERT INTO snap.droppable VALUES (9, 'Z')")
    assert(spark.sql("SELECT k FROM snap.droppable")
      .as[Long].collect().toSeq == Seq(9L))
    // consumer-free tables drop without PURGE
    spark.sql("DROP TABLE snap.droppable")
    assert(!spark.catalog.tableExists("snap.droppable"))
  }

  test("CALL restore works on BOTH formats: full-copy dims roll back " +
      "as a new whole-copy version with linear history") {
    val t = s"$root/dimrestore"
    Snapshots.write(spark, t, Seq((1L, "x1")).toDF("id", "v"))   // v1
    Snapshots.write(spark, t, Seq((1L, "x2"), (2L, "y"))
      .toDF("id", "v"))                                          // v2
    val out = spark.sql(
      "CALL snap.system.restore('dimrestore', 1)").collect()
    assert(out.head.getLong(0) == 3L)
    assert(spark.sql("SELECT v FROM snap.dimrestore")
      .as[String].collect().toSeq == Seq("x1"))
    // history linear: the rolled-back state is still readable
    assert(spark.sql("SELECT count(*) FROM snap.dimrestore " +
      "VERSION AS OF 2").as[Long].head() == 2L)
  }

  test("version tags from SQL: CALL tag -> VERSION AS OF 'name' -> " +
      "tags listing -> drop_tag; unknown tag refuses") {
    val t = s"$root/tagged"
    PS.write(spark, t, Seq((1L, "A", "v1")).toDF("k", "d", "v"), "d")
    PS.upsert(spark, t, Seq((1L, "A", "v2")).toDF("k", "d", "v"),
      Seq("k"), "d")
    val tagged = spark.sql(
      "CALL snap.system.tag('tagged', 'golden', 1)").collect()
    assert(tagged.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("golden", 1L)))
    assert(spark.sql("SELECT v FROM snap.tagged VERSION AS OF 'golden'")
      .as[String].head() == "v1")
    assert(spark.sql("SELECT v FROM snap.tagged").as[String].head() == "v2")
    assert(spark.sql("CALL snap.system.tags('tagged')").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("golden", 1L)))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM snap.tagged VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.contains("cannot be found"), e.getMessage)
    assert(spark.sql("CALL snap.system.drop_tag('tagged', 'golden')")
      .collect().head.getBoolean(1))
    val gone = intercept[Exception] {
      spark.sql("SELECT * FROM snap.tagged VERSION AS OF 'golden'")
        .collect()
    }
    assert(gone.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      gone.getMessage.contains("cannot be found"), gone.getMessage)
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES manages CHECK constraints " +
      "and generated columns from SQL; free-form properties refused") {
    val t = s"$root/altprops"
    PS.write(spark, t, Seq((1L, "A", 5.0)).toDF("k", "d", "qty"), "d")
    // add a constraint from SQL; it gates the very next INSERT
    spark.sql("ALTER TABLE snap.altprops SET TBLPROPERTIES(" +
      "'constraint:qty_pos' = 'qty > 0')")
    val ce = intercept[Exception] {
      spark.sql("INSERT INTO snap.altprops VALUES (2, 'A', -1.0)")
    }
    assert(ce.getMessage.contains("qty_pos"), ce.getMessage)
    // recording validates CURRENT data: a violated expression refuses
    val bad = intercept[Exception] {
      spark.sql("ALTER TABLE snap.altprops SET TBLPROPERTIES(" +
        "'constraint:qty_big' = 'qty > 100')")
    }
    assert(bad.getMessage.contains("qty_big"), bad.getMessage)
    // UNSET drops it; the insert now lands
    spark.sql("ALTER TABLE snap.altprops UNSET TBLPROPERTIES(" +
      "'constraint:qty_pos')")
    spark.sql("INSERT INTO snap.altprops VALUES (2, 'A', -1.0)")
    assert(spark.sql("SELECT count(*) FROM snap.altprops")
      .as[Long].head() == 2L)
    // generated column from SQL: next write derives it
    spark.sql("ALTER TABLE snap.altprops SET TBLPROPERTIES(" +
      "'generated:qty2' = 'qty * 2')")
    spark.sql("INSERT INTO snap.altprops VALUES (3, 'B', 4.0)")
    assert(spark.sql("SELECT qty2 FROM snap.altprops WHERE k = 3")
      .as[Double].head() == 8.0)
    // free-form table properties are refused (they would collide with
    // the recorded layout keys)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE snap.altprops SET TBLPROPERTIES(" +
        "'team' = 'data-eng')")
    }
    assert(e.getMessage.contains("SET/UNSET TBLPROPERTIES"), e.getMessage)
  }

  test("ALTER TABLE refuses drops, renames, type changes; full-copy " +
      "and declared-empty tables take ADD COLUMN too") {
    // refusals on the partitioned table from the previous test
    for (bad <- Seq(
        "ALTER TABLE snap.alt DROP COLUMN note",
        "ALTER TABLE snap.alt RENAME COLUMN note TO memo",
        "ALTER TABLE snap.alt ALTER COLUMN qty TYPE STRING")) {
      val e = intercept[Exception] { spark.sql(bad) }
      assert(e.getMessage.contains("would reinterpret") ||
        e.getMessage.contains("not supported"), s"$bad -> ${e.getMessage}")
    }
    // full-copy format
    val td = s"$root/altdim"
    Snapshots.write(spark, td, Seq((1L, "x")).toDF("id", "name"))
    spark.sql("ALTER TABLE snap.altdim ADD COLUMN tier INT")
    spark.sql("INSERT INTO snap.altdim VALUES (2, 'y', 7)")
    assert(spark.sql("SELECT id, tier FROM snap.altdim")
      .as[(Long, Option[Int])].collect().toMap ==
      Map(1L -> None, 2L -> Some(7)))
    // declared-but-empty table: ALTER before the first INSERT
    spark.sql("CREATE TABLE snap.altnew (k BIGINT, d STRING) " +
      "PARTITIONED BY (d)")
    spark.sql("ALTER TABLE snap.altnew ADD COLUMN v DOUBLE")
    spark.sql("INSERT INTO snap.altnew VALUES (1, 'A', 2.5)")
    assert(spark.sql("SELECT k, v FROM snap.altnew")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 2.5)))
  }
}

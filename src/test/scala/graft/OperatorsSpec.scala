package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)

  test("keepLatest keeps greatest recency with deterministic tiebreak") {
    val df = Seq(
      ("k1", ts("2024-01-01 00:00:00"), 1L, "old"),
      ("k1", ts("2024-01-02 00:00:00"), 2L, "new"),
      ("k1", ts("2024-01-02 00:00:00"), 3L, "tie-high"),
      ("k2", ts("2024-01-01 00:00:00"), 4L, "only")
    ).toDF("k", "t", "seq", "v")
    val out = Dedup.keepLatest(df, Seq("k"), col("t"), Seq(col("seq")))
      .select("k", "v").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "tie-high", "k2" -> "only"))
  }

  test("keepLatest handles null keys as their own group") {
    val df = Seq(
      (Option.empty[String], 1L, "a"),
      (Option.empty[String], 2L, "b"),
      (Some("k"), 1L, "c")
    ).toDF("k", "seq", "v")
    val out = Dedup.keepLatest(df, Seq("k"), col("seq"))
    assert(out.count() == 2)
    assert(out.filter(col("k").isNull).select("v").as[String].head() == "b")
  }

  test("dedup is idempotent: dedup(x union dup(x)) == dedup(x)") {
    val base = Seq(("a", 1L, "v1"), ("b", 2L, "v2")).toDF("k", "seq", "v")
    val withDups = base.union(base)
    val once = TestSpark.rows(Dedup.keepLatest(base, Seq("k"), col("seq")))
    val twice = TestSpark.rows(Dedup.keepLatest(withDups, Seq("k"), col("seq")))
    assert(once == twice)
  }

  test("exactDups reports multiplicity of duplicated tuples only") {
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2)).toDF("x", "y")
    val dups = Dedup.exactDups(df, Seq("x", "y")).as[(String, Int, Long)]
      .collect().toSet
    assert(dups == Set(("a", 1, 3L)))
  }
}

class SessionizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)

  test("events exactly at the gap stay in one session; beyond it split") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 00:30:00"), 2L), // exactly 1800s -> same session
      (1L, ts("2024-01-01 01:00:01"), 3L), // 1801s -> new session
      (2L, ts("2024-01-01 00:00:00"), 4L)
    ).toDF("user_id", "t", "event_id")
    val out = Sessionize.rollup(df, "user_id", "t", 1800, "event_id")
      .select("user_id", "session_idx", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L)))
  }

  test("duration is end minus start in exact micros") {
    val df = Seq((1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 00:10:00"), 2L)).toDF("user_id", "t", "event_id")
    val dur = Sessionize.rollup(df, "user_id", "t", 1800, "event_id")
      .select("duration_us").as[Long].head()
    assert(dur == 600000000L)
  }
}

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)
  def tmp() = Files.createTempDirectory("graft_inc").toString + "/t"

  test("upsert inserts new keys and replaces existing ones") {
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsert(path, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    inc.upsert(path, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val out = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("lateWindow filters source to >= max(ts) - lookback of target") {
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsert(path, Seq((1L, ts("2024-01-10 00:00:00"))).toDF("k", "t"),
      Seq("k"))
    val src = Seq(
      (10L, ts("2024-01-08 23:59:59")), // before 01-09 watermark -> dropped
      (11L, ts("2024-01-09 00:00:00")), // exactly at watermark -> kept (>=)
      (12L, ts("2024-01-11 00:00:00"))
    ).toDF("k", "t")
    val kept = inc.lateWindow(src, path, "t").select("k").as[Long]
      .collect().toSet
    assert(kept == Set(11L, 12L))
  }

  test("upsertPartitioned only rewrites touched partitions") {
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsertPartitioned(path,
      Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02")).toDF("k", "v", "d"),
      Seq("k"), "d")
    inc.upsertPartitioned(path,
      Seq((2L, "B", "2024-01-02"), (3L, "c", "2024-01-02")).toDF("k", "v", "d"),
      Seq("k"), "d")
    val out = spark.read.parquet(path).select("k", "v")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("change-driven pruning: a verbatim re-admitted batch rewrites" +
      " NOTHING; mixed batches rewrite only genuinely-changed partitions") {
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsertPartitioned(path,
      Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
        (3L, "c", "2024-01-02")).toDF("k", "v", "d"),
      Seq("k"), "d")
    def filesOf(part: String) = {
      val dir = java.nio.file.Paths.get(path, s"d=$part")
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    val p1Before = filesOf("2024-01-01")
    // pure re-admit (the sliver-slack case): identical rows, no rewrite
    inc.upsertPartitioned(path,
      Seq((1L, "a", "2024-01-01"), (3L, "c", "2024-01-02"))
        .toDF("k", "v", "d"), Seq("k"), "d")
    assert(filesOf("2024-01-01") == p1Before,
      "verbatim re-admit must not rewrite the partition")
    assert(filesOf("2024-01-02") == filesOf("2024-01-02"))
    // mixed batch: a verbatim row for 01-01, a real change for 01-02 —
    // only 01-02 rewrites, and 01-01 keeps ALL its rows (the verbatim
    // update row must not replace the partition with itself alone)
    val p2Before = filesOf("2024-01-02")
    inc.upsertPartitioned(path,
      Seq((1L, "a", "2024-01-01"), (3L, "C", "2024-01-02"))
        .toDF("k", "v", "d"), Seq("k"), "d")
    assert(filesOf("2024-01-01") == p1Before)
    assert(filesOf("2024-01-02") != p2Before)
    val out = spark.read.parquet(path).select("k", "v")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> "C"))
    // plain upsert: the no-op short circuit leaves the swap dir alone
    val flat = tmp()
    inc.upsert(flat, Seq((1L, "x")).toDF("k", "v"), Seq("k"))
    val m0 = Files.getLastModifiedTime(
      java.nio.file.Paths.get(flat)).toMillis
    Thread.sleep(20)
    inc.upsert(flat, Seq((1L, "x")).toDF("k", "v"), Seq("k"))
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(flat)).toMillis == m0,
      "identical upsert must skip the rewrite+swap")
    inc.upsert(flat, Seq((1L, "y")).toDF("k", "v"), Seq("k"))
    assert(spark.read.parquet(flat).select("v").as[String]
      .collect().toSeq == Seq("y"))
  }

  test("null-swap update is detected, not skipped as a no-op" +
      " (contentSig anchors null positions)") {
    // (k, a='x', b=null) -> (k, a=null, b='x'): a raw xxhash64 over the
    // columns is IDENTICAL for both rows (null children leave the hash
    // accumulator untouched), so count+hash-sum matched and the no-op
    // short circuit silently dropped the update (ADVICE r8 high)
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsert(path,
      Seq((1L, Option("x"), Option.empty[String])).toDF("k", "a", "b"),
      Seq("k"))
    inc.upsert(path,
      Seq((1L, Option.empty[String], Option("x"))).toDF("k", "a", "b"),
      Seq("k"))
    val row = spark.read.parquet(path)
      .select("k", "a", "b").as[(Long, Option[String], Option[String])]
      .collect().toSeq
    assert(row == Seq((1L, None, Some("x"))),
      "null-swap update must replace the row")
    // same class through the partition-granular change pruning
    val ppath = tmp()
    inc.upsertPartitioned(ppath,
      Seq((1L, Option("x"), Option.empty[String], "2024-01-01"))
        .toDF("k", "a", "b", "d"), Seq("k"), "d")
    inc.upsertPartitioned(ppath,
      Seq((1L, Option.empty[String], Option("x"), "2024-01-01"))
        .toDF("k", "a", "b", "d"), Seq("k"), "d")
    val prow = spark.read.parquet(ppath)
      .select("k", "a", "b").as[(Long, Option[String], Option[String])]
      .collect().toSeq
    assert(prow == Seq((1L, None, Some("x"))),
      "partition change pruning must see the null-swap as a change")
  }

  test("sliver advance() records the creation-time mark: a file landing" +
      " between materialize and advance never raises it past unprocessed" +
      " rows (slack = 0)") {
    val srcDir = Files.createTempDirectory("graft_sliver_src").toString
    val target = tmp()
    val inc = new Incremental(spark)
    def run(slack: String = "0 SECONDS") = {
      val s = inc.sliverWindow(spark.read.parquet(srcDir), target, "arr",
        slack)
      inc.upsert(target, s.df, Seq("k")); s
    }
    // run 0 bootstraps the sidecar
    Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "arr")
      .write.mode("append").parquet(srcDir)
    run().advance()
    // run 1: sliver created and materialized...
    Seq((2L, ts("2024-01-01 11:00:00"))).toDF("k", "arr")
      .write.mode("append").parquet(srcDir)
    val s1 = run()
    assert(s1.narrowed)
    // ...then a file lands BETWEEN the materialization and advance(),
    // spanning arrivals both below and at its max — the r8 verdict race.
    // A re-scanning advance() would record 12:00 and run 2 (slack=0)
    // would never admit the 11:30 row.
    Seq((3L, ts("2024-01-01 11:30:00")), (4L, ts("2024-01-01 12:00:00")))
      .toDF("k", "arr").write.mode("append").parquet(srcDir)
    spark.catalog.refreshByPath(srcDir) // force a re-listing source
    s1.advance()
    assert(inc.processedThrough(target, "arr")
      .contains(ts("2024-01-01 11:00:00")),
      "recorded mark must be run 1's creation-time max, not the late file's")
    run().advance()
    assert(spark.read.parquet(target).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L),
      "no row may be lost to the mid-run file with slack = 0")
  }

  test("sliver window-signature short circuit: an unchanged slack window" +
      " yields a PROVABLY EMPTY sliver (the day-3 floor); a late-listed" +
      " row inside the window restores the full re-admit") {
    val srcDir = Files.createTempDirectory("graft_sliver_sig").toString
    val target = tmp()
    val inc = new Incremental(spark)
    def sliver() = inc.sliverWindow(spark.read.parquet(srcDir), target,
      "arr", slack = "1 HOUR")
    // bootstrap: two rows, the newer inside what will be the re-admit
    // window of mark 11:00 (10:30 >= 11:00 - 1h)
    Seq((1L, ts("2024-01-01 10:30:00")), (2L, ts("2024-01-01 11:00:00")))
      .toDF("k", "arr").write.mode("append").parquet(srcDir)
    val s0 = sliver()
    inc.upsert(target, s0.df, Seq("k")); s0.advance()
    // steady-state re-run with NOTHING new: without the signature the
    // slack would re-admit rows 1-2 every run; with it the sliver is
    // provably empty
    val s1 = sliver()
    assert(s1.narrowed && s1.df.isEmpty,
      "unchanged window must short-circuit to an empty sliver")
    s1.advance() // no-op; sidecar stays current
    assert(sliver().df.isEmpty, "still empty after the no-op advance")
    // a row landing with an arrival INSIDE the already-processed window
    // (late listing — the exact case slack exists for) must break the
    // signature and be re-admitted
    Seq((3L, ts("2024-01-01 10:45:00"))).toDF("k", "arr")
      .write.mode("append").parquet(srcDir)
    spark.catalog.refreshByPath(srcDir)
    val s2 = sliver()
    assert(s2.df.select("k").as[Long].collect().toSet == Set(1L, 2L, 3L),
      "signature mismatch must restore the full slack re-admit")
    inc.upsert(target, s2.df, Seq("k")); s2.advance()
    assert(spark.read.parquet(target).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // and the system re-converges: nothing new -> empty again
    assert(sliver().df.isEmpty)
  }

  test("upsertPartitioned deletes a key's stale row in its OLD partition") {
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsertPartitioned(path,
      Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02")).toDF("k", "v", "d"),
      Seq("k"), "d")
    // key 1 moves partition 01 -> 03; its 01 row must not survive
    inc.upsertPartitioned(path,
      Seq((1L, "A", "2024-01-03")).toDF("k", "v", "d"), Seq("k"), "d")
    val rows = spark.read.parquet(path).select("k", "v", "d")
      .as[(Long, String, String)].collect().toSet
    assert(rows == Set((1L, "A", "2024-01-03"), (2L, "b", "2024-01-02")))
    // the emptied partition dir is gone, not left holding stale data
    assert(!Files.exists(
      java.nio.file.Paths.get(path, "d=2024-01-01")))
  }

  test("upsert evolves schema when a batch carries a NEW column" +
      " (append_new_columns)") {
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsert(path, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    // v2 batch carries an extra column: existing rows read it as null
    inc.upsert(path,
      Seq((2L, "B", "x"), (3L, "c", "y")).toDF("k", "v", "extra"), Seq("k"))
    val out = spark.read.parquet(path)
      .select("k", "v", "extra").as[(Long, String, Option[String])]
      .collect().toSet
    assert(out == Set((1L, "a", None), (2L, "B", Some("x")),
      (3L, "c", Some("y"))))
    // and a late v1 batch (missing the evolved column) still lands, with
    // null in the column it doesn't know about
    inc.upsert(path, Seq((4L, "d")).toDF("k", "v"), Seq("k"))
    val out2 = spark.read.parquet(path)
      .select("k", "extra").as[(Long, Option[String])].collect().toMap
    assert(out2 == Map(1L -> None, 2L -> Some("x"), 3L -> Some("y"),
      4L -> None))
  }

  test("upsertPartitioned evolves schema; mixed-footer target reads as" +
      " the union schema") {
    val path = tmp()
    val inc = new Incremental(spark)
    inc.upsertPartitioned(path,
      Seq((1L, "a", "2024-01-01")).toDF("k", "v", "d"), Seq("k"), "d")
    // new column arrives only in partition 02; partition 01's footers are
    // untouched (that's the point of partition-granular delete+insert)
    inc.upsertPartitioned(path,
      Seq((2L, "b", 7L, "2024-01-02")).toDF("k", "v", "n", "d"),
      Seq("k"), "d")
    val out = spark.read.option("mergeSchema", "true").parquet(path)
      .select("k", "v", "n", "d").as[(Long, String, Option[Long], String)]
      .collect().toSet
    assert(out == Set((1L, "a", None, "2024-01-01"),
      (2L, "b", Some(7L), "2024-01-02")))
    // a later upsert against the mixed-footer target must still work
    inc.upsertPartitioned(path,
      Seq((1L, "A", "2024-01-01")).toDF("k", "v", "d"), Seq("k"), "d")
    val v1 = spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col("k") === 1L).select("v").as[String].head()
    assert(v1 == "A")
  }

  test("upsertPartitioned cleans emptied partitions whose values need" +
      " path escaping") {
    val path = tmp()
    val inc = new Incremental(spark)
    // values with spaces/colons are escaped in dir names
    // (d=2024-01-01 10%3A00%3A00); a hand-built "d=$value" path would
    // miss them and the deleted key's stale rows would resurrect
    inc.upsertPartitioned(path,
      Seq((1L, "a", "2024-01-01 10:00:00"),
        (2L, "b", "2024-01-02 00:00:00")).toDF("k", "v", "d"),
      Seq("k"), "d")
    // key 1 moves partition; its old (escaped) dir must be dropped
    inc.upsertPartitioned(path,
      Seq((1L, "A", "2024-01-03 00:00:00")).toDF("k", "v", "d"),
      Seq("k"), "d")
    val rows = spark.read.parquet(path)
      .select(col("k"), col("d").cast("string")).as[(Long, String)]
      .collect().toSet
    assert(rows == Set((1L, "2024-01-03 00:00:00"),
      (2L, "2024-01-02 00:00:00")))
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(java.nio.file.Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("d=")).toSet
    assert(dirs.size == 2, s"stale partition dir left behind: $dirs")
  }

  test("late-data convergence: incremental arrival order == full refresh") {
    val inc = new Incremental(spark)
    val all = Seq((1L, ts("2024-01-01 00:00:00"), "v1"),
      (2L, ts("2024-01-01 06:00:00"), "v2"),
      (2L, ts("2024-01-01 06:00:00"), "v2-late"),
      (3L, ts("2024-01-02 00:00:00"), "v3"))
    val incPath = tmp()
    // arrival in shuffled order, one row per micro-batch
    Seq(3, 0, 2, 1).foreach { i =>
      val b = Seq(all(i)).toDF("k", "t", "v")
      inc.upsert(incPath, b, Seq("k"))
    }
    val fullPath = tmp()
    inc.upsert(fullPath,
      operators.Dedup.keepLatest(all.toDF("k", "t", "v"), Seq("k"),
        col("t"), Seq(col("v"))), Seq("k"))
    val a = spark.read.parquet(incPath).select("k").as[Long].collect().toSet
    val b = spark.read.parquet(fullPath).select("k").as[Long].collect().toSet
    assert(a == b)
  }
}

class RetentionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("retainDays drops exactly the partitions older than the cutoff," +
      " idempotently") {
    val path = Files.createTempDirectory("graft_ret").toString + "/t"
    Seq((1L, "2024-01-01"), (2L, "2024-01-05"), (3L, "2024-01-10"))
      .toDF("k", "d").write.partitionBy("d").parquet(path)
    val ret = new Retention(spark)
    val asOf = java.time.LocalDate.parse("2024-01-10")
    // cutoff = 2024-01-04: only the 01-01 partition is older
    val dropped = ret.retainDays(path, "d", 6, asOf)
    assert(dropped.size == 1 && dropped.head.endsWith("d=2024-01-01"),
      dropped.toString)
    val left = spark.read.parquet(path).select("k").as[Long].collect().toSet
    assert(left == Set(2L, 3L))
    // re-run: nothing else to drop
    assert(ret.retainDays(path, "d", 6, asOf).isEmpty)
    // missing table: no-op
    assert(ret.retainDays(path + "_nope", "d", 6, asOf).isEmpty)
  }

  test("freshness check is deterministic with an injected clock") {
    val df = Seq(Timestamp.valueOf("2024-01-10 00:00:00")).toDF("t")
    val now = () => Timestamp.valueOf("2024-01-10 01:00:00").getTime
    assert(operators.Quality.freshness(df, "t", 3600, now) == 0) // exactly 1h
    assert(operators.Quality.freshness(df, "t", 3599, now) == 1) // too old
  }
}

class BronzeAppendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("re-running the same partition appends nothing (idempotent)") {
    val path = Files.createTempDirectory("graft_bronze").toString + "/t"
    val b = new BronzeAppend(spark)
    val day1 = Seq((1L, "2024-01-01"), (2L, "2024-01-01")).toDF("k", "d")
    assert(b.appendNewPartitions(day1, path, "d") == 2)
    assert(b.appendNewPartitions(day1, path, "d") == 0) // re-run: no-op
    val day2 = day1.union(Seq((3L, "2024-01-02")).toDF("k", "d"))
    assert(b.appendNewPartitions(day2, path, "d") == 1) // only new partition
    assert(spark.read.parquet(path).count() == 3)
  }
}

class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compaction merges small files per partition, preserving rows") {
    val root = Files.createTempDirectory("graft_comp").toString + "/t"
    // write 4 separate appends -> many small files in one partition
    (1 to 4).foreach { i =>
      Seq((i.toLong, "2024-01-01")).toDF("k", "d")
        .write.mode("append").partitionBy("d").parquet(root)
    }
    val before = TestSpark.rows(spark.read.parquet(root))
    val compacted = new Compaction(spark).compact(root)
    assert(compacted.nonEmpty)
    val after = TestSpark.rows(spark.read.parquet(root))
    assert(before == after)
    val files = Files.walk(java.nio.file.Paths.get(root)).iterator()
    val parquets = scala.jdk.CollectionConverters.IteratorHasAsScala(files)
      .asScala.count(_.toString.endsWith(".parquet"))
    assert(parquets == 1)
  }

  test("cluster rewrites each partition sorted by the cluster key with" +
      " disjoint per-file ranges (row-group skipping shape)") {
    val root = Files.createTempDirectory("graft_cluster").toString
    // two unsorted chunks in one date partition
    (1 to 2).foreach { i =>
      spark.range(5000).select(
        (col("id") * 7919 % 5000).as("k"), col("id").as("payload"))
        .coalesce(1).write.mode("append").parquet(s"$root/d=2024-01-0$i")
    }
    val comp = new Compaction(spark, targetFileBytes = 8192)
    val done = comp.cluster(root, Seq("k"))
    assert(done.size == 2)
    import scala.jdk.CollectionConverters._
    val partFiles = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
      .filter(_.toString.contains("d=2024-01-01"))
    assert(partFiles.size > 1) // 4 KB target -> several output files
    // each file internally sorted; files cover disjoint key ranges
    val ranges = partFiles.map { f =>
      val ks = spark.read.parquet(f.toString).select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"file $f not sorted")
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ => ()
    }
    // content preserved
    assert(spark.read.parquet(s"$root/d=2024-01-01").count() == 5000)
  }
}

class ClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("min-label propagation finds components within the round budget") {
    // components: {1,2,3,4} (chain), {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a", "b")
    val got = Cluster.canonicalize(pairs, "a", "b", rounds = 3)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 1L, false), (10L, 10L, true), (11L, 10L, false)))
  }

  test("a long chain needs diameter rounds: 2 rounds leave it split," +
      " 5 rounds close it") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val two = Cluster.minLabelPropagation(chain, "a", "b", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(two(6L) != 1L) // label 1 cannot reach node 6 in 2 rounds
    val five = Cluster.minLabelPropagation(chain, "a", "b", rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(five(_) == 1L))
  }

  test("checkpointed (default) and cached-lineage propagation modes " +
      "produce identical labels — the per-round localCheckpoint is a " +
      "materialization strategy, never a semantics change") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 20L), (11L, 12L)).toDF("a", "b")
    def labelsOf(checkpoint: Boolean) =
      Cluster.minLabelPropagation(pairs, "a", "b", rounds = 3,
        checkpoint = checkpoint).as[(Long, Long)].collect().toSet
    assert(labelsOf(true) == labelsOf(false))
    def canon(checkpoint: Boolean) =
      Cluster.canonicalize(pairs, "a", "b", rounds = 3,
        checkpoint = checkpoint)
        .as[(Long, Long, Boolean)].collect().toSet
    assert(canon(true) == canon(false))
    spark.catalog.clearCache() // drop the cached-mode label cache
  }

  test("checkpointed propagation returns a CONSTANT-SIZE plan at any " +
      "round count (the 100x scale property); cached lineage grows " +
      "with rounds") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    def nodesAt(rounds: Int, checkpoint: Boolean): Int = {
      val df = Cluster.minLabelPropagation(pairs, "a", "b", rounds,
        checkpoint)
      val n = planNodes(df)
      df.unpersist()
      n
    }
    // checkpoint truncates each round to a leaf: the returned plan is
    // the SAME size after 2 rounds and after 6 — planning/AQE cost at
    // cluster scale is independent of iteration depth
    assert(nodesAt(2, checkpoint = true) == nodesAt(6, checkpoint = true))
    // the cached mode keeps full lineage: the round body references the
    // previous labels twice, so the tree grows (super)linearly in rounds
    assert(nodesAt(6, checkpoint = false) >
      2 * nodesAt(2, checkpoint = false),
      "cached-lineage plan growth is the cost the checkpoint removes")
    spark.catalog.clearCache()
  }

  test("reliable-checkpoint mode frees RETIRED rounds' files eagerly: " +
      "a k-round run leaves exactly the final round's rdd-* dir (the " +
      "ContextCleaner never deletes checkpoint files under the default " +
      "cleanCheckpoints=false)") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck")
      .toString
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      def rddDirs(): Seq[java.io.File] = {
        // setCheckpointDir nests a uuid dir under the given path
        def walk(f: java.io.File): Seq[java.io.File] =
          if (!f.isDirectory) Seq.empty
          else (if (f.getName.startsWith("rdd-")) Seq(f) else Seq.empty) ++
            Option(f.listFiles).toSeq.flatten.flatMap(walk)
        walk(new java.io.File(ckDir))
      }
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("a", "b")
      val labels = Cluster.minLabelPropagation(pairs, "a", "b", rounds = 4)
      // 5 materializations ran (init + 4 rounds); retired ones freed
      // in-loop, so only the final round's directory may remain
      assert(rddDirs().size == 1,
        s"leaked retired checkpoints: ${rddDirs()}")
      // the surviving dir backs the returned frame — still readable
      val got = labels.as[(Long, Long)].collect().toMap
      assert(got(4L) == 1L && got(11L) == 10L && got.size == 6)
      // connectedComponents (two checkpoints per round) frees both
      // retired frames per round: one more surviving dir, not 2/round
      val (cc, _) = Cluster.connectedComponents(pairs, "a", "b")
      assert(cc.count() == 6)
      assert(rddDirs().size == 2,
        s"cc leaked retired checkpoints: ${rddDirs()}")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("connectedComponents closes a 64-node path in O(log n) rounds" +
      " (pointer jumping), where fixed-round propagation needs diameter") {
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Cluster.connectedComponents(chain, "a", "b")
    val got = labels.as[(Long, Long)].collect().toMap
    labels.unpersist()
    assert((1L to 64L).forall(got(_) == 1L),
      s"path not fully labeled: ${got.filter(_._2 != 1L)}")
    // diameter 63; doubling radius must land well under it (log2 63 ~ 6,
    // plus the fixed-point confirmation round)
    assert(rounds <= 12, s"took $rounds rounds — jumping not effective")
  }

  test("connectedComponents keeps disjoint components separate and" +
      " matches a reference union-find on a mixed graph") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 31L), (31L, 32L))
      .toDF("a", "b")
    val (labels, _) = Cluster.connectedComponents(pairs, "a", "b")
    val got = labels.as[(Long, Long)].collect().toMap
    labels.unpersist()
    // reference union-find on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (21L, 22L), (22L, 20L), (30L, 31L), (31L, 32L)).foreach {
      case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = got.keys.map(n => n -> find(n)).toMap
    assert(got == expect, s"components diverge from union-find")
  }
}

/** SURVEY §2 S8-S10: schema (database) creation + create-table-as-select
  * with schema-from-query + append insert, over the session catalog. */
class CatalogDDLSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CREATE DATABASE + CTAS-shaped saveAsTable + append insert") {
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_test")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // S8: table created with the query's schema, no rows (WHERE 1=0 shape)
    df.filter(lit(false)).write.mode("overwrite")
      .saveAsTable("bronze_test.t")
    assert(spark.table("bronze_test.t").count() == 0)
    // S9: append insert
    df.write.mode("append").saveAsTable("bronze_test.t")
    df.write.mode("append").saveAsTable("bronze_test.t")
    assert(spark.table("bronze_test.t").count() == 4)
    // S10: database is listed, and INSERT INTO works via SQL too
    assert(spark.catalog.databaseExists("bronze_test"))
    spark.sql("INSERT INTO bronze_test.t VALUES (3, 'c')")
    assert(spark.table("bronze_test.t").count() == 5)
    spark.sql("DROP TABLE bronze_test.t")
    spark.sql("DROP DATABASE bronze_test")
  }
}

class QualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("notNull / unique / relationships / expressionIsTrue count violations") {
    val child = Seq((1L, Some(10L)), (2L, Some(99L)), (3L, None))
      .toDF("id", "fk")
    val parent = Seq(10L, 20L).toDF("pk")
    assert(Quality.notNull(child, "fk") == 1)
    assert(Quality.unique(child.union(child), Seq("id")) == 3)
    // a checked column literally named "count" must not collide with the
    // internal multiplicity column
    val named = Seq(1L, 1L, 2L).toDF("count")
    assert(Quality.unique(named, Seq("count")) == 1)
    assert(Quality.relationships(child, "fk", parent, "pk") == 1) // 99 orphan
    assert(Quality.expressionIsTrue(child, col("id") <= 2) == 1)
  }

  test("violations: one aggregate gives each predicate's own count; " +
      "checks sharing an evaluation run it once, in their own order") {
    val df = Seq((Some(1L), Some(-1L)), (None, Some(2L)), (Some(3L), None))
      .toDF("a", "b")
    assert(Quality.violations(df, Seq(
      "a.not_null" -> col("a").isNull,
      "b.ge_0" -> Quality.notTrue(col("b") >= 0))) == Seq(
      Quality.CheckResult("a.not_null", Quality.notNull(df, "a")),
      Quality.CheckResult("b.ge_0",
        Quality.expressionIsTrue(df, col("b") >= 0))))
    val evals = new java.util.concurrent.atomic.AtomicInteger
    val counts = () => { evals.incrementAndGet(); Seq(5L, 0L) }
    val checks: Seq[(String, () => Long)] = Seq(
      "x" -> new Quality.Shared(counts, 1),
      "plain" -> (() => 3L),
      "y" -> new Quality.Shared(counts, 0))
    Seq(1, 4).foreach { p =>
      evals.set(0)
      assert(Quality.run(checks, parallelism = p)
        .map(r => r.name -> r.violations) ==
        Seq("x" -> 0L, "plain" -> 3L, "y" -> 5L))
      assert(evals.get == 1, s"parallelism $p")
    }
  }

  test("run with failFast raises on violations, reports otherwise") {
    val df = Seq((1L, Option.empty[Long])).toDF("id", "fk")
    val checks = Seq("fk_not_null" -> (() => Quality.notNull(df, "fk")))
    val res = Quality.run(checks)
    assert(res.head.violations == 1 && !res.head.passed)
    assertThrows[IllegalStateException](Quality.run(checks, failFast = true))
  }

  test("parallel run rethrows a failing check's OWN exception type, " +
      "not the pool's ExecutionException wrapper") {
    final class BoomException(m: String) extends RuntimeException(m)
    val checks: Seq[(String, () => Long)] = Seq(
      "ok" -> (() => 0L),
      "boom" -> (() => throw new BoomException("check blew up")),
      "ok2" -> (() => 0L))
    // parallelism > 1 routes through the pool; callers catching the
    // check's own exception (the inline-path contract) must still see it
    val e = intercept[BoomException](Quality.run(checks, parallelism = 4))
    assert(e.getMessage == "check blew up")
  }
}

class HierarchySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("flatten resolves top ancestor and depth on a mixed forest") {
    // forest: 1 -> (2 -> (4, 5 -> 6), 3), 7 (isolated top)
    val nodes = Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 5L), (7L, 0L)).toDF("k", "parent")
    val out = Hierarchy.flatten(nodes, "k", "parent")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out == Map(
      1L -> ((1L, 0L)), 2L -> ((1L, 1L)), 3L -> ((1L, 1L)),
      4L -> ((1L, 2L)), 5L -> ((1L, 2L)), 6L -> ((1L, 3L)),
      7L -> ((7L, 0L))))
  }

  test("null parents are top-level, like the rootParent sentinel") {
    val nodes = Seq((1L, Option.empty[Long]), (2L, Some(1L)),
      (3L, Some(2L))).toDF("k", "parent")
    val out = Hierarchy.flatten(nodes, "k", "parent")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out == Map(1L -> ((1L, 0L)), 2L -> ((1L, 1L)),
      3L -> ((1L, 2L))))
  }

  test("a 200-node path chain flattens exactly under the DEFAULT cap" +
      " (depth 199 > 2^6=64, the old fixed round count — the round-6" +
      " silent-wrong case)") {
    // worst case for a literal recursion: one chain of depth 199
    val nodes = (1L to 200L).map(k => (k, k - 1)).toDF("k", "parent")
    val out = Hierarchy.flatten(nodes, "k", "parent")
      .as[(Long, Long, Long)].collect()
    assert(out.length == 200)
    assert(out.forall { case (k, top, d) => top == 1L && d == k - 1 })
  }

  test("depth beyond 2^maxRounds FAILS LOUDLY instead of returning" +
      " wrong rows") {
    // 20-deep chain, cap 2 (reach 4): the old code returned the 4-hop
    // ancestor as top_key with no error; now it must refuse
    val nodes = (1L to 20L).map(k => (k, k - 1)).toDF("k", "parent")
    val e = intercept[IllegalStateException](
      Hierarchy.flatten(nodes, "k", "parent", maxRounds = 2).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("a parent cycle is detected and refused, not looped over") {
    // 1 -> 2 -> 3 -> 1 plus a normal branch; pointer doubling inside a
    // cycle never reaches a fixed point — the cap converts that into a
    // loud failure naming the cause
    val nodes = Seq((1L, 3L), (2L, 1L), (3L, 2L), (4L, 0L), (5L, 4L))
      .toDF("k", "parent")
    val e = intercept[IllegalStateException](
      Hierarchy.flatten(nodes, "k", "parent", maxRounds = 10).collect())
    assert(e.getMessage.contains("cycle"))
  }

  test("a SELF-parent cycle (k == parent != rootParent) is refused" +
      " (its pointer never moves but its depth grows forever)") {
    val nodes = Seq((1L, 0L), (2L, 2L)).toDF("k", "parent")
    val e = intercept[IllegalStateException](
      Hierarchy.flatten(nodes, "k", "parent", maxRounds = 10).collect())
    assert(e.getMessage.contains("cycle"))
  }

  test("convergence stops early: a shallow forest under a huge cap" +
      " returns identical rows to the bounded form") {
    val nodes = Seq((1L, 0L), (2L, 1L), (3L, 2L)).toDF("k", "parent")
    val out = Hierarchy.flatten(nodes, "k", "parent", maxRounds = 1000)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out == Map(1L -> ((1L, 0L)), 2L -> ((1L, 1L)),
      3L -> ((1L, 2L))))
  }
}

class TableStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("report surfaces per-partition files/bytes, skew, and the" +
      " compaction work list; compaction clears it") {
    val root = Files.createTempDirectory("graft_stats").resolve("t")
      .toString
    // day 1: many small files (needs compaction); day 2: one file
    (1 to 10).foreach { i =>
      Seq((i.toLong, "2024-01-01")).toDF("k", "day")
        .write.mode("append").partitionBy("day").parquet(root)
    }
    Seq((99L, "2024-01-02")).toDF("k", "day")
      .write.mode("append").partitionBy("day").parquet(root)
    val r = TableStats.report(root, smallFileThreshold = 8)
    assert(r.partitions.map(_.partition)
      == Seq("day=2024-01-01", "day=2024-01-02"))
    assert(r.partitions.head.files == 10 && r.partitions.last.files == 1)
    assert(r.needsCompaction == Seq("day=2024-01-01"))
    assert(r.skewRatio > 1.0 && r.totalFiles == 11)
    assert(r.totalBytes == r.partitions.map(_.bytes).sum)
    new Compaction(spark, minFilesToCompact = 8).compact(root)
    val after = TableStats.report(root, smallFileThreshold = 8)
    assert(after.needsCompaction.isEmpty)
    assert(spark.read.parquet(root).count() == 11) // rows survived
  }

  test("flat tables report one pseudo-partition; missing paths are" +
      " empty, not errors") {
    val root = Files.createTempDirectory("graft_stats2").resolve("t")
      .toString
    Seq(1L, 2L).toDF("k").write.parquet(root)
    val r = TableStats.report(root)
    assert(r.partitions.map(_.partition) == Seq(""))
    assert(r.totalFiles >= 1 && r.skewRatio == 1.0)
    val none = TableStats.report(root + "_missing")
    assert(none.partitions.isEmpty && none.totalFiles == 0)
  }
}

/** Maintenance operators (TableStats / Compaction / Retention /
  * BronzeAppend) run end-to-end through a NON-DEFAULT CommitStore
  * binding — the round-8 seam extension: their planning metadata
  * (partition listing, file sizes), locks, swaps, and deletes all route
  * through the store, so the same maintenance code runs wherever the
  * table lives (hadoop FileSystem here; HDFS-class in production). */
class MaintenanceStoreRoutingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stats + compaction + retention through the HADOOP binding") {
    val store = CommitStore.hadoop()
    val root = Files.createTempDirectory("graft_maint_h").toString + "/t"
    (1 to 4).foreach { i =>
      Seq((i.toLong, "2024-01-01"), (i.toLong + 10, "2024-01-05"))
        .toDF("k", "d").write.mode("append").partitionBy("d").parquet(root)
    }
    val before = TableStats.report(root, smallFileThreshold = 4,
      store = store)
    assert(before.partitions.map(_.partition).toSet ==
      Set("d=2024-01-01", "d=2024-01-05"))
    assert(before.needsCompaction.toSet ==
      Set("d=2024-01-01", "d=2024-01-05"))
    assert(before.totalFiles >= 8 && before.totalBytes > 0)

    val compacted = new Compaction(spark, store = store).compact(root)
    assert(compacted.size == 2)
    val after = TableStats.report(root, smallFileThreshold = 4,
      store = store)
    assert(after.needsCompaction.isEmpty, after.toString)
    assert(after.totalFiles == 2)
    assert(spark.read.parquet(root).count() == 8, "rows preserved")

    val ret = new Retention(spark, store)
    val dropped = ret.retainDays(root, "d", 3,
      java.time.LocalDate.parse("2024-01-06"))
    assert(dropped.size == 1 && dropped.head.endsWith("d=2024-01-01"))
    assert(spark.read.parquet(root).select("d").distinct()
      .as[String].collect().toSeq == Seq("2024-01-05"))

    // bronze append through the same binding stays idempotent
    val b = new BronzeAppend(spark, store)
    assert(b.appendNewPartitions(
      Seq((99L, "2024-01-05")).toDF("k", "d"), root, "d") == 0)
    assert(b.appendNewPartitions(
      Seq((99L, "2024-01-09")).toDF("k", "d"), root, "d") == 1)
  }

  test("rollup folds (MaterializedAgg + SketchDistinct) through the" +
      " HADOOP binding") {
    val store = CommitStore.hadoop()
    val base = Files.createTempDirectory("graft_roll_h").toString
    val magg = new MaterializedAgg(spark, s"$base/m", Seq("k"), Seq("v"),
      store)
    magg.refresh(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"))
    magg.refresh(Seq(("a", 3.0)).toDF("k", "v"))
    val totals = magg.read().select("k", "n_rows")
      .as[(String, Long)].collect().toMap
    assert(totals == Map("a" -> 2L, "b" -> 1L))

    val skd = new SketchDistinct(spark, s"$base/s", Seq("d"), "u",
      store = store)
    skd.refresh(Seq(("d1", "u1"), ("d1", "u2")).toDF("d", "u"))
    skd.refresh(Seq(("d1", "u2"), ("d1", "u3")).toDF("d", "u"))
    val est = skd.read().select("d", "distinct_est")
      .as[(String, Double)].collect().toMap
    assert(math.rint(est("d1")) == 3.0)
  }
}

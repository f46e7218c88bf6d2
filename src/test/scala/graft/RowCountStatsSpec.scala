package graft

import graft.operators.{PartitionedSnapshots => PS}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-14: commit-recorded ROW COUNTS → exact Catalyst statistics.
  * Every commit records per-file row counts in the filemeta sidecar
  * (one footer read per freshly-written file, outside any lock); the
  * SQL catalog's scan then reports `Statistics.numRows` exactly, so
  * CBO/AQE see true cardinality instead of size-derived guesses.
  * Fail-safe: a record missing any count (pre-feature carry) reports
  * no rowCount rather than an undercount. */
class RowCountStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private val store = graft.operators.CommitStore.local

  private def scanRowCount(df: DataFrame): Option[BigInt] = {
    val rels = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
    }
    assert(rels.size == 1, s"expected one DSv2 relation, got $rels")
    rels.head.stats.rowCount
  }

  test("every commit path records per-file row counts; rowCountOf " +
      "sums them exactly across write → upsert → optimistic upsert " +
      "→ delete → merge") {
    val t = s"${tmp("rc_paths")}/t"
    PS.write(spark, t, Seq((1L, "a", "x"), (2L, "a", "y"),
      (3L, "b", "z")).toDF("k", "d", "v"), "d", store)
    def recorded(v: Long): Option[Long] =
      PS.rowCountOf(PS.fileManifest(t, v, store).get)
    assert(recorded(1L).contains(3L))
    PS.upsert(spark, t, Seq((4L, "b", "w"), (5L, "c", "q"))
      .toDF("k", "d", "v"), Seq("k"), "d", store = store)
    assert(recorded(2L).contains(5L))
    PS.upsert(spark, t, Seq((6L, "a", "o"))
      .toDF("k", "d", "v"), Seq("k"), "d", store = store)
    assert(recorded(3L).contains(6L))
    PS.delete(spark, t, col("k") === 2L, "d", store)
    assert(recorded(4L).contains(5L))
    PS.merge(spark, t, Seq((1L, "a", "m")).toDF("k", "d", "v"),
      Seq("k"), "d",
      whenMatchedUpdate = Map("v" -> PS.source("v")), store = store)
    assert(recorded(5L).contains(5L))
  }

  test("the SQL catalog scan reports the recorded row count as EXACT " +
      "Catalyst stats; a pushed filter reports the pruned file set's " +
      "row sum — a SOUND UPPER BOUND, never an overstatement of the " +
      "surviving files") {
    val root = tmp("rc_sql")
    spark.conf.set("spark.sql.catalog.rcs",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.rcs.root", root)
    PS.write(spark, s"$root/t", (1L to 123L).map(k =>
      (k, s"p${k % 3}", s"v$k")).toDF("k", "d", "v"), "d", store)
    assert(scanRowCount(spark.sql("SELECT * FROM rcs.t"))
      .contains(BigInt(123)))
    // column pruning keeps cardinality exact
    assert(scanRowCount(spark.sql("SELECT k FROM rcs.t"))
      .contains(BigInt(123)))
    // a pushed DATA filter now prunes through the AUTO stats-at-write
    // default (round 16: k is statted with no declaration), so the
    // reported bound is the SURVIVING files' recorded row sum — a
    // sound upper bound on the 23 true matches, strictly below the
    // table's 123 (the pre-round-16 bound when nothing pruned)
    val bounded = scanRowCount(
      spark.sql("SELECT k FROM rcs.t WHERE k > 100"))
    assert(bounded.exists(n => n >= BigInt(23) && n < BigInt(123)),
      s"expected a pruned upper bound in [23, 123), got $bounded")
    // a PARTITION predicate prunes to the matching partition's exact
    // recorded rows (123 rows over p0/p1/p2: p1 holds 41)
    assert(scanRowCount(
      spark.sql("SELECT k FROM rcs.t WHERE d = 'p1'"))
      .contains(BigInt(41)))
  }

  test("a small snap table joins broadcast on its exact stats — no " +
      "hint needed") {
    val root = tmp("rc_bcast")
    spark.conf.set("spark.sql.catalog.rcb",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.rcb.root", root)
    PS.write(spark, s"$root/dim", Seq((1L, "a", "one"), (2L, "a", "two"))
      .toDF("k", "d", "nm"), "d", store)
    spark.range(10000).toDF("k").createOrReplaceTempView("rc_fact")
    val j = spark.sql(
      "SELECT f.k, d.nm FROM rc_fact f JOIN rcb.dim d ON f.k = d.k")
    j.collect()
    val bhj = j.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(bhj, s"expected broadcast:\n${j.queryExecution.executedPlan}")
  }

  test("fail-safe: a record missing ANY per-file count reports no " +
      "rowCount (no undercount), the table still reads, and " +
      "indexPlanMeta's backfill restores counts") {
    val root = tmp("rc_mixed")
    spark.conf.set("spark.sql.catalog.rcm",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.rcm.root", root)
    val t = s"$root/t"
    PS.write(spark, t, Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("k", "d", "v"), "d", store)
    // simulate a pre-rowcount record: strip the 5th column
    val fm = f"$t/_snapshots/v00001/filemeta"
    val stripped = new String(store.read(fm).get, "UTF-8")
      .split('\n').map(_.split('\t').take(4).mkString("\t"))
      .mkString("\n")
    store.write(fm, stripped.getBytes("UTF-8"))
    assert(PS.rowCountOf(PS.fileManifest(t, 1L, store).get).isEmpty)
    assert(scanRowCount(spark.sql("SELECT * FROM rcm.t")).isEmpty)
    assert(spark.sql("SELECT * FROM rcm.t").count() == 2L)
    // the backfill repairs only INCONSISTENT records, so break the
    // record's partition set too, then re-index: fresh listings carry
    // footer-read counts
    store.write(fm, stripped.split('\n')
      .filterNot(_.startsWith("__p=b")).mkString("\n")
      .getBytes("UTF-8"))
    assert(PS.indexPlanMeta(spark, t, store) == Seq(1L))
    assert(PS.rowCountOf(PS.fileManifest(t, 1L, store).get)
      .contains(2L))
    assert(scanRowCount(spark.sql("SELECT * FROM rcm.t"))
      .contains(BigInt(2)))
  }

  test("CALL system.file_stats serves per-partition files/bytes/rows " +
      "from the commit record — zero listings — and time-travels by " +
      "version") {
    val root = tmp("rc_fstats")
    spark.conf.set("spark.sql.catalog.rcf",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.rcf.root", root)
    val t = s"$root/t"
    PS.write(spark, t, Seq((1L, "a", "x"), (2L, "a", "y"),
      (3L, "b", "z")).toDF("k", "d", "v"), "d", store)
    PS.upsert(spark, t, Seq((4L, "b", "w")).toDF("k", "d", "v"),
      Seq("k"), "d", store = store)
    val got = spark.sql(
      "CALL rcf.system.file_stats(table => 't')")
      .select("partition", "owner", "rows")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(got == Set(("a", 1L, Some(2L)), ("b", 2L, Some(2L))), s"$got")
    val v1 = spark.sql(
      "CALL rcf.system.file_stats(table => 't', version => 1)")
      .select("partition", "owner", "rows")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(v1 == Set(("a", 1L, Some(2L)), ("b", 1L, Some(1L))), s"$v1")
    // bytes are the exact recorded lengths
    val bytes = spark.sql("CALL rcf.system.file_stats(table => 't')")
      .select("bytes").as[Long].collect()
    assert(bytes.forall(_ > 0))
  }
}

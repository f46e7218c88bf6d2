package graft

import graft.operators.{PartitionedSnapshots => PS}
import graft.plans.{SidecarCache, StatParquetScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-16 hardening: the judge/advisor seams from round 15 —
  * scan-equality symmetry, sidecar-cache LRU, and the compact's
  * pure-rewrite write path (no constraint re-scan, no generated-column
  * backfill). */
class Round16HardeningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private val store = graft.operators.CommitStore.local

  private def grouped(frames: DataFrame*): DataFrame =
    frames.map(df =>
      spark.createDataFrame(df.rdd.coalesce(1), df.schema))
      .reduce(_ union _)

  test("StatParquetScan equality is false against a plain ParquetScan " +
      "in BOTH directions — scan dedup can never substitute the " +
      "stat-less twin") {
    val root = tmp("r16_eq")
    spark.conf.set("spark.sql.catalog.r16e",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.r16e.root", root)
    PS.write(spark, s"$root/t",
      Seq((1L, "a"), (2L, "b")).toDF("k", "d"), "d", store)
    val df = spark.sql("SELECT k FROM r16e.t")
    val stat = df.queryExecution.executedPlan.collect {
      case s: BatchScanExec => s.scan
    }.collectFirst { case p: StatParquetScan => p }.get
    // an INDEPENDENTLY-BUILT plain scan of the same table: identical
    // fields except the row-count marker option the stat scan carries
    // — exactly the twin scan-dedup would compare
    val stripped = {
      val m = new java.util.HashMap[String, String](
        stat.options.asCaseSensitiveMap())
      m.remove("graft.commit-row-count")
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
    }
    val plain: ParquetScan = stat.copy(options = stripped)
    assert(!plain.isInstanceOf[StatParquetScan])
    assert(!stat.equals(plain), "stat.equals(plain) must be false")
    assert(!plain.equals(stat),
      "plain.equals(stat) must be false too (the marker option is a " +
        "field ParquetScan's own equals compares)")
  }

  test("SidecarCache evicts LRU past the bound: a 17th table drops " +
      "ONE entry, and the 16 most-recent still serve from cache") {
    val dirs = (1 to 17).map { i =>
      val d = tmp(s"r16_lru_$i")
      Seq((i.toLong, s"v$i")).toDF("a", "b")
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    }
    dirs.foreach(d => SidecarCache.load(spark, d).collect())
    assert(SidecarCache.entryCount == 16,
      s"bound must hold at 16, got ${SidecarCache.entryCount}")
    // entries 2..17 are the 16 most recent — ALL must still hit
    // (the old clear-all eviction would have emptied the cache at
    // the 17th insert and every one of these would load)
    val l0 = SidecarCache.loads.get
    dirs.drop(1).foreach(d => SidecarCache.load(spark, d).collect())
    assert(SidecarCache.loads.get == l0,
      "the 16 most-recent entries must all be cache hits")
    // the evicted eldest reloads (a miss, by design)
    SidecarCache.load(spark, dirs.head).collect()
    assert(SidecarCache.loads.get == l0 + 1)
  }

  test("optimisticCompact is a PURE rewrite: a registered generated " +
      "column is not backfilled into the rewritten footers (matching " +
      "the serializing compact), and the row set is unchanged") {
    val root = tmp("r16_pure")
    val t = s"$root/t"
    PS.write(spark, t, grouped(
      Seq((1L, "a"), (2L, "a")).toDF("k", "d"),
      Seq((3L, "a"), (4L, "a")).toDF("k", "d")), "d", store)
    // registered AFTER the data exists: old footers lack the column
    graft.operators.GeneratedColumns.add(spark, t, "g", "k * 2", store)
    val before = PS.read(spark, t, store)
      .select("k", "d").as[(Long, String)].collect().toSet
    val (v, parts) = PS.compact(spark, t, "d", store = store)
    assert(parts.nonEmpty, "the fragmented partition must compact")
    // the rewrite wrote EXACTLY the input columns — no generated
    // column materialized into the compacted footers (the serializing
    // compact's behavior; prepare is bypassed on the pure rewrite)
    val schema = PS.ownerSchema(t, v, store).get
    assert(!schema.fieldNames.map(_.toLowerCase).contains("g"),
      s"pure rewrite must not backfill generated columns: $schema")
    val after = PS.read(spark, t, store)
      .select("k", "d").as[(Long, String)].collect().toSet
    assert(after == before, "compaction must not change the row set")
  }
}

package graft

import graft.operators.{CommitStore, Incremental,
  PartitionedSnapshots => PS}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Gates for the optimistic-compaction interleavings (singleton so
  * both threads see one instance in local mode); own instance so the
  * suite never races [[OptimisticDmlGates]] under parallel suites. */
object OptimisticCompactGates {
  @volatile var armed = false
  @volatile var parked = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def reset(): Unit = {
    armed = false
    parked = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
}

/** Parks the compaction at the END of its lock-free data phase
  * (writeData's listing of the fresh version's data dir) — committed
  * state elsewhere then proves the data phases really interleave. */
class CompactGatedStore(inner: CommitStore) extends CommitStore {
  override def createNew(p: String, c: Array[Byte]) = inner.createNew(p, c)
  override def read(p: String) = inner.read(p)
  override def write(p: String, c: Array[Byte]) = inner.write(p, c)
  override def rename(s: String, d: String, r: Boolean) =
    inner.rename(s, d, r)
  override def delete(p: String) = inner.delete(p)
  override def deleteRecursively(p: String) = inner.deleteRecursively(p)
  override def exists(p: String) = inner.exists(p)
  override def modifiedMs(p: String) = inner.modifiedMs(p)
  override def list(d: String) = inner.list(d)
  override def mkdirs(p: String) = inner.mkdirs(p)
  override def listEntries(d: String) = {
    if (OptimisticCompactGates.armed && d.endsWith("/data")) {
      OptimisticCompactGates.parked.countDown()
      OptimisticCompactGates.release.await(60, TimeUnit.SECONDS)
    }
    inner.listEntries(d)
  }
}

/** Round-15: optimistic commits for `compact` — the last maintenance
  * writer still serializing its DATA phase on the table lock. The
  * conflict rule is the shared ownership diff (a compaction whose
  * fragmented partitions are untouched since its base commits
  * concurrently with disjoint writers; an overlap re-detects on the
  * new base), and the rewrite is bit-identical by construction, so
  * isolation degenerates to plain serializability. */
class OptimisticCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private def rows(t: String): Set[(Long, String, String)] =
    PS.read(spark, t).as[(Long, String, String)].collect().toSet

  private def files(t: String, v: Long, p: String): Int =
    CommitStore.local
      .listEntries(f"$t/_snapshots/v$v%05d/data/__p=$p")
      .count(e => !e.isDir && e.name.endsWith(".parquet"))

  private def seedFragmented(t: String): Unit = {
    // 8 rows from 4 tasks → ≥2 files in partition F; C arrives compact
    PS.write(spark, t,
      Seq.tabulate(8)(i => (i.toLong, "F", s"f$i"))
        .toDF("k", "d", "v").repartition(4), "d")
    PS.upsert(spark, t, Seq((100L, "C", "c")).toDF("k", "d", "v"),
      Seq("k"), "d")
    assert(files(t, 1L, "F") >= 2, "precondition: F is fragmented")
  }

  test("parity: optimisticCompact matches the serializing compact — " +
      "fragmented partition coalesced to one file, compact partition " +
      "carried, row set bit-identical; nothing fragmented → (cur, " +
      "Nil) burning no version; maxRecordsPerFile caps the rewrite") {
    val opt = s"${tmp("ocmp_opt")}/t"
    seedFragmented(opt)
    val before = rows(opt)
    assert(before ==
      Seq.tabulate(8)(i => (i.toLong, "F", s"f$i")).toSet +
        ((100L, "C", "c")))
    val (vOpt, pOpt) = PS.compact(spark, opt, "d")
    assert(vOpt == 3L && pOpt == Seq("__p=F"), s"opt ($vOpt, $pOpt)")
    assert(files(opt, vOpt, "F") == 1, "compacted to one file")
    assert(rows(opt) == before, "row set is bit-identical")
    assert(PS.manifest(opt, vOpt) ==
      Map("__p=F" -> vOpt, "__p=C" -> 2L),
      "compact partition C carried over without rewriting")
    // the commit carried a consistent file manifest (plan-from-
    // metadata keeps serving, including fresh rows for the rewrite)
    val refs = PS.fileManifest(opt, vOpt).get
    assert(refs.map(_.part).toSet == Set("__p=F", "__p=C"))
    assert(refs.filter(_.part == "__p=F").forall(_.rows.isDefined),
      "rewritten files carry commit-recorded row counts")
    // nothing fragmented left → no-op at the current version
    assert(PS.compact(spark, opt, "d") == ((vOpt, Seq.empty)))
    assert(PS.versions(opt).max == vOpt)
    // maxRecordsPerFile rolls the single task's output: 8 rows, cap 3
    val t2 = s"${tmp("ocmp_cap")}/t"
    PS.write(spark, t2,
      Seq.tabulate(8)(i => (i.toLong, "F", s"g$i"))
        .toDF("k", "d", "v").repartition(4), "d")
    val (v2, p2) = PS.compact(spark, t2, "d",
      maxRecordsPerFile = 3)
    assert(p2 == Seq("__p=F"), p2.toString)
    assert(files(t2, v2, "F") == 3)
    assert(PS.read(spark, t2).count() == 8)
  }

  test("detection is metadata-first but survives a missing filemeta " +
      "record (listing fallback)") {
    val t = s"${tmp("ocmp_nofm")}/t"
    seedFragmented(t)
    val store = CommitStore.local
    val cur = PS.currentVersion(t, store).get
    store.delete(f"$t/_snapshots/v$cur%05d/filemeta")
    val (v, parts) = PS.compact(spark, t, "d")
    assert(parts == Seq("__p=F"))
    assert(files(t, v, "F") == 1)
    assert(PS.read(spark, t).count() == 9)
  }

  test("DISJOINT concurrency: an upsert commits while the " +
      "compaction's data phase is parked open — the compaction then " +
      "commits its ORIGINAL prepared dir without re-preparing") {
    OptimisticCompactGates.reset()
    val t = s"${tmp("ocmp_disj")}/t"
    seedFragmented(t) // F fragmented (v1), C compact (v2)
    val gated = new CompactGatedStore(CommitStore.local)
    val pool = Executors.newFixedThreadPool(1)
    OptimisticCompactGates.armed = true
    val cmp = pool.submit(
      new java.util.concurrent.Callable[(Long, Seq[String])] {
        def call(): (Long, Seq[String]) =
          PS.compact(spark, t, "d", store = gated)
      })
    assert(OptimisticCompactGates.parked.await(60, TimeUnit.SECONDS),
      "compaction never reached its data phase")
    // compaction is parked INSIDE its lock-free prepare; a writer to
    // a DISJOINT partition commits meanwhile — proof the lock is free
    val vUp = PS.upsert(spark, t,
      Seq((200L, "C", "upserted")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticCompactGates.armed = false
    OptimisticCompactGates.release.countDown()
    val (vCmp, parts) = cmp.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    // the compaction reserved v3 before parking; the upsert then
    // reserved+committed v4, so the compaction publishes as v5 whose
    // manifest references its PREPARED dir v3 as data owner (owner
    // version ≠ manifest version is first-class)
    assert(vUp == 4L && vCmp == 5L, s"upsert v$vUp, compact v$vCmp")
    assert(parts == Seq("__p=F"))
    // F's owner is the dir prepared BEFORE the upsert landed — no
    // retry, no re-prepare; C reflects the concurrent commit
    val m = PS.manifest(t, vCmp)
    assert(m("__p=F") == 3L && m("__p=C") == vUp, m.toString)
    assert(files(t, 3L, "F") == 1)
    assert(rows(t) ==
      Seq.tabulate(8)(i => (i.toLong, "F", s"f$i")).toSet ++
        Set((100L, "C", "c"), (200L, "C", "upserted")))
  }

  test("OVERLAP: a compaction losing the race re-detects against the " +
      "winner — the row a concurrent upsert put into the contended " +
      "partition is NEVER lost under the stale prepared rewrite") {
    OptimisticCompactGates.reset()
    val t = s"${tmp("ocmp_ovl")}/t"
    seedFragmented(t)
    val gated = new CompactGatedStore(CommitStore.local)
    val pool = Executors.newFixedThreadPool(1)
    OptimisticCompactGates.armed = true
    val cmp = pool.submit(
      new java.util.concurrent.Callable[(Long, Seq[String])] {
        def call(): (Long, Seq[String]) =
          PS.compact(spark, t, "d", store = gated)
      })
    assert(OptimisticCompactGates.parked.await(60, TimeUnit.SECONDS))
    // winner rewrites the SAME fragmented partition, adding a row
    val vUp = PS.upsert(spark, t,
      Seq((9L, "F", "won")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticCompactGates.armed = false
    OptimisticCompactGates.release.countDown()
    val (vCmp, _) = cmp.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    // the retry re-detected on the winner's base: either F was still
    // fragmented (re-compacted at a later version) or already compact
    // (no-op at the winner's version) — but the stale prepared dir,
    // which predates k=9, must never have committed over it
    assert(vCmp >= vUp, s"winner v$vUp, compaction v$vCmp")
    assert(rows(t).contains((9L, "F", "won")),
      s"winner's row lost: ${rows(t)}")
    assert(PS.read(spark, t).count() == 10)
    val m = PS.manifest(t, PS.currentVersion(t).get)
    assert(PS.fileManifest(t, PS.currentVersion(t).get).get
      .map(_.part).toSet == m.keySet)
  }

  test("maxRetries=0: an overlapped compaction refuses with " +
      "ConcurrentWriteException naming the partition") {
    OptimisticCompactGates.reset()
    val t = s"${tmp("ocmp_refuse")}/t"
    seedFragmented(t)
    val gated = new CompactGatedStore(CommitStore.local)
    val pool = Executors.newFixedThreadPool(1)
    OptimisticCompactGates.armed = true
    val cmp = pool.submit(
      new java.util.concurrent.Callable[(Long, Seq[String])] {
        def call(): (Long, Seq[String]) =
          PS.compact(spark, t, "d", maxRetries = 0,
            store = gated)
      })
    assert(OptimisticCompactGates.parked.await(60, TimeUnit.SECONDS))
    PS.upsert(spark, t,
      Seq((9L, "F", "fast")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticCompactGates.armed = false
    OptimisticCompactGates.release.countDown()
    val e = intercept[java.util.concurrent.ExecutionException](
      cmp.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(e.getCause.isInstanceOf[Incremental.ConcurrentWriteException])
    assert(e.getCause.getMessage.contains("__p=F"),
      e.getCause.getMessage)
  }

  test("SQL: CALL system.compact routes through the optimistic " +
      "commit with identical semantics") {
    val root = Files.createTempDirectory("graft_ocmp_sql").toString
    spark.conf.set("spark.sql.catalog.ocmp",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.ocmp.root", root)
    val t = s"$root/t"
    seedFragmented(t)
    val r = spark.sql(
      "CALL ocmp.system.compact(table => 't')").collect()
    assert(r.head.getLong(0) == 3L && r.head.getInt(1) == 1,
      r.mkString)
    assert(files(t, 3L, "F") == 1)
    assert(rows(t) ==
      Seq.tabulate(8)(i => (i.toLong, "F", s"f$i")).toSet +
        ((100L, "C", "c")))
  }
}

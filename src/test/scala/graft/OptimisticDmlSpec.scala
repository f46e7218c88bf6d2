package graft

import graft.operators.{CommitStore, Incremental,
  PartitionedSnapshots => PS}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Gates for the optimistic-DML interleavings (singleton so both
  * threads see one instance in local mode). `armed` scopes the park
  * to the one gated-store call under test. */
object OptimisticDmlGates {
  @volatile var armed = false
  @volatile var parked = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def reset(): Unit = {
    armed = false
    parked = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
}

/** A store that PARKS the writer at the END of its lock-free data
  * phase: `writeData` lists the fresh version's data dir right after
  * writing it, so blocking that listing holds the optimistic prepare
  * open — committed state elsewhere then proves the data phases
  * really interleave (no lock held). */
class DmlGatedStore(inner: CommitStore) extends CommitStore {
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
    if (OptimisticDmlGates.armed && d.endsWith("/data")) {
      OptimisticDmlGates.parked.countDown()
      OptimisticDmlGates.release.await(60, TimeUnit.SECONDS)
    }
    inner.listEntries(d)
  }
}

/** Round-14: optimistic commits for predicate DELETE/UPDATE — the
  * upsert-shaped maintenance writers (a partition-scoped GDPR delete)
  * no longer serialize their data phases on the table lock; the
  * conflict rule is the shared partition-granularity one, detection
  * re-runs per attempt, and isolation is write-serializable exactly
  * as documented on the operators. */
class OptimisticDmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private def rows(t: String): Set[(Long, String, String)] =
    PS.read(spark, t).as[(Long, String, String)].collect().toSet

  test("parity: optimisticDelete matches the serializing delete — " +
      "matching rows gone, a fully-deleted partition leaves the " +
      "manifest, untouched partitions carry; a no-match predicate is " +
      "a no-op burning no version") {
    val opt = s"${tmp("odml_opt")}/t"
    PS.write(spark, opt, Seq(
      (1L, "A", "del-1"), (2L, "A", "keep-2"),
      (3L, "B", "del-3"), (4L, "C", "keep-4"))
      .toDF("k", "d", "v"), "d")
    val vOpt = PS.delete(spark, opt, col("v").startsWith("del"), "d")
    assert(rows(opt) == Set((2L, "A", "keep-2"), (4L, "C", "keep-4")))
    val mOpt = PS.manifest(opt, vOpt)
    assert(!mOpt.contains("__p=B"), "emptied partition must drop")
    assert(mOpt.keySet == Set("__p=A", "__p=C"))
    assert(mOpt("__p=C") == 1L, "untouched partition carries its owner")
    // file manifest stays consistent → plan-from-metadata still serves
    assert(PS.fileManifest(opt, vOpt).get.map(_.part).toSet ==
      mOpt.keySet)
    // no-op: nothing matches → same version back, no commit burned
    val before = PS.versions(opt).size
    assert(PS.delete(spark, opt, col("v") === "absent",
      "d") == vOpt)
    assert(PS.versions(opt).size == before)
  }

  test("three-valued logic: a NULL-predicate row in a TOUCHED " +
      "partition is KEPT by both delete paths (not silently dropped " +
      "by not(null))") {
    val opt = s"${tmp("odml_null_o")}/t"
    PS.write(spark, opt, Seq(
      (1L, "A", Some("del")), (2L, "A", None), (3L, "A", Some("keep")))
      .toDF("k", "d", "v"), "d")
    // v = 'del' is NULL for k=2 — SQL DELETE semantics: remove only
    // rows the predicate proves TRUE
    PS.delete(spark, opt, col("v") === "del", "d")
    def got(t: String) = PS.read(spark, t).select("k")
      .as[Long].collect().toSet
    assert(got(opt) == Set(2L, 3L), s"optimistic kept ${got(opt)}")
  }

  test("parity: optimisticUpdateWhere matches updateWhere — matched " +
      "rows updated, NULL-predicate rows untouched, other partitions " +
      "carried; no-match is a no-op") {
    val opt = s"${tmp("odml_uo")}/t"
    PS.write(spark, opt, Seq(
      (1L, "A", "hit"), (2L, "A", "miss"), (3L, "B", "hit"))
      .toDF("k", "d", "v"), "d")
    val vOpt = PS.updateWhere(spark, opt,
      Map("v" -> upper(col("v"))), col("v") === "hit", "d")
    assert(rows(opt) == Set((1L, "A", "HIT"), (2L, "A", "miss"),
      (3L, "B", "HIT")))
    val before = PS.versions(opt).size
    assert(PS.updateWhere(spark, opt,
      Map("v" -> lit("x")), col("v") === "absent", "d") == vOpt)
    assert(PS.versions(opt).size == before)
  }

  test("DISJOINT concurrency: an upsert commits while the delete's " +
      "data phase is parked open — the delete then commits its " +
      "ORIGINAL prepared dir without re-preparing") {
    OptimisticDmlGates.reset()
    val t = s"${tmp("odml_disj")}/t"
    PS.write(spark, t, Seq((1L, "A", "del-1"), (2L, "A", "keep-2"),
      (3L, "B", "seed-b")).toDF("k", "d", "v"), "d")
    val gated = new DmlGatedStore(CommitStore.local)
    val pool = Executors.newFixedThreadPool(1)
    OptimisticDmlGates.armed = true
    val del = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = PS.delete(spark, t,
        col("d") === "A" && col("v").startsWith("del"), "d",
        store = gated)
    })
    assert(OptimisticDmlGates.parked.await(60, TimeUnit.SECONDS),
      "delete never reached its data phase")
    // delete is parked INSIDE its lock-free prepare; a writer to a
    // DISJOINT partition commits meanwhile — proof the lock is free
    val vUp = PS.upsert(spark, t,
      Seq((4L, "B", "upserted")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticDmlGates.armed = false
    OptimisticDmlGates.release.countDown()
    val vDel = del.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    assert(vUp == 3L && vDel == 4L, s"upsert v$vUp, delete v$vDel")
    // the delete committed the dir it prepared BEFORE the upsert
    // landed (owner v2) — no retry, no re-prepare
    assert(PS.manifest(t, vDel)("__p=A") == 2L)
    assert(rows(t) == Set((2L, "A", "keep-2"), (3L, "B", "seed-b"),
      (4L, "B", "upserted")))
  }

  test("OVERLAP: a delete losing the race RE-DETECTS against the " +
      "winner — a matching row the concurrent upsert inserted into " +
      "the contended partition is deleted too (write-serializable: " +
      "equivalent to upsert-then-delete)") {
    OptimisticDmlGates.reset()
    val t = s"${tmp("odml_ovl")}/t"
    PS.write(spark, t, Seq((1L, "P", "del-1"), (2L, "P", "keep-2"))
      .toDF("k", "d", "v"), "d")
    val gated = new DmlGatedStore(CommitStore.local)
    val pool = Executors.newFixedThreadPool(1)
    OptimisticDmlGates.armed = true
    val del = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = PS.delete(spark, t,
        col("v").startsWith("del"), "d", store = gated)
    })
    assert(OptimisticDmlGates.parked.await(60, TimeUnit.SECONDS))
    // winner rewrites the SAME partition, adding another matching row
    val vUp = PS.upsert(spark, t,
      Seq((9L, "P", "del-9")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticDmlGates.armed = false
    OptimisticDmlGates.release.countDown()
    val vDel = del.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    assert(vDel > vUp, s"loser must re-commit after v$vUp, got v$vDel")
    // del-9 was inserted AFTER the delete's first detection — only a
    // re-detection against the winner's rows can have removed it
    assert(rows(t) == Set((2L, "P", "keep-2")), s"got ${rows(t)}")
  }

  test("maxRetries=0: an overlapped optimisticDelete refuses with " +
      "ConcurrentWriteException naming the partition") {
    OptimisticDmlGates.reset()
    val t = s"${tmp("odml_refuse")}/t"
    PS.write(spark, t, Seq((1L, "P", "del-1")).toDF("k", "d", "v"), "d")
    val gated = new DmlGatedStore(CommitStore.local)
    val pool = Executors.newFixedThreadPool(1)
    OptimisticDmlGates.armed = true
    val del = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = PS.delete(spark, t,
        col("v").startsWith("del"), "d", maxRetries = 0,
        store = gated)
    })
    assert(OptimisticDmlGates.parked.await(60, TimeUnit.SECONDS))
    PS.upsert(spark, t,
      Seq((2L, "P", "fast")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticDmlGates.armed = false
    OptimisticDmlGates.release.countDown()
    val e = intercept[java.util.concurrent.ExecutionException](
      del.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(e.getCause.isInstanceOf[Incremental.ConcurrentWriteException])
    assert(e.getCause.getMessage.contains("__p=P"),
      e.getCause.getMessage)
  }

  test("SQL UPDATE/DELETE commit through the optimistic protocol, " +
      "with identical semantics") {
    val root = Files.createTempDirectory("graft_odml_sql").toString
    spark.conf.set("spark.sql.catalog.odml",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.odml.root", root)
    val t = s"$root/t"
    PS.write(spark, t, Seq((1L, "A", "del-1"), (2L, "A", "keep-2"),
      (3L, "B", "hit")).toDF("k", "d", "v"), "d")
    spark.sql("UPDATE odml.t SET v = upper(v) WHERE v = 'hit'")
    spark.sql("DELETE FROM odml.t WHERE v = 'del-1'")
    assert(rows(t) == Set((2L, "A", "keep-2"), (3L, "B", "HIT")))
    assert(PS.currentVersion(t).contains(3L))
    // both commits carried consistent file manifests
    assert(PS.fileManifest(t, 3L).get.map(_.part).toSet ==
      PS.manifest(t, 3L).keySet)
  }
}

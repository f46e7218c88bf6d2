package graft

import graft.operators.{Incremental, PartitionedSnapshots => PS}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors,
  TimeUnit}

/** Interleaving pins for the optimistic-merge specs (singleton so
  * executor-side closures resolve the same instance in local mode). */
object OptimisticMergeGates {
  // disjoint test: meets only while a merge and an upsert are BOTH
  // inside their lock-free prepares
  val bothPreparing = new CyclicBarrier(2)
  // overlap tests: block the merge's prepare until a fast writer lands
  val overlapGate = new CountDownLatch(1)
  val refuseGate = new CountDownLatch(1)
  val constraintGate = new CountDownLatch(1)
  val schemaGate = new CountDownLatch(1)
}

/** Optimistic MERGE (round-13): [[PS.merge]] clause semantics committed
  * through the prepare/validate protocol — merge writers touching
  * disjoint partitions don't serialize on the table lock, losers
  * re-resolve their clauses against the winner's rows, and a
  * matched-DELETE that empties a partition commits the manifest
  * removal. */
class OptimisticMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private def rows(t: String): Set[(Long, String, String)] =
    PS.read(spark, t).as[(Long, String, String)].collect().toSet

  private def awaitFile(path: String, present: Boolean = true): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (Files.exists(Paths.get(path)) != present) {
      assert(System.currentTimeMillis() < deadline,
        s"never ${if (present) "appeared" else "went away"}: $path")
      Thread.sleep(20)
    }
  }

  test("optimisticMerge matches the serializing merge clause-for-" +
      "clause: conditional update, delete, guarded insert, untouched " +
      "partitions carried") {
    val seed = Seq((1L, "A", "keep"), (2L, "A", "update-me"),
      (3L, "A", "delete-me"), (4L, "B", "other")).toDF("k", "d", "v")
    val src = Seq((2L, "A", "updated"), (3L, "A", "del"),
      (9L, "A", "inserted"), (10L, "A", "skip-insert"))
      .toDF("k", "d", "v")
    def run(t: String, optimistic: Boolean): Long = {
      PS.write(spark, t, seed, "d")
      val upd = Map("v" -> PS.source("v"))
      val del = Some(PS.source("v") === "del")
      val cond = Some(PS.source("v") =!= "skip-insert")
      if (optimistic)
        PS.optimisticMerge(spark, t, src, Seq("k"), "d",
          whenMatchedUpdate = upd, whenMatchedDelete = del,
          insertCond = cond)
      else
        PS.merge(spark, t, src, Seq("k"), "d",
          whenMatchedUpdate = upd, whenMatchedDelete = del,
          insertCond = cond)
    }
    val tOpt = s"${tmp("omrg_parity")}/t"
    val tLock = s"${tmp("omrg_parity_twin")}/t"
    val vOpt = run(tOpt, optimistic = true)
    val vLock = run(tLock, optimistic = false)
    assert(vOpt == 2L && vLock == 2L)
    val expected = Set((1L, "A", "keep"), (2L, "A", "updated"),
      (9L, "A", "inserted"), (4L, "B", "other"))
    assert(rows(tOpt) == expected, s"optimistic: ${rows(tOpt)}")
    assert(rows(tOpt) == rows(tLock))
    // untouched partition B carried over, not rewritten
    assert(PS.manifest(tOpt, 2L)("__p=B") == 1L)
    // pinned reader isolation
    assert(PS.readVersion(spark, tOpt, 1L).count() == 4)
  }

  test("a matched-DELETE that empties a partition commits the " +
      "REMOVAL: the manifest entry drops, the file manifest stays " +
      "consistent, and plan-from-metadata still serves the version") {
    val t = s"${tmp("omrg_empty")}/t"
    PS.write(spark, t, Seq((1L, "A", "gone"), (2L, "B", "stays"))
      .toDF("k", "d", "v"), "d")
    val v = PS.optimisticMerge(spark, t,
      Seq((1L, "A", "x")).toDF("k", "d", "v"), Seq("k"), "d",
      whenMatchedDelete = Some(lit(true)), insertNotMatched = false)
    assert(v == 2L)
    assert(rows(t) == Set((2L, "B", "stays")))
    val m = PS.manifest(t, 2L)
    assert(!m.contains("__p=A"), s"emptied partition still in $m")
    assert(m("__p=B") == 1L)
    // recorded file manifest agrees with the partition manifest (the
    // consistency planMeta refuses to plan without)
    val fm = PS.fileManifest(t, 2L).get
    assert(fm.map(_.part).toSet == m.keySet)
    // and the version still reads correctly after vacuuming v1's
    // reclaimable state is NOT exercised here — just a plain re-read
    assert(PS.readVersion(spark, t, 2L).count() == 1)
  }

  test("a merge and an upsert on DISJOINT partitions run their data " +
      "writes concurrently (barrier inside both prepares) and BOTH " +
      "commit") {
    val t = s"${tmp("omrg_disjoint")}/t"
    PS.write(spark, t, Seq((1L, "A", "seed-a"), (2L, "B", "seed-b"),
      (3L, "C", "seed-c")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(2)
    val merger = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val src = Seq((2L, "B", "merged")).toDS
          .map { r =>
            OptimisticMergeGates.bothPreparing.await(60, TimeUnit.SECONDS)
            r
          }.toDF("k", "d", "v")
        PS.optimisticMerge(spark, t, src, Seq("k"), "d",
          whenMatchedUpdate = Map("v" -> PS.source("v")))
      }
    })
    val upserter = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val batch = Seq((3L, "C", "upserted")).toDS
          .map { r =>
            OptimisticMergeGates.bothPreparing.await(60, TimeUnit.SECONDS)
            r
          }.toDF("k", "d", "v")
        PS.optimisticUpsert(spark, t, batch, Seq("k"), "d")
      }
    })
    val (vm, vu) = (merger.get(120, TimeUnit.SECONDS),
      upserter.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(vm != vu && vm > 1L && vu > 1L, s"versions $vm, $vu")
    assert(rows(t) == Set((1L, "A", "seed-a"), (2L, "B", "merged"),
      (3L, "C", "upserted")))
    // the later manifest carries all three partitions
    assert(PS.manifest(t, math.max(vm, vu)).size == 3)
  }

  test("an overlapping merge loses the race and RE-RESOLVES its " +
      "clauses against the winner's row — the matched update applies " +
      "to the winner's value, never the stale base") {
    val t = s"${tmp("omrg_overlap")}/t"
    PS.write(spark, t, Seq((1L, "P", "v0")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(1)
    val slow = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val src = Seq((1L, "P", "ignored")).toDS
          .map { r => OptimisticMergeGates.overlapGate.await(); r }
          .toDF("k", "d", "v")
        PS.optimisticMerge(spark, t, src, Seq("k"), "d",
          whenMatchedUpdate =
            Map("v" -> concat(PS.target("v"), lit("+m"))))
      }
    })
    awaitFile(s"$t/_snapshots/v00002/.reserved")
    val fast = PS.optimisticUpsert(spark, t,
      Seq((1L, "P", "fast")).toDF("k", "d", "v"), Seq("k"), "d")
    assert(fast == 3L)
    OptimisticMergeGates.overlapGate.countDown()
    val slowV = slow.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    assert(slowV == 4L, s"loser retried to v$slowV")
    // "fast+m", not "v0+m": the retry re-read the winner's partition
    assert(rows(t) == Set((1L, "P", "fast+m")),
      s"merge matched against stale data: ${rows(t)}")
  }

  test("maxRetries=0: a lost merge race refuses with a " +
      "ConcurrentWriteException naming the partition") {
    val t = s"${tmp("omrg_refuse")}/t"
    PS.write(spark, t, Seq((1L, "P", "v0")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(1)
    val slow = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val src = Seq((1L, "P", "x")).toDS
          .map { r => OptimisticMergeGates.refuseGate.await(); r }
          .toDF("k", "d", "v")
        PS.optimisticMerge(spark, t, src, Seq("k"), "d",
          whenMatchedUpdate = Map("v" -> PS.source("v")),
          maxRetries = 0)
      }
    })
    awaitFile(s"$t/_snapshots/v00002/.reserved")
    PS.optimisticUpsert(spark, t,
      Seq((1L, "P", "fast")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticMergeGates.refuseGate.countDown()
    val e = intercept[java.util.concurrent.ExecutionException] {
      slow.get(120, TimeUnit.SECONDS)
    }
    pool.shutdown()
    assert(e.getCause.isInstanceOf[Incremental.ConcurrentWriteException])
    assert(e.getCause.getMessage.contains("__p=P"),
      s"conflict must name the partition: ${e.getCause.getMessage}")
    // the prepared dir was reclaimed eagerly, not left for vacuum
    assert(!Files.exists(Paths.get(s"$t/_snapshots/v00002/data")))
  }

  test("a CHECK constraint added AFTER the prepare enforced the old " +
      "rules but BEFORE the commit section converts to a conflict: " +
      "rows written past the old gate never commit past the new one") {
    import graft.operators.{CommitStore, Constraints}
    // delegating store that parks the prepare AFTER its data write
    // (the lock-free fresh-file listing of the written partition) so
    // the rules can tighten in the window the props re-validation
    // exists to close
    class ParkingStore extends CommitStore {
      @volatile var armed = false
      private val d = CommitStore.local
      override def listEntries(dir: String): Seq[CommitStore.DirEntry] = {
        if (armed && dir.contains("/data/__p=")) {
          armed = false
          OptimisticMergeGates.constraintGate.await()
        }
        d.listEntries(dir)
      }
      override def createNew(p: String, c: Array[Byte]) = d.createNew(p, c)
      override def read(p: String) = d.read(p)
      override def write(p: String, c: Array[Byte]) = d.write(p, c)
      override def rename(s: String, x: String, r: Boolean) =
        d.rename(s, x, r)
      override def delete(p: String) = d.delete(p)
      override def deleteRecursively(p: String) = d.deleteRecursively(p)
      override def exists(p: String) = d.exists(p)
      override def modifiedMs(p: String) = d.modifiedMs(p)
      override def list(p: String) = d.list(p)
      override def mkdirs(p: String) = d.mkdirs(p)
      override def touch(p: String) = d.touch(p)
    }
    val store = new ParkingStore
    val t = s"${tmp("omrg_props")}/t"
    PS.write(spark, t, Seq((1L, "P", "v0")).toDF("k", "d", "v"), "d",
      store = store)
    val pool = Executors.newFixedThreadPool(1)
    store.armed = true
    val slow = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long =
        PS.optimisticMerge(spark, t,
          Seq((2L, "P", "violates")).toDF("k", "d", "v"), Seq("k"),
          "d", maxRetries = 0, store = store)
    })
    // the prepare's write gate enforced the OLD (empty) rules and is
    // now parked before the commit section — tighten the rules
    awaitFile(s"$t/_snapshots/v00002/data")
    Constraints.add(spark, t, "v_not_violates", "v <> 'violates'",
      store = store)
    OptimisticMergeGates.constraintGate.countDown()
    val e = intercept[java.util.concurrent.ExecutionException] {
      slow.get(120, TimeUnit.SECONDS)
    }
    pool.shutdown()
    // maxRetries=0 pins the exact branch: the commit section's
    // governing-props re-validation reported the conflict
    assert(e.getCause.isInstanceOf[Incremental.ConcurrentWriteException]
      && e.getCause.getMessage.contains(
        "constraints/generated columns changed"),
      s"expected the props-revalidation conflict: ${e.getCause}")
    assert(rows(t) == Set((1L, "P", "v0")),
      "a row enforced under the old rules committed past the new gate")
  }

  test("an update that moves a row across partitions refuses loudly " +
      "instead of committing a partition outside the source's set") {
    val t = s"${tmp("omrg_move")}/t"
    PS.write(spark, t, Seq((1L, "A", "x")).toDF("k", "d", "v"), "d")
    val e = intercept[IllegalStateException] {
      PS.optimisticMerge(spark, t,
        Seq((1L, "A", "y")).toDF("k", "d", "v"), Seq("k"), "d",
        whenMatchedUpdate = Map("d" -> lit("Z")))
    }
    assert(e.getMessage.contains("partition rendering mismatch"),
      e.getMessage)
    assert(rows(t) == Set((1L, "A", "x")), "refusal must not commit")
  }

  test("optimisticMerge on a table with no committed snapshot refuses " +
      "(merge needs a target)") {
    val t = s"${tmp("omrg_nobase")}/t"
    val e = intercept[IllegalStateException] {
      PS.optimisticMerge(spark, t,
        Seq((1L, "A", "x")).toDF("k", "d", "v"), Seq("k"), "d")
    }
    assert(e.getMessage.contains("no committed snapshot"), e.getMessage)
  }

  test("schema evolution through the optimistic path: new source " +
      "columns land, pre-existing rows read them as null") {
    val t = s"${tmp("omrg_evolve")}/t"
    PS.write(spark, t, Seq((1L, "A", "a"), (2L, "B", "b"))
      .toDF("k", "d", "v"), "d")
    PS.optimisticMerge(spark, t,
      Seq((1L, "A", "a2", 7)).toDF("k", "d", "v", "extra"), Seq("k"),
      "d", whenMatchedUpdate = Map("v" -> PS.source("v"),
        "extra" -> PS.source("extra")),
      evolveSchema = true)
    val got = PS.read(spark, t).select("k", "v", "extra")
      .as[(Long, String, Option[Int])].collect().toSet
    assert(got == Set((1L, "a2", Some(7)), (2L, "b", None)), s"$got")
  }

  test("SQL MERGE INTO opts into the optimistic commit via SET " +
      "graft.merge.optimistic=true, with identical clause semantics") {
    val root = Files.createTempDirectory("graft_omrg_sql").toString
    spark.conf.set("spark.sql.catalog.snapm",
      "graft.plans.SnapshotSqlCatalog")
    spark.conf.set("spark.sql.catalog.snapm.root", root)
    val t = s"$root/mrg"
    PS.write(spark, t, Seq((1L, "A", "keep"), (2L, "A", "update-me"),
      (4L, "B", "other")).toDF("k", "d", "v"), "d")
    Seq((2L, "A", "updated"), (9L, "A", "inserted"))
      .toDF("k", "d", "v").createOrReplaceTempView("omrg_sql_src")
    spark.conf.set("graft.merge.optimistic", "true")
    try {
      spark.sql("""
        MERGE INTO snapm.mrg t USING omrg_sql_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *
      """)
    } finally spark.conf.unset("graft.merge.optimistic")
    assert(rows(t) == Set((1L, "A", "keep"), (2L, "A", "updated"),
      (9L, "A", "inserted"), (4L, "B", "other")))
    assert(PS.currentVersion(t).contains(2L))
    assert(PS.manifest(t, 2L)("__p=B") == 1L)
  }

  test("a DECLARED-SCHEMA change between prepare and commit is a " +
      "conflict: an evolveSchema merge racing ALTER TABLE ADD COLUMN " +
      "must not commit footers typed under the stale declaration") {
    val t = s"${tmp("omrg_schema")}/t"
    PS.write(spark, t, Seq((1L, "P", "v0")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(1)
    val slow = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        // the merge's prepare would add column x as STRING; the
        // concurrent ALTER declares x INT — neither serial order
        // produces STRING footers under a declared INT, so the race
        // must classify as a conflict (maxRetries=0 surfaces it)
        val src = Seq((1L, "P", "merged", "stringy")).toDS
          .map { r => OptimisticMergeGates.schemaGate.await(); r }
          .toDF("k", "d", "v", "x")
        PS.optimisticMerge(spark, t, src, Seq("k"), "d",
          whenMatchedUpdate = Map("v" -> PS.source("v")),
          evolveSchema = true, maxRetries = 0)
      }
    })
    awaitFile(s"$t/_snapshots/v00002/.reserved")
    // the preparer reserves under the table lock and frees it before
    // evaluating the gated source; ALTER (which does not wait for a held
    // lock) must land after that, not in the reservation's window
    awaitFile(s"$t.__lock", present = false)
    PS.addColumn(spark, t, "x",
      org.apache.spark.sql.types.IntegerType)
    OptimisticMergeGates.schemaGate.countDown()
    val e = intercept[java.util.concurrent.ExecutionException](
      slow.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(e.getCause.isInstanceOf[Incremental.ConcurrentWriteException],
      s"got ${e.getCause}")
    assert(e.getCause.getMessage.contains("schema"),
      s"conflict must name the schema change: ${e.getCause.getMessage}")
    // the table is untouched by the refused attempt: v1 rows, and the
    // declared column keeps the ALTER's INT type
    assert(rows(t) == Set((1L, "P", "v0")))
    val declared = org.apache.spark.sql.types.DataType.fromJson(
      PS.tableProps(t)("schema"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(declared("x").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }
}

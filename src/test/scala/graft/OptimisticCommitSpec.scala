package graft

import graft.operators.{Incremental, PartitionedSnapshots => PS}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors,
  TimeUnit}

/** Latches the optimistic-commit specs use to pin thread interleavings
  * deterministically. A singleton object so executor-side closures
  * resolve the SAME instance in local mode (Scala objects serialize as
  * module references). */
object OptimisticGates {
  // test 1: proves both writers are INSIDE their lock-free prepare at
  // the same time — meets only if data writes do not serialize
  val bothPreparing = new CyclicBarrier(2)
  // tests 2/3/4: block one writer's prepare until the other commits
  val overlapGate = new CountDownLatch(1)
  val refuseGate = new CountDownLatch(1)
  val bareOwnerGate = new CountDownLatch(1)
}

/** Optimistic concurrent commits (round-12 flagship): writers touching
  * DISJOINT partitions commit via prepare-then-validate without
  * serializing their data writes on the single-writer lock; overlapping
  * writers converge by bounded retry or refuse naming the conflict;
  * vacuum understands live preparations (heartbeated `.inflight`) and
  * bare data-owner dirs referenced by later manifests. */
class OptimisticCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").toString

  private def rows(t: String): Set[(Long, String, String)] =
    PS.read(spark, t).as[(Long, String, String)].collect().toSet

  private def awaitFile(path: String): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!Files.exists(Paths.get(path))) {
      assert(System.currentTimeMillis() < deadline, s"never appeared: $path")
      Thread.sleep(20)
    }
  }

  test("two optimistic writers on DISJOINT partitions run their data " +
      "writes concurrently (proven by a barrier inside both prepares) " +
      "and BOTH commit — no lost update, no refusal") {
    val t = s"${tmp("opt_disjoint")}/t"
    PS.write(spark, t, Seq((1L, "A", "seed")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(2)
    def writer(part: String, key: Long) = pool.submit(
      new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val batch = Seq((key, part, s"w_$part")).toDS
            .map { r =>
              // meets only while the OTHER writer is also evaluating
              // its prepare — impossible if the lock serialized them
              OptimisticGates.bothPreparing.await(60, TimeUnit.SECONDS)
              r
            }.toDF("k", "d", "v")
          PS.upsert(spark, t, batch, Seq("k"), "d")
        }
      })
    val (fa, fb) = (writer("B", 2L), writer("C", 3L))
    val (va, vb) = (fa.get(120, TimeUnit.SECONDS),
      fb.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // commit order is racy: the second committer lands on its reserved
    // number when still ahead of the pointer, else on a fresh one —
    // both outcomes are distinct committed versions, the later being
    // the table's current
    assert(va != vb && va > 1L && vb > 1L, s"got versions $va, $vb")
    assert(PS.currentVersion(t).contains(math.max(va, vb)))
    assert(rows(t) == Set((1L, "A", "seed"), (2L, "B", "w_B"),
      (3L, "C", "w_C")))
    // both manifests committed; the later one carries the earlier's
    // partition entry (the manifest merge)
    val m = PS.manifest(t, math.max(va, vb))
    assert(m.size == 3, s"manifest missing carried entries: $m")
  }

  test("overlapping optimistic writers: one wins, the loser " +
      "deterministically retries against the winner's result and " +
      "commits the merged partition — no row lost") {
    val t = s"${tmp("opt_overlap")}/t"
    PS.write(spark, t, Seq((1L, "P", "seed")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(1)
    val slow = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val batch = Seq((2L, "P", "slow")).toDS
          .map { r => OptimisticGates.overlapGate.await(); r }
          .toDF("k", "d", "v")
        PS.upsert(spark, t, batch, Seq("k"), "d")
      }
    })
    // wait until the slow writer has RESERVED v2 (its prepare is in
    // flight), then land a fast overlapping commit on the same
    // partition — the slow writer's validation must now conflict
    awaitFile(s"$t/_snapshots/v00002/.reserved")
    val fast = PS.upsert(spark, t,
      Seq((3L, "P", "fast")).toDF("k", "d", "v"), Seq("k"), "d")
    assert(fast == 3L, s"fast writer committed v$fast")
    OptimisticGates.overlapGate.countDown()
    val slowV = slow.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    // retry reserved a fresh number above the winner's
    assert(slowV == 4L, s"loser retried to v$slowV")
    assert(rows(t) == Set((1L, "P", "seed"), (2L, "P", "slow"),
      (3L, "P", "fast")), "retry must merge the winner's rows")
  }

  test("maxRetries exhausted: the lost race refuses with a " +
      "ConcurrentWriteException naming the partition and the version " +
      "that took it; the prepared dir is reclaimed") {
    val t = s"${tmp("opt_refuse")}/t"
    PS.write(spark, t, Seq((1L, "P", "seed")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(1)
    val slow = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val batch = Seq((2L, "P", "slow")).toDS
          .map { r => OptimisticGates.refuseGate.await(); r }
          .toDF("k", "d", "v")
        PS.upsert(spark, t, batch, Seq("k"), "d",
          maxRetries = 0)
      }
    })
    awaitFile(s"$t/_snapshots/v00002/.reserved")
    PS.upsert(spark, t,
      Seq((3L, "P", "fast")).toDF("k", "d", "v"), Seq("k"), "d")
    OptimisticGates.refuseGate.countDown()
    val e = intercept[java.util.concurrent.ExecutionException] {
      slow.get(120, TimeUnit.SECONDS)
    }
    pool.shutdown()
    assert(e.getCause.isInstanceOf[Incremental.ConcurrentWriteException],
      s"got ${e.getCause}")
    val msg = e.getCause.getMessage
    assert(msg.contains("__p=P") && msg.contains("taken by v3") &&
      msg.contains("maxRetries=0"), msg)
    // loser's prepared dir reclaimed on refusal; table readable and
    // shows only the winner's commit
    assert(!Files.exists(Paths.get(s"$t/_snapshots/v00002")),
      "refused writer must reclaim its prepared dir")
    assert(rows(t) == Set((1L, "P", "seed"), (3L, "P", "fast")))
  }

  test("pointer passing the reserved number: the commit lands under a " +
      "fresh version whose manifest references the prepared dir as a " +
      "bare data OWNER; vacuum keeps the referenced bare dir and " +
      "reclaims it only when no retained manifest points at it") {
    val t = s"${tmp("opt_bare")}/t"
    PS.write(spark, t, Seq((1L, "A", "seed")).toDF("k", "d", "v"), "d")
    val pool = Executors.newFixedThreadPool(1)
    val slow = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val batch = Seq((2L, "B", "slow")).toDS
          .map { r => OptimisticGates.bareOwnerGate.await(); r }
          .toDF("k", "d", "v")
        PS.upsert(spark, t, batch, Seq("k"), "d")
      }
    })
    // slow writer holds reservation v2; a DISJOINT writer commits v3
    // first, so slow's validation passes but its number is behind the
    // pointer → it must commit as v4 with owner entries at v2
    awaitFile(s"$t/_snapshots/v00002/.reserved")
    assert(PS.upsert(spark, t,
      Seq((3L, "C", "fast")).toDF("k", "d", "v"), Seq("k"), "d") == 3L)
    OptimisticGates.bareOwnerGate.countDown()
    assert(slow.get(120, TimeUnit.SECONDS) == 4L)
    pool.shutdown()
    assert(PS.currentVersion(t).contains(4L))
    assert(!PS.hasManifest(t, 2L), "v2 is a bare data-owner dir")
    assert(PS.manifest(t, 4L)("__p=B") == 2L,
      "v4's manifest must reference the prepared dir as owner")
    assert(rows(t) == Set((1L, "A", "seed"), (2L, "B", "slow"),
      (3L, "C", "fast")))
    // vacuum keeps the bare dir while any retained manifest references
    // it (ownership, not own-manifest presence, decides reclamation)
    assert(PS.vacuum(t, keep = 1).isEmpty)
    assert(Files.exists(Paths.get(s"$t/_snapshots/v00002")))
    assert(rows(t).size == 3)
    // rewrite partition B: v2 loses its last reference → reclaimed —
    // once its .reserved ages past the liveness horizon (vacuum
    // cannot tell a freshly-created unreferenced bare dir from a live
    // preparer's, so it defers inside the horizon; age it here)
    PS.upsert(spark, t, Seq((2L, "B", "rewritten")).toDF("k", "d", "v"),
      Seq("k"), "d")
    Files.setLastModifiedTime(
      Paths.get(s"$t/_snapshots/v00002/.reserved"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Incremental.DefaultLockStaleMs
          - 1000))
    val dropped = PS.vacuum(t, keep = 1)
    assert(dropped.contains(2L), s"unreferenced bare dir must go: $dropped")
    assert(rows(t) == Set((1L, "A", "seed"), (2L, "B", "rewritten"),
      (3L, "C", "fast")))
  }

  test("vacuum grace for LIVE preparations: an above-pointer dir with " +
      "a fresh .inflight marker survives vacuum; a crashed preparer's " +
      "stale marker (beats stopped) is reclaimed") {
    val t = s"${tmp("opt_inflight")}/t"
    PS.write(spark, t, Seq((1L, "A", "seed")).toDF("k", "d", "v"), "d")
    // simulate a preparer that reserved v2 and is mid-writeData
    val dir = Paths.get(s"$t/_snapshots/v00002")
    Files.createDirectories(dir)
    Files.write(dir.resolve(".reserved"), Array.emptyByteArray)
    Files.write(dir.resolve(".inflight"), Array.emptyByteArray)
    assert(PS.vacuum(t, keep = 1).isEmpty,
      "a live preparation must survive vacuum")
    assert(Files.exists(dir))
    // the preparer crashes: beats stop, the markers age past the
    // horizon (.reserved is also a liveness signal for BARE dirs —
    // it covers the moment between reservation and the .inflight
    // write, when a vacuum could otherwise reclaim a live reservation)
    val stale = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - Incremental.DefaultLockStaleMs - 1000)
    Files.setLastModifiedTime(dir.resolve(".inflight"), stale)
    assert(PS.vacuum(t, keep = 1).isEmpty,
      "a fresh .reserved alone must still grace the bare dir")
    Files.setLastModifiedTime(dir.resolve(".reserved"), stale)
    assert(PS.vacuum(t, keep = 1).contains(2L),
      "a crashed preparation must be reclaimed once stale")
    assert(!Files.exists(dir))
  }

  test("PROPERTY: N racing disjoint optimistic writers are equivalent " +
      "to any serial order — all commit, the final row set is the " +
      "serial union, and every partition resolves to its writer's data") {
    val t = s"${tmp("opt_prop")}/t"
    val serial = s"${tmp("opt_prop_serial")}/t"
    PS.write(spark, t, Seq((0L, "seed", "s")).toDF("k", "d", "v"), "d")
    PS.write(spark, serial, Seq((0L, "seed", "s")).toDF("k", "d", "v"),
      "d")
    val n = 6
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val futures = (1 to n).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          PS.upsert(spark, t,
            Seq((w.toLong, s"P$w", s"writer_$w")).toDF("k", "d", "v"),
            Seq("k"), "d")
        }
      })
    }
    start.countDown()
    val versions = futures.map(_.get(180, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.distinct.size == n, s"duplicate versions: $versions")
    (1 to n).foreach { w =>
      PS.upsert(spark, serial,
        Seq((w.toLong, s"P$w", s"writer_$w")).toDF("k", "d", "v"),
        Seq("k"), "d")
    }
    assert(rows(t) == rows(serial), "racing result must equal serial")
    // the final manifest resolves every partition exactly once
    val m = PS.manifest(t, PS.currentVersion(t).get)
    assert(m.size == n + 1, s"manifest entries: $m")
    // and the table survives a vacuum (owner references all intact)
    PS.vacuum(t, keep = 1)
    assert(rows(t) == rows(serial))
  }
}

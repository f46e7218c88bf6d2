package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path

/** Incremental "delete+insert" materializer with a sliding late-data window.
  *
  * Re-expresses the reference's dbt incremental models
  * (`materialized='incremental', unique_key=…, incremental_strategy=
  * 'delete+insert'` — stg_clickstream_events.sql:1-6 and siblings) plus their
  * 1-day lookback predicate (`ts >= max(ts) - INTERVAL 1 DAY` over the
  * target, stg_orders.sql:17-25) on plain Parquet, transactionally via a
  * write-to-temp-then-atomic-swap protocol (the reference leans on DuckDB's
  * single-file transactionality; SURVEY.md §7.4 risk 2).
  *
  * All commit-control operations (lock sidecar, dir swap, existence checks)
  * go through a [[CommitStore]] — `CommitStore.local` (java.nio, atomic on
  * POSIX) by default, `CommitStore.hadoop()` for HDFS-class stores; see the
  * per-store atomicity map on [[CommitStore]]. Data reads/writes were always
  * storage-agnostic (Spark's Hadoop IO stack).
  *
  * Scale notes: the upsert is `target left_anti updates ∪ updates`. The
  * anti-join shuffles both sides on the key — at 100 TB you avoid rewriting
  * unrelated data by FIRST pruning the target to the partitions the updates
  * can touch (delete+insert at partition granularity,
  * `partitionOverwriteMode=dynamic`); `upsertPartitioned` does exactly that,
  * so only affected date partitions are read or rewritten and the anti-join
  * runs over a sliver of the table.
  */
object Incremental {

  /** Thrown when another writer holds the target's lock. The caller must
    * retry or surface the conflict — it must NOT proceed, because two
    * interleaved swap/delete sequences can silently lose one writer's
    * rows (the reference inherits DuckDB's file lock here; plain parquet
    * has no equivalent, so the materializer brings its own). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** A crashed writer's lock is stolen after this long without mtime
    * progress (writers touch the lock only at acquire, and a normal
    * upsert finishes far inside this window). */
  val DefaultLockStaleMs: Long = 10 * 60 * 1000L

  /** Spin-with-backoff around a body that throws
    * [[ConcurrentWriteException]] on transient contention — the ONE
    * lock-queue policy every caller that must outwait a short-lived
    * holder shares (the optimistic commit section's lock take, the
    * streaming sink's serializing fallback). The lock itself stays
    * non-blocking (the right contract for long data-writing holders,
    * where queueing would hide a stall); this helper is for callers
    * whose contention is known-transient. Gives up (rethrows) past
    * 2× the staleness horizon — a holder older than that is stolen by
    * acquire itself, so waiting longer only hides a real wedge. */
  private[graft] def spinOnContention[A](maxDelayMs: Long = 1000L)
      (body: => A): A = {
    val deadline = System.currentTimeMillis() + 2 * DefaultLockStaleMs
    var delay = 20L
    while (true) {
      try return body
      catch {
        case e: ConcurrentWriteException =>
          if (System.currentTimeMillis() >= deadline) throw e
          Thread.sleep(delay)
          delay = math.min(delay * 2, maxDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A consumer's sidecar: the arrival high mark it processed through,
    * the content signature of the slack re-admit window as of that mark
    * (round-9), and the fingerprint of the source's file listing the
    * mark was computed over, when the caller gave one. */
  private final case class Sidecar(mark: java.sql.Timestamp,
      sig: Option[String], listing: Option[String])

  private[graft] def lockPath(target: Path): Path =
    java.nio.file.Paths.get(target.toString + ".__lock")

  private def lockFor(target: String): String = target + ".__lock"

  /** Content prefix marking a released lock on CAS-capable (object
    * store) bindings, where the lock object is never deleted — see
    * [[release]]. Tokens are UUID-led and can never collide with it. */
  private[graft] val ReleasedMarker = "released"

  private def parentOf(path: String): Option[String] = {
    val i = path.lastIndexOf('/')
    if (i > 0) Some(path.substring(0, i)) else None
  }

  /** Acquire the single-writer lock for `target`: atomic create-if-absent
    * of a sidecar lock file carrying a unique ownership token (returned;
    * [[release]] needs it back).
    *
    * An existing lock older than `staleMs` is a crashed writer's and is
    * STOLEN — through a STEAL ARBITER, a second create-if-absent lock at
    * `<lock>.steal`. Why not tombstone-rename the lock itself (rounds
    * 5-6) or delete-then-create (rounds 1-4)? Both are CONTENT-BLIND
    * operations on the live lock path: a stealer acting on a seconds-old
    * staleness decision can move/delete a FRESH lock another writer just
    * created, and while the path sits empty a third writer's create
    * succeeds — mutual exclusion lost (reproduced by the racing-stealers
    * spec). The arbiter closes it: (1) `createNew(<lock>.steal)` admits
    * exactly ONE stealer — losers conflict immediately and never touch
    * the lock; (2) the winner RE-VERIFIES, inside the arbiter section,
    * that the lock still carries the very token-and-staleness it
    * observed — only then deletes it. Nothing else deletes the lock
    * path (release is token-guarded), so a fresh lock can no longer be
    * disturbed by any steal interleaving. A crashed arbiter holder is
    * cleaned by the same staleness horizon: the arbiter protects
    * microseconds of work, so an arbiter file older than `staleMs` is
    * unambiguously dead (tombstone-renamed to a unique name — safe
    * because an ACTIVE arbiter is never anywhere near the horizon).
    *
    * CAS-capable bindings (object stores; round-9) take a PUT-only path
    * instead: steal and released-lock reacquire are each ONE
    * `putIfWitness` (`PUT If-Match: <etag>`) on the very generation the
    * staleness/released decision observed, and [[release]] CAS-writes a
    * `released` marker rather than deleting. The arbiter exists to
    * compensate rename-based stores for exactly this missing CAS; with
    * a native one there is no delete anywhere in the lock lifecycle —
    * which is what real S3 (conditional PUT only, NO conditional
    * DELETE) can actually serialize. */
  private[graft] def acquire(target: String,
      staleMs: Long = DefaultLockStaleMs,
      store: CommitStore = CommitStore.local): String = {
    val lock = lockFor(target)
    parentOf(target).foreach(store.mkdirs)
    val token =
      s"${java.util.UUID.randomUUID()} pid=${ProcessHandle.current.pid} " +
        s"ts=${System.currentTimeMillis()}"
    def tryCreate(): Boolean = store.createNew(lock, token.getBytes("UTF-8"))
    def isStale(m: Option[Long]): Boolean =
      m.exists(t => System.currentTimeMillis() - t > staleMs)
    if (tryCreate()) return token
    // ── CAS-capable bindings (object stores): the PUT-only lock ──
    // S3 has no conditional DELETE, so the delete-based steal below
    // cannot be made race-free there. On a binding with a native
    // compare-and-swap (`PUT If-Match`) the whole lifecycle avoids
    // deletes instead: release() CAS-writes a `released` marker (the
    // lock object persists), and both "reacquire a released lock" and
    // "steal a stale lock" are ONE conditional overwrite — atomic on
    // the very generation we observed, so a fresh or concurrently-taken
    // lock can never be displaced. No arbiter, no tombstone, no
    // check-then-act window anywhere.
    if (store.casCapable) {
      store.readWithWitness(lock) match {
        case Some((bytes, witness)) =>
          val content = new String(bytes, "UTF-8")
          val free = content.startsWith(ReleasedMarker) ||
            isStale(store.modifiedMs(lock))
          if (free && store.putIfWitness(lock, witness,
              token.getBytes("UTF-8"))) return token
          throw new ConcurrentWriteException(
            if (free) s"$target lock was taken by a concurrent writer " +
              s"during a CAS acquire ($lock)"
            else s"$target is locked by a concurrent writer ($lock; " +
              s"stale-expires after ${staleMs} ms)")
        case None => // vanished between createNew and read: retry once
          if (tryCreate()) return token
          throw new ConcurrentWriteException(
            s"$target is locked by a concurrent writer ($lock)")
      }
    }
    val observed = store.read(lock)
    if (isStale(store.modifiedMs(lock)) && observed.nonEmpty) {
      val arbiter = lock + ".steal"
      if (isStale(store.modifiedMs(arbiter))) {
        // crashed stealer's arbiter: unique-tombstone it (one cleaner
        // wins the rename; the others see the source gone)
        val tomb = arbiter + ".tomb-" + java.util.UUID.randomUUID()
        if (store.rename(arbiter, tomb, replaceExisting = false))
          store.delete(tomb)
      }
      if (store.createNew(arbiter, token.getBytes("UTF-8"))) {
        try {
          val still = store.read(lock)
          if (still.map(_.toSeq) == observed.map(_.toSeq) &&
              isStale(store.modifiedMs(lock))) {
            store.delete(lock) // verified: the dead writer's lock
          } else
            throw new ConcurrentWriteException(
              s"$target lock was refreshed by a concurrent writer " +
                s"during a stale-steal attempt ($lock)")
        } finally store.delete(arbiter)
      } else
        throw new ConcurrentWriteException(
          s"$target is being stolen by a concurrent writer " +
            s"($arbiter exists)")
    }
    if (!tryCreate())
      throw new ConcurrentWriteException(
        s"$target is locked by a concurrent writer ($lock; " +
          s"stale-expires after ${staleMs} ms)")
    token
  }

  /** Release the lock IF we still own it: a writer stalled past `staleMs`
    * whose lock was stolen must not delete the thief's lock (that would
    * admit a third concurrent writer). Token mismatch is logged-by-return,
    * not an error — the stall itself already surfaced as slowness. */
  private[graft] def release(target: String, token: String,
      store: CommitStore = CommitStore.local): Boolean = {
    val lock = lockFor(target)
    if (store.casCapable) {
      // PUT-only release: CAS the lock to a `released` marker. Stronger
      // than the delete path's check-then-act — if the lock was stolen
      // between our read and the put, the witness changed and the CAS
      // fails, so a stalled writer can never clobber the thief's lock
      // even in that window. The marker object persists (one tiny
      // object per table); acquire treats it as free.
      return store.readWithWitness(lock) match {
        case Some((bytes, witness))
            if new String(bytes, "UTF-8") == token =>
          store.putIfWitness(lock, witness,
            (ReleasedMarker + s" ts=${System.currentTimeMillis()}")
              .getBytes("UTF-8"))
        case _ => false
      }
    }
    val owned = store.read(lock)
      .map(b => new String(b, "UTF-8")).contains(token)
    if (owned) store.delete(lock)
    owned
  }

  /** Lock HEARTBEAT (round-9): a writer legitimately running past
    * `staleMs` — a first-commit backfill, a huge compaction — must not
    * have its live lock stolen mid-write (two writers = silent row
    * loss; the staleness horizon exists for CRASHED writers only). A
    * daemon thread re-verifies ownership and touches the lock every
    * `staleMs / 3`, so stealers keep seeing a fresh mtime for as long
    * as the writer is actually alive, while a genuine crash stops the
    * beats and the horizon reclaims the lock exactly as before.
    * Ownership is re-checked before every touch — a beat that finds a
    * different token (this lock was already stolen during a pause
    * longer than the horizon, e.g. a stop-the-world GC) stops
    * immediately rather than freshening the thief's lock; on CAS
    * bindings the touch itself is witness-guarded, closing even the
    * read-then-touch window. */
  private def startHeartbeat(lock: String, token: String, staleMs: Long,
      store: CommitStore): Thread = {
    val interval = math.max(staleMs / 3, 50L)
    val t = new Thread(() => {
      try {
        var beating = true
        while (beating && !Thread.currentThread().isInterrupted) {
          Thread.sleep(interval)
          val owned = store.read(lock)
            .map(b => new String(b, "UTF-8")).contains(token)
          beating = owned && store.touch(lock)
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat:$lock")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Run `body` holding `target`'s single-writer lock, heartbeating it
    * so a long-running writer survives the staleness horizon. */
  private[graft] def withLock[A](target: String, staleMs: Long,
      store: CommitStore)(body: => A): A = {
    val token = acquire(target, staleMs, store)
    val hb = startHeartbeat(lockFor(target), token, staleMs, store)
    try body finally {
      // interrupt AND join before releasing: on CAS bindings a beat
      // in flight would change the witness under release's read,
      // failing the release CAS and leaving the lock held until the
      // staleness horizon
      hb.interrupt()
      hb.join(10000)
      release(target, token, store)
    }
  }

  private[graft] def withLock[A](target: String)(body: => A): A =
    withLock(target, DefaultLockStaleMs, CommitStore.local)(body)

  private[graft] def withLock[A](target: Path)(body: => A): A =
    withLock(target.toString, DefaultLockStaleMs, CommitStore.local)(body)

  /** [[withLock]] for writers whose lock section is short. The lock is
    * NON-blocking ([[acquire]] throws on contention — the right contract
    * for long data-writing holders, where queueing would hide a stall).
    * A DML writer's reserve and commit sections, and every writer whose
    * lock section holds only metadata work (publish, initTable,
    * addColumn, the stats and index prop setters, constraints,
    * generated columns, tags), last milliseconds, so contention there is
    * transient by construction: spin with exponential backoff until the
    * lock frees, bounded by the staleness horizon (a holder older than
    * that is stolen by acquire itself). This is what lets N racing
    * writers all commit instead of all-but-one refusing at the lock. */
  private[graft] def withCommitLock[A](target: String, store: CommitStore)
      (body: => A): A =
    spinOnContention() {
      withLock(target, DefaultLockStaleMs, store)(body)
    }

  /** input_file_name() returns a URI string; normalize `file:` URIs back
    * to local paths (the local store's currency) and keep other schemes
    * as-is (the Hadoop store resolves them by scheme). Shared by the
    * partition-granular cleanups (Incremental, Retention). */
  private[operators] def parentDirOf(fileUri: String): String = {
    val uri = java.net.URI.create(fileUri)
    val p =
      if (uri.getScheme == "file")
        java.nio.file.Paths.get(uri).toString.replace('\\', '/')
      else fileUri
    p.substring(0, p.lastIndexOf('/'))
  }

  /** Shared tmp+swap primitive: `writeTmp` materializes the new contents
    * at `<target>.__tmp`, which is then swapped into place with the old
    * data parked at `<target>.__old` until the swap completes. Every
    * rename result is CHECKED (ADVICE r6 high: `CommitStore.rename`
    * reports failure as false — ignoring it could fall through to
    * deleting the only surviving copy); a failed tmp→target flip
    * restores the previous data before throwing. Callers hold the
    * single-writer lock. Used by the Incremental materializer and the
    * MaterializedAgg/SketchDistinct rollup folds — one swap
    * implementation, one contract. */
  /** Content signature for cheap change detection: `(count,
    * Σ xxhash64(row) as decimal)` over the rows of `df` projected to
    * `cols` (a CANONICAL — name-sorted — union schema with casts, so
    * both sides of a comparison hash identical bytes for identical
    * logical rows). `by = Some(p)` returns one signature per group.
    * One narrow map-side-combined aggregate — no full-row shuffle;
    * detection misses only on a 64-bit hash-sum collision (~n·2⁻⁶⁴).
    *
    * NULL anchoring (ADVICE r8 high): Spark's `HashExpression` leaves
    * the accumulator UNTOUCHED for a null child, so hashing the raw
    * columns makes (a='x', b=NULL) and (a=NULL, b='x') collide
    * deterministically for same-typed columns — a null-swap update
    * would be skipped by the no-op short circuit. Interleaving each
    * column's `isNull` flag (never null itself) anchors every value to
    * its position: the flag sequence differs whenever the null pattern
    * differs, restoring the ~n·2⁻⁶⁴ collision class. */
  private[graft] def contentSig(df: DataFrame,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)],
      by: Option[String]): Map[Any, (Long, Any)] = {
    val aligned = cols.map { case (n, t) =>
      (if (df.columns.contains(n)) col(n) else lit(null)).cast(t).as(n) }
    val base = df.select(aligned: _*)
    val h = xxhash64(cols.flatMap(c =>
        Seq(col(c._1).isNull, col(c._1))): _*)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    by match {
      case Some(p) =>
        base.groupBy(col(p))
          .agg(count(lit(1)).as("__n"), sum(h).as("__s"))
          .collect().map(r => r.get(0) -> ((r.getLong(1), r.get(2))))
          .toMap
      case None =>
        val r = base.agg(count(lit(1)).as("__n"), sum(h).as("__s")).first()
        Map((null: Any) -> ((r.getLong(0), r.get(1))))
    }
  }

  /** The canonical (name-sorted) union schema of two frames — the
    * projection [[contentSig]] compares under. */
  private[graft] def unionSchemaOf(a: DataFrame, b: DataFrame)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    a.limit(0).unionByName(b.limit(0), allowMissingColumns = true)
      .schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq

  private[graft] def atomicOverwrite(store: CommitStore, target: String)(
      writeTmp: String => Unit): Unit = {
    val tmp = target + ".__tmp"
    val old = target + ".__old"
    store.deleteRecursively(tmp); store.deleteRecursively(old)
    writeTmp(tmp)
    val hadTarget = store.exists(target)
    if (hadTarget && !store.rename(target, old, replaceExisting = false))
      throw new java.io.IOException(
        s"atomic swap failed: could not move $target aside to $old; " +
          "previous data left untouched, merged batch remains at " + tmp)
    if (!store.rename(tmp, target, replaceExisting = false)) {
      val restored =
        !hadTarget || store.rename(old, target, replaceExisting = false)
      throw new java.io.IOException(
        s"atomic swap failed: could not move $tmp into place at $target" +
          (if (restored) "; previous data restored"
           else s"; RESTORE ALSO FAILED — previous data is at $old"))
    }
    store.deleteRecursively(old)
  }
}

final class Incremental(spark: SparkSession,
    store: CommitStore = CommitStore.local) {

  /** A processed-through SLIVER of a source (see [[sliverWindow]]):
    * `df` is the narrowed source, `narrowed` says whether a recorded
    * high-watermark actually applied (false = full-overlap fallback),
    * `empty` that the sliver provably holds nothing the consumer has not
    * already processed (its `df` then has no rows), and `advance()` —
    * called AFTER the consuming materialization commits, or in place of
    * it when the consumer skips an empty sliver — records the new high
    * mark for the next run. `df` is built on first use, so a sliver
    * proved empty from its source's listing never reads the source. */
  final class Sliver(source: => DataFrame, val narrowed: Boolean,
      val empty: Boolean, val advance: () => Unit) {
    lazy val df: DataFrame = source
  }

  private def wmPath(targetPath: String) = targetPath + ".__wm"

  /** The sidecar recorded for `targetPath`; one recorded for a different
    * column reads as absent entirely. */
  private def sidecarOf(targetPath: String, arrivalCol: String)
      : Option[Incremental.Sidecar] =
    store.read(wmPath(targetPath)).flatMap { b =>
      val kv = new String(b, "UTF-8").split("\n")
        .filter(_.contains("=")).map { l =>
          val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      // a sidecar recorded for a different column must not narrow this
      // consumer's window
      if (!kv.get("col").contains(arrivalCol)) None
      else kv.get("micros").flatMap(m => scala.util.Try {
        java.sql.Timestamp.from(
          java.time.Instant.EPOCH.plus(m.toLong,
            java.time.temporal.ChronoUnit.MICROS))
      }.toOption).map(ts =>
        Incremental.Sidecar(ts, kv.get("sig"), kv.get("fp")))
    }

  /** The arrival high-watermark recorded for `targetPath`'s consumer by
    * a previous [[Sliver.advance]], if present and well-formed (a torn
    * or legacy sidecar reads as None — the consumer falls back to the
    * full-overlap window, which is always correct). */
  def processedThrough(targetPath: String,
      arrivalCol: String): Option[java.sql.Timestamp] =
    sidecarOf(targetPath, arrivalCol).map(_.mark)

  /** ARRIVAL-TRACKED sliver window — the day-2 steady-state
    * optimization over the pure lookback contract. The dbt-style
    * lookback re-reads `tsCol >= max(target.tsCol) - lookback` every
    * run, so two runs minutes apart in processing time re-merge the
    * full lookback volume even when almost nothing arrived in between
    * (the measured worst case of the delete+insert contract). This
    * engine can do better because it REMEMBERS: a sidecar records the
    * max arrival value the consumer has already processed, and the next
    * run reads only `arrivalCol >= recorded - slack` — the actually-new
    * rows plus a bounded re-admit margin.
    *
    * Correctness story: delete+insert by unique key is IDEMPOTENT, so
    * re-admitting rows costs only IO, while MISSING a row loses data —
    * hence (1) `slack` covers bounded arrival disorder (writer clock
    * skew across executors/batches; arrival columns are assigned at
    * ingest so disorder is small and bounded, unlike event time);
    * (2) an absent, torn, or column-mismatched sidecar disables
    * narrowing entirely (`narrowed = false`) — the crash-recovery path
    * IS the original full-overlap window; (3) `advance()` runs only
    * after the consumer's commit, so a crashed run re-reads its sliver.
    * The recorded mark is `max(previous, max(sliver arrival))` — rows
    * outside the sliver are below `previous - slack` by construction,
    * so scanning only the sliver for the new max is exact.
    *
    * "Nothing new" is proved in two steps, cheapest first, and yields
    * an `empty` sliver the consumer may skip outright:
    *  - LISTING PROOF: `listing` is a fingerprint of the source's file
    *    listing, which the sidecar records next to the mark. It must
    *    move whenever the source's rows can: relative paths and sizes
    *    suffice for a source whose writer never rewrites a file under
    *    its old name (a model materialization), while files written
    *    from outside also need their modification times. When it equals
    *    the recorded one, the source holds the files the recorded mark
    *    was computed over, unchanged, so the sliver is empty with no
    *    Spark job and without building `source` at all. The caller takes the listing BEFORE the sliver
    *    scans the source, so the recorded fingerprint never covers more
    *    than the scan read: a file that lands (or is replaced) in
    *    between is read but not fingerprinted, the next run's listing
    *    differs from the recorded one, and that run falls through to
    *    the row proof (under-crediting, never a loss).
    *  - ROW PROOF: otherwise one aggregate over the sliver computes the
    *    new max and the re-admit window's signature (see below).
    *
    * Narrowing composes with (does not replace) the model's reference
    * lookback filter: apply [[lateWindow]] on `Sliver.df` — the
    * effective window is the INTERSECTION, so rows the reference
    * contract would drop are still dropped. */
  def sliverWindow(source: => DataFrame, targetPath: String,
      arrivalCol: String, slack: String = "1 HOUR",
      listing: Option[String] = None): Sliver = {
    lazy val src = source // built at most once, and only when needed
    val sidecar = sidecarOf(targetPath, arrivalCol)
    def record(mark: java.sql.Timestamp, sig: String): Unit = {
      val micros = java.time.temporal.ChronoUnit.MICROS
        .between(java.time.Instant.EPOCH, mark.toInstant)
      store.write(wmPath(targetPath),
        (s"col=$arrivalCol\nmicros=$micros\nsig=$sig" +
          listing.fold("")(l => s"\nfp=$l")).getBytes("UTF-8"))
    }
    if (listing.isDefined && sidecar.exists(_.listing == listing))
      return new Sliver(src.limit(0), narrowed = true, empty = true,
        advance = () => ())
    val df = sidecar match {
      case Some(sc) => src.filter(col(arrivalCol).cast("timestamp") >=
        lit(sc.mark) - expr(s"INTERVAL $slack"))
      case None => src
    }
    // All marks and signatures are computed HERE, at sliver creation —
    // strictly BEFORE the consuming materialization lists the source —
    // never by a later scan inside advance() (the r8 verdict race: a
    // file landing between the consumer's pass and a later advance()
    // scan would credit rows the consumer never processed). Everything
    // credited at creation is a SUBSET of what the later
    // materialization reads (append-only source: a listing at T0 ⊆ a
    // listing at T1>T0), so under-crediting — the safe,
    // idempotent-re-admit direction — is the only possible error, even
    // with slack = 0.
    //
    // WINDOW SIGNATURE (round-9, the day-3 floor): the slack re-admit
    // makes every steady-state run re-process `slack` worth of already-
    // processed rows — by design free in correctness, but it is the
    // whole remaining cost when NOTHING new arrived. The sidecar
    // therefore also records (count, xxhash64-sum) over the re-admit
    // window as of the recorded mark; the next run recomputes that
    // signature in its creation pass and, when the mark has not
    // advanced AND the window's content is bit-identical, the sliver is
    // PROVABLY empty — the consumer gets zero rows and may skip its
    // materialization. A late-listed row INSIDE the window changes the
    // signature and restores the full re-admit; a legacy sidecar (no
    // sig) always re-admits. Null anchoring matches contentSig: isNull
    // flags interleave so a null-swap can never alias.
    val rowHash = xxhash64(df.columns.toSeq.flatMap(c =>
        Seq(col(c).isNull, col(c))): _*)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    def sigStr(cnt: Long, hs: Any): String =
      s"$cnt:${Option(hs).map(_.toString).getOrElse("null")}"
    def windowSig(mark: java.sql.Timestamp): String = {
      val r = df.filter(col(arrivalCol).cast("timestamp") >=
          lit(mark) - expr(s"INTERVAL $slack"))
        .agg(count(lit(1)), sum(rowHash)).first()
      sigStr(r.getLong(0), r.get(1))
    }
    sidecar match {
      case Some(sc) =>
        val p = sc.mark
        // one narrow pass: new max + the old window's signature
        val oldWin = col(arrivalCol).cast("timestamp") <= lit(p)
        val r = df.agg(
          max(col(arrivalCol).cast("timestamp")),
          count(when(oldWin, lit(1))),
          sum(when(oldWin, rowHash))).first()
        val mx = if (r.isNullAt(0)) None else Some(r.getTimestamp(0))
        val curSig = sigStr(r.getLong(1), r.get(2))
        val advanced = mx.exists(_.getTime > p.getTime)
        if (!advanced && sc.sig.contains(curSig))
          // provably nothing new: empty sliver. The mark and signature
          // are already current; a moved listing (same rows under new
          // file names) is re-stamped so the next run's listing proof
          // holds again
          new Sliver(df.limit(0), narrowed = true, empty = true,
            advance = () => if (listing.isDefined) record(p, curSig))
        else {
          val newMark = (Seq(p) ++ mx).maxBy(_.getTime)
          // unadvanced mark ⇒ no df row sits above p, so the re-admit
          // window anchored at p is exactly the rows pass 1 already
          // signed — reuse it instead of a second aggregate (the
          // late-row-inside-window case pays one pass, not two)
          val newSig = if (!advanced) curSig else windowSig(newMark)
          new Sliver(df, narrowed = true, empty = false,
            () => record(newMark, newSig))
        }
      case None =>
        val m = df.agg(max(col(arrivalCol).cast("timestamp"))).first()
        val sliverMax = if (m.isNullAt(0)) None else Some(m.getTimestamp(0))
        val recorded = sliverMax.map(ts => (ts, windowSig(ts)))
        new Sliver(df, narrowed = false, empty = false, () =>
          recorded.foreach { case (ts, sig) => record(ts, sig) })
    }
  }

  /** Scalar watermark: `coalesce(max(tsCol) - lookback, epoch)` over the
    * current target — collected to a literal so the source scan gets a
    * pushed-down, partition-prunable filter (SURVEY.md §4 "collected to
    * literals first"). */
  def watermark(targetPath: String, tsCol: String,
                lookback: String): Option[java.sql.Timestamp] =
    if (!store.exists(targetPath)) None
    else {
      val row = spark.read.parquet(targetPath)
        .agg(max(col(tsCol).cast("timestamp") - expr(s"INTERVAL $lookback")))
        .first()
      if (row.isNullAt(0)) None else Some(row.getTimestamp(0))
    }

  /** Filter `source` to rows at-or-after the target watermark (`>=`, the
    * standardized comparator — SURVEY.md §2.12 item 4). */
  def lateWindow(source: DataFrame, targetPath: String, tsCol: String,
                 lookback: String = "1 DAY"): DataFrame =
    watermark(targetPath, tsCol, lookback) match {
      case Some(wm) => source.filter(col(tsCol) >= lit(wm))
      case None     => source
    }

  /** Full-table delete+insert upsert by unique key, atomic swap.
    *
    * Schema evolution follows the reference's `on_schema_change:
    * append_new_columns` (dbt_project.yml:29,44): an update batch may carry
    * NEW columns (the reference's v1→v2 event schema) — existing target
    * rows read them as null; a batch may also MISS columns the target
    * already has (late v1 producers) — its rows get null there. Both
    * directions via `unionByName(allowMissingColumns)`; the target is read
    * with `mergeSchema` so a previously-evolved mixed-footer table
    * surfaces its union schema. */
  def upsert(targetPath: String, updates: DataFrame,
             keys: Seq[String]): Boolean = {
    // crash-safety (tmp+swap) does not cover CONCURRENT writers: two
    // interleaved read-merge-swap sequences each merge against the
    // pre-state and the second swap erases the first writer's rows. The
    // lock serializes the whole read-modify-write; a second writer gets
    // ConcurrentWriteException (retry) instead of silent data loss.
    Incremental.withLock(targetPath, Incremental.DefaultLockStaleMs, store) {
      val updatesCached = updates.cache()
      try {
        if (!store.exists(targetPath)) {
          atomicOverwrite(targetPath, updatesCached); true
        } else {
          val tgt = spark.read.option("mergeSchema", "true")
            .parquet(targetPath)
          val updKeys0 =
            updatesCached.select(keys.map(col): _*).distinct()
          // broadcast the (sliver-sized) key set so the semi/anti
          // passes below stream the target once instead of shuffling it
          val updKeys =
            if (updKeys0.count() <= 2000000L) broadcast(updKeys0)
            else updKeys0
          // NO-OP short circuit: if the update batch is content-equal
          // to the keyed rows it would replace, the delete+insert
          // replaces the table with identical content — skip the full
          // rewrite+swap. Compared by (count, Σ xxhash64(row)) over the
          // union schema: two NARROW map-side-combined aggregates
          // (decimal sum — no full-row shuffle, collision odds
          // ~n·2⁻⁶⁴), catching new keys (count differs), changed rows
          // and multiplicity (sum differs). Saves the whole-table
          // write on re-runs and sliver re-admits.
          val cols = Incremental.unionSchemaOf(tgt, updatesCached)
          val replaced = tgt.join(updKeys, keys, "left_semi")
          val unchanged =
            Incremental.contentSig(updatesCached, cols, None) ==
              Incremental.contentSig(replaced, cols, None)
          if (!unchanged) {
            val merged = tgt.join(updKeys, keys, "left_anti")
              .unionByName(updatesCached, allowMissingColumns = true)
            atomicOverwrite(targetPath, merged)
          }
          !unchanged
        }
      } finally updatesCached.unpersist()
    }
  }

  /** Partition-granular delete+insert: only partitions present in `updates`
    * are read, merged, and rewritten (dynamic partition overwrite). */
  def upsertPartitioned(targetPath: String, updates: DataFrame,
                        keys: Seq[String], partCol: String): Boolean = {
    // same single-writer serialization as upsert: the delete-then-
    // dynamic-overwrite sequence is crash-safe but not concurrency-safe
    Incremental.withLock(targetPath, Incremental.DefaultLockStaleMs, store) {
      if (!store.exists(targetPath)) {
        updates.write.partitionBy(partCol).mode(SaveMode.Overwrite)
          .parquet(targetPath)
        true
      } else
        upsertPartitionedLocked(targetPath, updates, keys, partCol)
    }
  }

  private def upsertPartitionedLocked(targetPath: String, updates: DataFrame,
                                      keys: Seq[String],
                                      partCol: String): Boolean = {
    val updatesCached = updates.cache()
    val updKeys0 = updatesCached.select(keys.map(col): _*).distinct().cache()
    // the key set is sliver-sized at steady state; broadcasting it
    // turns every target⋈keys semi/anti below into a single broadcast
    // pass over the target instead of a full wide-row shuffle (the
    // auto threshold won't, at ~10 MB). Guarded: a backfill-scale key
    // set falls back to the shuffle join.
    val updKeys =
      if (updKeys0.count() <= 2000000L) broadcast(updKeys0) else updKeys0
    try {
      // Partition discovery re-INFERS the partition column's type from the
      // dir names (a "2024-01-01" string partCol comes back as DATE);
      // normalize to the updates' type or partition values from the two
      // sides never compare equal. mergeSchema: a previously-evolved
      // target may carry mixed footers (see upsert's evolution contract).
      def target() = spark.read.option("mergeSchema", "true")
        .parquet(targetPath).withColumn(partCol,
          col(partCol).cast(updatesCached.schema(partCol).dataType))
      // Delete scope must cover every partition an updated key CURRENTLY
      // lives in, not just the partitions the update rows land in: if an
      // update moves key K across partitions, K's stale row in the old
      // partition must go too (the reference's delete+insert deletes by key
      // over the whole table, dbt delete+insert semantics). The semi-join
      // below finds those partitions; when partCol is an immutable function
      // of the key it finds nothing extra and costs one pruned-column scan.
      val keyParts = target()
        .join(updKeys, keys, "left_semi")
        .select(partCol).distinct().collect().map(_.get(0))
      val updParts = updatesCached.select(partCol).distinct()
        .collect().map(_.get(0))
      val touched0 = (keyParts ++ updParts).distinct.toSeq
      // CHANGE-DRIVEN partition pruning: a touched partition whose
      // delete+insert result would be IDENTICAL to its current content
      // must not rewrite. The steady-state case: an arrival-sliver's
      // re-admit slack replays boundary rows verbatim, and without this
      // check a whole date partition rewrites to an equal state every
      // run. Compared per partition by (count, hash-sum) signatures —
      // update rows vs the keyed rows they would replace: a new key,
      // changed content, or moved key makes the signatures differ and
      // the partition rewrites; a verbatim re-admit matches and the
      // partition (its READ for the merge AND its write) is skipped.
      // Two narrow aggregates, not a full-row shuffle — the
      // read-to-avoid-write trade every copy-on-write lakehouse makes.
      val tgtTouched0 = target().filter(col(partCol).isin(touched0: _*))
      val cols = Incremental.unionSchemaOf(tgtTouched0, updatesCached)
      val sigU = Incremental.contentSig(updatesCached, cols, Some(partCol))
      val sigR = Incremental.contentSig(
        tgtTouched0.join(updKeys, keys, "left_semi"), cols, Some(partCol))
      def sigAt(m: Map[Any, (Long, Any)], p: Any): (Long, Any) =
        m.getOrElse(p, (0L, null))
      val touched = touched0.filter(p =>
        sigAt(sigU, p) != sigAt(sigR, p))
      System.err.println(s"[inc] $targetPath: ${touched0.size} touched," +
        s" ${touched.size} changed" +
        (if (touched.isEmpty) ", nothing to rewrite"
         else s" -> rewrite ${touched.mkString(",")}") +
        (if (touched.size < touched0.size)
           s"; unchanged ${touched0.filterNot(touched.contains).mkString(",")}"
         else ""))
      if (touched.isEmpty) return false
      val existing = target()
        .filter(col(partCol).isin(touched: _*)) // static partition pruning
        .join(updKeys, keys, "left_anti")
      // update rows landing in UNCHANGED partitions must not reach the
      // output: dynamic overwrite rewrites every partition present in
      // it, and those rows without their partition's existing rows
      // would REPLACE the partition with just themselves
      val updTouched = updatesCached.filter(col(partCol).isin(touched: _*))
      // localCheckpoint cuts the file lineage: the merged rows are
      // materialized BEFORE the dynamic overwrite deletes the partition
      // dirs they were read from (read-overwrite conflict otherwise)
      val merged = existing.unionByName(updTouched,
        allowMissingColumns = true).localCheckpoint()
      merged.write.partitionBy(partCol).mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(targetPath)
      // dynamic overwrite only rewrites partitions PRESENT in the output;
      // a touched partition whose every row was an updated key's stale row
      // is absent from the output, so its OLD files survive and must be
      // dropped explicitly or the deleted keys' rows resurrect
      val stillThere = merged.select(partCol).distinct()
        .collect().map(_.get(0)).toSet
      val stale = touched.filterNot(stillThere)
      if (stale.nonEmpty) {
        // Resolve value → directory through Spark's OWN reader rather than
        // reconstructing `partCol=value` by hand: dir names are escaped
        // (ExternalCatalogUtils.escapePathName) and typed values render
        // differently from toString, so a hand-built path silently misses
        // (timestamps, strings with spaces, nulls). input_file_name() on a
        // partition-pruned scan of the stale values returns exactly the
        // files those partitions hold; their parent dirs are the ones to
        // drop.
        target().filter(col(partCol).isin(stale: _*))
          .select(input_file_name()).distinct()
          .collect().map(_.getString(0))
          .map(parentDirOf)
          .distinct
          .foreach(store.deleteRecursively)
      }
      true
    } finally {
      updKeys0.unpersist()
      updatesCached.unpersist()
    }
  }

  private def parentDirOf(fileUri: String): String =
    Incremental.parentDirOf(fileUri)

  /** Write df to `path.__tmp`, then swap into place — see
    * [[Incremental.atomicOverwrite]] for the checked-swap contract. */
  private def atomicOverwrite(target: String, df: DataFrame): Unit =
    Incremental.atomicOverwrite(store, target)(tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_extract, when}

/** MANIFEST-COMMIT MVCC for PARTITIONED tables — the incremental sibling
  * of [[Snapshots]]. Where `Snapshots` materializes a FULL table copy per
  * version (the right trade for dimension-sized tables: version dirs are
  * self-contained and time travel is one directory read), a 100 TB fact
  * table cannot rewrite itself per upsert. Here a version dir holds ONLY
  * the partitions that upsert rewrote, plus a MANIFEST mapping every live
  * partition to the version that owns its current data — the
  * Delta/Iceberg idea (metadata layer points at immutable data files;
  * commits replace pointers, not data) re-expressed at partition
  * granularity on plain parquet:
  *
  * {{{
  * <table>/_snapshots/v00001/data/__p=2024-01-01/part-*.parquet
  * <table>/_snapshots/v00001/manifest       "__p=2024-01-01\t1" per line
  * <table>/_snapshots/v00002/data/__p=2024-01-02/…   (only touched)
  * <table>/_snapshots/v00002/manifest       01-01→1, 01-02→2
  * <table>/_current                         committed version pointer
  * }}}
  *
  * Commit protocol follows Snapshots (full data write, then manifest,
  * then atomic pointer flip through the [[CommitStore]] seam; crashed
  * writers leave invisible orphans that vacuum reclaims), except that
  * DML writers prepare their data outside the single-writer lock and
  * hold it only to validate and flip (see [[upsert]]), so every reader —
  * current or pinned — sees a complete, immutable version and never torn
  * state, while an upsert's data cost is O(touched partitions).
  *
  * The partition column rides INSIDE the data files (written via a `__p`
  * shadow column, so Spark's partitioned writer lays out the dirs while
  * the real column survives in the footers): a multi-version read is then
  * one `spark.read.parquet(ownerDirs: _*)` — no partition-discovery
  * gymnastics across version roots, and partition-pruning filters still
  * skip files via footer stats (each file holds one partition value).
  *
  * CONTRACT: `partCol` must be an immutable function of the upsert key
  * (a row never migrates partitions) — the standard lakehouse layout
  * assumption. Cross-partition key moves need `Incremental
  * .upsertPartitioned`'s key-location scan instead. Multi-column
  * layouts compose by deriving ONE partCol from the components
  * (`concat_ws("/", date, region)` — the separator is escaped by the
  * dir rendering, so the layout stays one level and the manifest
  * addresses it exactly).
  */
object PartitionedSnapshots {

  private def snapsDir(t: String) = s"$t/_snapshots"
  private def pointer(t: String) = s"$t/_current"
  private def versionDir(t: String, v: Long) = f"${snapsDir(t)}/v$v%05d"
  private def dataDir(t: String, v: Long) = s"${versionDir(t, v)}/data"
  /** Format detector: version `v` is PARTITIONED-format iff its
    * manifest FILE exists — `manifest(...).nonEmpty` is the wrong test
    * (a keyed table primed with an empty batch legitimately has an
    * empty manifest, and misreading it as full-copy makes readers scan
    * the version dir's control files as parquet). */
  def hasManifest(t: String, v: Long,
      store: CommitStore = CommitStore.local): Boolean =
    store.exists(manifestPath(t, v))

  private def manifestPath(t: String, v: Long) =
    s"${versionDir(t, v)}/manifest"

  /** Committed version the pointer references, if any. */
  def currentVersion(t: String,
      store: CommitStore = CommitStore.local): Option[Long] =
    store.read(pointer(t)).map(b => new String(b, "UTF-8").trim.toLong)

  /** All versions with an existing dir, ascending (orphans included). */
  def versions(t: String,
      store: CommitStore = CommitStore.local): Seq[Long] =
    store.list(snapsDir(t)).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).sorted

  /** Zero-row frame with the table's DECLARED schema (`_table` props,
    * shared by both snapshot formats) — what a committed version with
    * no schema-bearing data files reads as. None when nothing is
    * declared. */
  private[operators] def declaredEmptyFrame(spark: SparkSession,
      t: String, store: CommitStore): Option[DataFrame] =
    tableProps(t, store).get("schema").map(j => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]))

  /** partition-dir-name → owning version, for version `v`. */
  def manifest(t: String, v: Long,
      store: CommitStore = CommitStore.local): Map[String, Long] =
    store.read(manifestPath(t, v)) match {
      case None => Map.empty
      case Some(b) => new String(b, "UTF-8").split('\n')
        .filter(_.nonEmpty)
        .map { l =>
          val i = l.lastIndexOf('\t')
          l.substring(0, i) -> l.substring(i + 1).toLong
        }.toMap
    }

  private def writeManifest(t: String, v: Long, m: Map[String, Long],
      store: CommitStore): Unit =
    store.write(manifestPath(t, v),
      m.toSeq.sorted.map { case (p, o) => s"$p\t$o" }
        .mkString("\n").getBytes("UTF-8"))

  // ── per-version FILE manifest (plan from metadata, never list) ────
  //
  // The partition manifest maps partition → owner VERSION; planning a
  // read still had to LIST every owner dir (and merge footers for the
  // schema) — the one metadata cost SCALE_META measured growing with
  // partition count (~30 s per plan at 100k partitions). The Iceberg
  // answer: the COMMIT records the version's complete file list (name
  // + exact size per file, it just wrote or carried them), and reads
  // plan from that record. Two sidecars per version dir:
  //
  //   filemeta     "part \t owner \t fileName \t bytes" per data file,
  //                FULL index (every live partition), carried forward
  //                at commit exactly like the partition manifest —
  //                untouched partitions copy their rows from the base
  //                version's filemeta with zero store calls; only the
  //                partitions this commit wrote are listed (once).
  //   data_schema  the Spark schema JSON of the rows THIS version's
  //                data dir holds — per OWNER, so a read's schema is
  //                the union over its manifest's distinct owners (what
  //                mergeSchema would reconcile from footers, without
  //                reading any).
  //
  // Both live inside the version dir: vacuum reclaims them with it,
  // and a bare data-OWNER dir kept alive by a retained manifest keeps
  // its data_schema alive with it. Absence of either (pre-feature
  // versions, crashed half-writes) degrades the read to the legacy
  // listing+mergeSchema path — the fast path is an optimization,
  // never a semantic. The first commit on a pre-feature table lists
  // every live partition once (lazy upgrade) and is fully indexed
  // from then on.

  private def fileMetaPath(t: String, v: Long) =
    s"${versionDir(t, v)}/filemeta"
  private def dataSchemaPath(t: String, v: Long) =
    s"${versionDir(t, v)}/data_schema"

  /** One recorded data file: partition dir name, owner version, file
    * name, exact byte length (from the commit-time listing — the files
    * are immutable, so it never goes stale), the file's exact ROW
    * COUNT where the commit recorded it (one parquet-footer read per
    * freshly-written file, paid once at commit outside any lock; rows
    * carried from a pre-rowcount record stay None), and the file's
    * COLUMN STATS for the table's declared `zonemap_cols` — harvested
    * from the SAME footer read and rendered by [[FileStats]], so
    * data-column file-skipping is maintained by every commit instead
    * of an explicitly built sidecar (Delta's stats-at-write). Row
    * counts feed Catalyst `Statistics.numRows` for CBO/AQE
    * cardinality — exact sizes alone only drive broadcast
    * thresholds. */
  final case class FileRef(part: String, owner: Long, name: String,
      bytes: Long, rows: Option[Long] = None,
      stats: Option[String] = None)

  /** Version `v`'s recorded file manifest, if its commit wrote one.
    * TORN or corrupt content reads as None — the sidecars are an
    * acceleration, so a half-written file (a crashed backfill, a
    * partial PUT) must degrade the read to the legacy listing path,
    * never make the table unreadable with an anonymous parse error.
    * Line format: `part \t owner \t name \t bytes [\t rows [\t stats]]`
    * — both optional fields append, so every prior reader of the
    * format parses newer records (it splits on tab and ignores extra
    * fields). */
  def fileManifest(t: String, v: Long,
      store: CommitStore = CommitStore.local): Option[Seq[FileRef]] =
    store.read(fileMetaPath(t, v)).flatMap(b => scala.util.Try {
      new String(b, "UTF-8").split('\n').filter(_.nonEmpty).toSeq
        .map { l =>
          val a = l.split('\t')
          FileRef(a(0), a(1).toLong, a(2), a(3).toLong,
            if (a.length >= 5) Some(a(4).toLong) else None,
            if (a.length >= 6) Some(a(5)) else None)
        }
    }.toOption)

  /** The schema of the rows version `o`'s OWN data dir holds, if
    * recorded at its commit (torn content → None, as [[fileManifest]]). */
  def ownerSchema(t: String, o: Long,
      store: CommitStore = CommitStore.local)
      : Option[org.apache.spark.sql.types.StructType] =
    store.read(dataSchemaPath(t, o)).flatMap(b => scala.util.Try {
      org.apache.spark.sql.types.DataType
        .fromJson(new String(b, "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }.toOption)

  private def listPartFiles(t: String, o: Long, p: String,
      store: CommitStore): Seq[FileRef] =
    store.listEntries(s"${dataDir(t, o)}/$p")
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .sortBy(_.name)
      .map(e => FileRef(p, o, e.name, e.bytes))

  /** The table's EXPLICITLY declared stats-at-write columns
    * (`zonemap_cols` prop): every commit harvests min/max/null-count
    * for these in the same footer read that records row counts, so
    * data-column file-skipping needs no explicit `build_zone_map`
    * call and never goes stale. Empty here means either the `none`
    * opt-out or NO declaration — and an undeclared table is NOT
    * stat-less: it gets the AUTO default (the first
    * [[statsAutoLimit]] stat-typed top-level columns of each owner's
    * recorded schema — Delta's `dataSkippingNumIndexedCols` shape),
    * resolved per owner by [[resolveStatCols]], so fresh tables skip
    * data-column point queries out of the box. */
  def statsColumns(t: String,
      store: CommitStore = CommitStore.local): Seq[String] =
    tableProps(t, store).get("zonemap_cols").toSeq
      .filterNot(_.trim.equalsIgnoreCase(StatsOffSentinel))
      .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty)

  /** `zonemap_cols = none` — the explicit stats-at-write opt-out
    * (distinct from UNDECLARED, which gets the auto default). */
  private val StatsOffSentinel = "none"

  /** How many leading stat-typed top-level columns the AUTO default
    * stats (prop `stats_num_cols`, default 32 — Delta's
    * `dataSkippingNumIndexedCols` default). */
  private[graft] def statsAutoLimit(t: String,
      store: CommitStore = CommitStore.local): Int =
    tableProps(t, store).get("stats_num_cols")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(32)

  /** Set the auto-default column cap (see [[statsAutoLimit]]) —
    * wide-schema tables bound the per-commit harvest cost with this
    * instead of opting out entirely. Also settable at CREATE via
    * `TBLPROPERTIES('stats_num_cols'='N')`. */
  def setStatsAutoLimit(t: String, n: Int,
      store: CommitStore = CommitStore.local): Unit = {
    require(n >= 0, s"stats_num_cols must be >= 0, got $n")
    Incremental.withCommitLock(t, store) {
      updateProps(t, Map("stats_num_cols" -> n.toString), store = store)
    }
  }

  /** The stat columns a commit records for owner `o`'s files,
    * resolved from the raw declaration (`decl` = the `zonemap_cols`
    * prop value, read once by the caller):
    *  - explicit list → those columns, typed against the owner's
    *    recorded schema, filtered to footer-stat-typed fields;
    *  - `none` (or an all-blank value) → nothing (opt-out);
    *  - ABSENT → the auto default: the owner schema's first
    *    [[statsAutoLimit]] stat-typed top-level fields.
    * An owner without a recorded data_schema resolves to nothing —
    * row counts only, the fail-safe floor. */
  private def resolveStatCols(decl: Option[String], t: String, o: Long,
      store: CommitStore)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    decl match {
      case Some(v)
          if v.trim.equalsIgnoreCase(StatsOffSentinel) ||
            v.split(',').forall(_.trim.isEmpty) => Nil
      case Some(v) => statColTypes(t, o,
        v.split(',').toSeq.map(_.trim).filter(_.nonEmpty), store)
      case None => ownerSchema(t, o, store).map(_.fields.toSeq
          .filter(f => FileStats.statType(f.dataType))
          .take(statsAutoLimit(t, store))
          .map(f => f.name -> f.dataType)).getOrElse(Nil)
    }

  /** Declare the columns whose per-file stats every subsequent commit
    * records in its filemeta (see [[statsColumns]]). Two sentinels:
    * empty (or `Seq("none")`) OPTS OUT — the table records row counts
    * only; `Seq("auto")` removes the declaration, reverting to the
    * auto default. Existing files gain stats lazily — the next commit
    * that rewrites their partition records them; [[backfillStats]]
    * enriches the whole current version at once. Unknown columns and
    * types without exact footer stats are harmless: the harvest
    * simply records nothing for them (fail-safe KEEP). */
  def setStatsColumns(t: String, cols: Seq[String],
      store: CommitStore = CommitStore.local): Unit =
    Incremental.withCommitLock(t, store) {
      if (cols.map(_.trim).filter(_.nonEmpty) == Seq("auto"))
        updateProps(t, Map.empty, remove = Seq("zonemap_cols"),
          store = store)
      else if (cols.forall(_.trim.isEmpty))
        updateProps(t, Map("zonemap_cols" -> StatsOffSentinel),
          store = store)
      else
        updateProps(t, Map("zonemap_cols" -> cols.mkString(",")),
          store = store)
    }

  /** BACKFILL the commit-recorded per-file stats for files that
    * predate the table's `zonemap_cols` declaration (or the filemeta
    * feature itself): re-record the CURRENT version's file manifest
    * with row counts and declared-column min/max/null-count for
    * every ref still missing them — one footer read per stale file,
    * never a data scan. Subsequent commits carry the enriched lines
    * forward, so this is a pay-once migration, exactly like
    * [[indexPlanMeta]] (run that first on a pre-feature table so
    * owner schemas exist — an owner without a recorded data_schema
    * backfills row counts only).
    *
    * The footer harvest runs LOCK-FREE — small batches on the driver
    * (the commit path's shape), large ones distributed over executors
    * (the zone-map build's engine), so a 100k-file migration neither
    * stalls concurrent writers nor bottlenecks on a driver IO loop.
    * Only the rewrite itself takes the table lock (milliseconds of
    * metadata), re-validating that the pointer still names the
    * harvested version: a commit that landed mid-harvest just means
    * a retry against the new current version, and because footers
    * are per IMMUTABLE file (keyed by owner/partition/name), every
    * token already harvested carries over — a retry only reads the
    * files the interleaved commits added. A file vacuumed mid-harvest
    * reads as no-token (kept un-enriched, fail-safe) and the moved
    * pointer retries anyway. Returns the number of files the harvest
    * actually ENRICHED (gained a row count or stats) — a footer that
    * fails to read or yields nothing usable is not counted and not
    * rewritten, so 0 = nothing left that CAN be enriched
    * (idempotent), even on tables with unreadable footers or
    * NaN-only declared columns. */
  def backfillStats(spark: SparkSession, t: String,
      store: CommitStore = CommitStore.local): Int = {
    val harvested = scala.collection.mutable.Map
      .empty[(Long, String, String), (Option[Long], Option[String])]
    var attempts = 0
    while (true) {
      attempts += 1
      // ── lock-free snapshot + harvest ─────────────────────────────
      val cur = currentVersion(t, store).getOrElse(return 0)
      val decl = tableProps(t, store).get("zonemap_cols")
      val m = manifest(t, cur, store)
      if (m.isEmpty) return 0
      val refs = checkedFileManifest(t, cur, m, store)
        .getOrElse(m.toSeq.sortBy(_._1).flatMap {
          case (p, o) => listPartFiles(t, o, p, store)
        })
      // the footer is worth reading only when it can yield something
      // new: a missing row count always can; missing stats can only
      // if some effective stat column (declared, or the auto default)
      // is stat-typed in the owner's recorded schema (an owner whose
      // NaN-only floats yield no usable values re-reads harmlessly)
      val typeCache = scala.collection.mutable.Map
        .empty[Long, Seq[(String, org.apache.spark.sql.types.DataType)]]
      def colTypesOf(o: Long) = typeCache.getOrElseUpdate(o,
        resolveStatCols(decl, t, o, store))
      def usable(o: Long): Boolean = colTypesOf(o).nonEmpty
      def keyOf(r: FileRef) = (r.owner, r.part, r.name)
      val (stale, fine) = refs.partition(r =>
        r.rows.isEmpty || (r.stats.isEmpty && usable(r.owner)))
      if (stale.isEmpty) return 0
      val missing = stale.filterNot(r => harvested.contains(keyOf(r)))
      if (missing.size <= 64) {
        lazy val conf = SparkSession.active.sessionState.newHadoopConf()
        missing.foreach { r =>
          harvested(keyOf(r)) = footerTokens(
            s"${dataDir(t, r.owner)}/${r.part}/${r.name}",
            colTypesOf(r.owner), conf)
        }
      } else missing.groupBy(_.owner).foreach { case (o, rs) =>
        val ct = colTypesOf(o)
        val dir = dataDir(t, o)
        def pathOf(r: FileRef) = s"$dir/${r.part}/${r.name}"
        val toks = org.apache.spark.sql.graft.Bridge
          .mapFilesWithConf(spark, rs.map(pathOf),
            math.min(rs.size,
              spark.sparkContext.defaultParallelism)) { (p, conf) =>
            p -> footerTokens(p, ct, conf)
          }.toMap
        rs.foreach(r =>
          toks.get(pathOf(r)).foreach(harvested(keyOf(r)) = _))
      }
      val enriched = stale.map { r =>
        harvested.get(keyOf(r)).fold(r) { case (rows, tok) =>
          r.copy(rows = rows.orElse(r.rows),
            stats = tok.orElse(r.stats))
        }
      }
      // count — and COMMIT — only what the harvest actually ADDED: a
      // footer that failed to read or yielded no usable stats leaves
      // its ref byte-identical, so counting stale.size would report
      // "files enriched" for files that gained nothing and the
      // documented 0-means-complete idempotence would never converge
      // on unreadable footers. If NOTHING gained, skip the rewrite
      // entirely (the un-enrichable refs stay as they are; a later
      // call re-attempts them — fail-safe, but honestly reported as 0)
      val gained = stale.zip(enriched).count { case (a, b) =>
        (b.rows.isDefined && a.rows.isEmpty) ||
          (b.stats.isDefined && a.stats.isEmpty)
      }
      if (gained == 0) return 0
      val byPart = (enriched ++ fine).groupBy(_.part)
      // ── the SHORT critical section: re-validate + atomic rewrite ─
      val committed = Incremental.withCommitLock(t, store) {
        if (!currentVersion(t, store).contains(cur)) false
        else {
          // atomicWrite (via atomic=true): this rewrites the
          // sidecar of an ALREADY-COMMITTED version, where no
          // write ordering protects against a torn file
          writeFileMeta(t, cur, m, None, store, fresh = byPart,
            atomic = true)
          true
        }
      }
      if (committed) return gained
      if (attempts > 5) throw new Incremental.ConcurrentWriteException(
        s"$t: stats backfill lost $attempts pointer races — the " +
          "table is committing faster than the backfill can " +
          "re-validate; retry in a quieter window (every harvested " +
          "footer token is retained across retries, so the next run " +
          "only reads newly-added files)")
    }
    0 // unreachable
  }

  /** Exact row counts — and, for the table's declared `zonemap_cols`,
    * column min/max/null-count stats — for freshly-committed refs,
    * from their parquet footers (the files were written moments ago by
    * this writer — ONE metadata read each, never a data scan, never
    * under a lock; the stats ride in the footer the row count already
    * paid for). Column types resolve from the OWNER's recorded
    * data_schema ([[writeData]] records it before any filemeta write).
    * A footer that fails to read records None rather than failing the
    * commit, and an unusable column's stats are simply absent from the
    * rendered token: stats are statistics, not semantics. */
  private def withRowCounts(t: String, refs: Seq[FileRef],
      store: CommitStore = CommitStore.local): Seq[FileRef] = {
    lazy val conf = SparkSession.active.sessionState.newHadoopConf()
    val decl = tableProps(t, store).get("zonemap_cols")
    val typeCache = scala.collection.mutable.Map
      .empty[Long, Seq[(String, org.apache.spark.sql.types.DataType)]]
    def colTypes(o: Long) = typeCache.getOrElseUpdate(o,
      resolveStatCols(decl, t, o, store))
    refs.map { r =>
      val path = s"${dataDir(t, r.owner)}/${r.part}/${r.name}"
      val (rows, tok) = footerTokens(path, colTypes(r.owner), conf)
      r.copy(rows = rows.orElse(r.rows), stats = tok.orElse(r.stats))
    }
  }

  /** The declared stat columns resolved against owner `o`'s recorded
    * data schema, filtered to types with exact footer stats. */
  private def statColTypes(t: String, o: Long, statCols: Seq[String],
      store: CommitStore)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    if (statCols.isEmpty) Nil
    else ownerSchema(t, o, store).map(s => statCols.flatMap(c =>
      s.fields.find(_.name.equalsIgnoreCase(c))
        .filter(f => FileStats.statType(f.dataType))
        .map(f => f.name -> f.dataType))).getOrElse(Nil)

  /** ONE footer read → (row count, rendered stats token): the shape
    * the commit-time harvest ([[withRowCounts]]) and the distributed
    * backfill share. A footer that fails to read yields (None, None) —
    * stats are statistics, never a commit failure. Executor-safe: the
    * only state it touches arrives as arguments. */
  private[operators] def footerTokens(path: String,
      ct: Seq[(String, org.apache.spark.sql.types.DataType)],
      conf: org.apache.hadoop.conf.Configuration)
      : (Option[Long], Option[String]) =
    if (ct.isEmpty)
      (scala.util.Try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(path), conf)
        val reader =
          org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.toOption, None)
    else ZoneMap.footerFileStats(path, ct, conf) match {
      case Some((rows, per)) =>
        val stats = ct.zip(per).collect {
          case ((c, dt), Some((mn, mx, n))) =>
            c -> FileStats.ColStat(
              Option(mn).map(FileStats.encodeValue(dt, _)),
              Option(mx).map(FileStats.encodeValue(dt, _)), n)
        }
        (Some(rows), if (stats.isEmpty) None
          else Some(FileStats.render(stats)))
      case None => (None, None)
    }

  /** Total rows of a recorded file set — defined only when EVERY ref
    * carries a count (a mixed record would undercount, which for a
    * cardinality estimate is worse than unknown). */
  private[graft] def rowCountOf(refs: Seq[FileRef]): Option[Long] = {
    val counts = refs.map(_.rows)
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Record version `v`'s file manifest for final manifest map `m`:
    * rows for partitions whose owner matches `carryFrom`'s manifest
    * copy over without a store call; `fresh` rows (listed lock-free by
    * an optimistic prepare) win over both; anything else — partitions
    * this commit wrote, or carried entries a pre-feature base has no
    * rows for — is listed once. Written BEFORE the partition manifest
    * so a version with a manifest either has a complete filemeta or
    * none (a crash between the two writes leaves a manifest-less dir,
    * which is already vacuum's orphan class). */
  private def writeFileMeta(t: String, v: Long, m: Map[String, Long],
      carryFrom: Option[Long], store: CommitStore,
      fresh: Map[String, Seq[FileRef]] = Map.empty,
      atomic: Boolean = false,
      carriedRefs: Option[Seq[FileRef]] = None,
      enrichRows: Long => Boolean = _ => false): Unit = {
    val carried: Map[String, Seq[FileRef]] =
      carriedRefs.orElse(carryFrom.flatMap(cv =>
          fileManifest(t, cv, store)))
        .map(_.groupBy(_.part)).getOrElse(Map.empty)
    val lines = m.toSeq.sorted.flatMap { case (p, o) =>
      fresh.get(p).filter(_.forall(_.owner == o))
        .orElse(carried.get(p).filter(_.forall(_.owner == o)))
        .getOrElse {
          // fallback listing has no row counts; enrich the owners the
          // caller names (`write` passes the version it just wrote —
          // footer reads of files this writer created; the backfill
          // passes everything, its documented pay-once cost) so
          // pre-rowcount gaps don't poison rowCountOf forever
          val listed = listPartFiles(t, o, p, store)
          if (enrichRows(o)) withRowCounts(t, listed, store) else listed
        }
        // stats render only behind a present row count (both come from
        // the same footer read) — an empty rows field before a stats
        // field would shift the tab positions and tear the parse
        .map(f => s"${f.part}\t${f.owner}\t${f.name}\t${f.bytes}" +
          f.rows.fold("")(r => s"\t$r" +
            f.stats.fold("")(s => s"\t$s")))
    }
    val bytes = lines.mkString("\n").getBytes("UTF-8")
    // commit paths use the plain write (the dir is unreferenced until
    // the manifest lands after this — a crash leaves vacuum's orphan
    // class); the BACKFILL writes into already-committed dirs where no
    // ordering protects, so it must be torn-proof
    if (atomic) store.atomicWrite(fileMetaPath(t, v), bytes)
    else store.write(fileMetaPath(t, v), bytes)
  }

  /** Union the distinct owners' recorded schemas in ascending owner
    * order — the metadata equivalent of mergeSchema's footer
    * reconciliation for a table whose evolution appends nullable
    * columns (the only evolution this engine's ALTER permits). A
    * same-name field with a DIFFERENT type means data arrived through
    * a path mergeSchema would have to upcast — decline (None) and let
    * the legacy path reconcile it. */
  private def mergeOwnerSchemas(
      schemas: Seq[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    var fields = Vector.empty[StructField]
    for (s <- schemas; f <- s.fields) {
      val i = fields.indexWhere(_.name == f.name)
      if (i < 0) fields :+= f
      else {
        val e = fields(i)
        if (e.dataType != f.dataType) return None
        if (f.nullable && !e.nullable)
          fields = fields.updated(i, e.copy(nullable = true))
      }
    }
    Some(StructType(fields))
  }

  /** [[fileManifest]] cross-checked against version `v`'s partition
    * manifest: the partition sets must match and every ref's owner
    * must agree — an INCOMPLETE-but-parseable record (an
    * under-reported commit-time listing, a future writer bug) must
    * degrade to the listing path, not silently serve a short file
    * list. Shared by the plan path and the paced-bootstrap path: a
    * bootstrap that pinned a short list would stream a subset and
    * never deliver the missing partition's rows. */
  private def checkedFileManifest(t: String, v: Long,
      m: Map[String, Long], store: CommitStore): Option[Seq[FileRef]] =
    fileManifest(t, v, store).filter { refs =>
      val byPart = refs.groupBy(_.part)
      byPart.keySet == m.keySet &&
        !refs.exists(r => !m.get(r.part).contains(r.owner))
    }

  /** Per-partition file statistics of version `v` — files, exact
    * bytes, exact rows where the commit recorded them, and how many of
    * the files carry a recorded COLUMN-STATS token (the coverage an
    * admin probes before/after [[backfillStats]] — a deficit here is
    * exactly what a backfill closes) — from the cross-checked file
    * manifest (ZERO listings, zero data reads); a version without a
    * usable record pays one listing per partition and reports rows as
    * unknown, stats coverage as 0. The operator behind
    * `CALL <cat>.system.file_stats`. */
  def fileStats(t: String, v: Long,
      store: CommitStore = CommitStore.local)
      : Seq[(String, Long, Int, Long, Option[Long], Int)] = {
    val m = manifest(t, v, store)
    val refs = checkedFileManifest(t, v, m, store).getOrElse(
      m.toSeq.flatMap { case (p, o) => listPartFiles(t, o, p, store) })
    refs.groupBy(r => (r.part, r.owner)).toSeq.sortBy(_._1)
      .map { case ((p, o), fs) =>
        (p, o, fs.size, fs.map(_.bytes).sum, rowCountOf(fs),
          fs.count(_.stats.isDefined))
      }
  }

  /** Everything a plan needs for version `v` WITHOUT touching the data
    * dirs: the recorded file list and the merged read schema. None
    * when the version (or any of its owners) predates the sidecars,
    * when the filemeta disagrees with the manifest (torn state —
    * never trust it), or when owner schemas need type reconciliation —
    * all of which fall back to the legacy listing path. */
  private[graft] def planMeta(t: String, v: Long,
      store: CommitStore = CommitStore.local,
      preParsed: Option[Map[String, Long]] = None)
      : Option[(Seq[FileRef], org.apache.spark.sql.types.StructType)] = {
    // hot read paths already hold the parsed partition manifest —
    // accept it rather than re-reading a multi-MB file per plan
    val m = preParsed.getOrElse(manifest(t, v, store))
    if (m.isEmpty) return None
    checkedFileManifest(t, v, m, store).flatMap { refs =>
      val owners = refs.map(_.owner).distinct.sorted
      val schemas = owners.map(o => ownerSchema(t, o, store))
      if (schemas.exists(_.isEmpty)) None
      else mergeOwnerSchemas(schemas.flatten)
        // file-source reads are nullable-forced (Spark's own rule
        // for file-based schemas — and a carried pre-evolution
        // footer legitimately misses a later column, which the
        // reader null-fills only for nullable fields)
        .map(s => (refs,
          org.apache.spark.sql.graft.Bridge.asNullable(s)))
    }
  }

  /** MIGRATION backfill for PRE-FEATURE tables: record the
    * plan-from-metadata sidecars for every retained committed version
    * that lacks them. Without this, a table upgraded in place plans
    * fast only once every owner version has been REWRITTEN (the lazy
    * upgrade records sidecars for new commits, but a carried owner
    * from before the feature never gains a data_schema). The backfill
    * pays the listing + footer-read cost exactly once — the cost this
    * feature removes from every subsequent plan:
    *
    *  - an owner with no recorded data_schema gets one inferred from
    *    its OWN footers (all of an owner's files were written from one
    *    frame, so any referenced subset infers the exact schema);
    *  - a version with no filemeta gets one written (each version
    *    carries from its predecessor, so the listing cost is paid on
    *    the oldest version and carried forward).
    *
    * The table lock is taken PER VERSION, not across the whole
    * backfill: one iteration's footer scan + listing can take minutes
    * on a large pre-feature table, and a corpus-wide hold would stall
    * (and, past their backoff deadlines, FAIL) every concurrent
    * writer for the migration's full duration. Per-version scope
    * still excludes vacuum from reclaiming the dirs an iteration
    * reads (vacuum holds the same lock), the sidecar writes are
    * atomic and idempotent, and a version vacuumed between iterations
    * is re-checked under the lock and skipped. Returns the versions
    * whose filemeta this call wrote. Idempotent. */
  def indexPlanMeta(spark: SparkSession, t: String,
      store: CommitStore = CommitStore.local): Seq[Long] = {
    val cur = currentVersion(t, store).getOrElse(return Seq.empty)
    val committed = versions(t, store)
      .filter(v => v <= cur && hasManifest(t, v, store))
    var indexed = List.empty[Long]
    // carry source for a repaired version's untouched partitions: ONLY
    // a record THIS call just wrote from fresh listings. A pre-existing
    // predecessor record — even one that passes checkedFileManifest —
    // can be within-partition SHORT (an under-reported commit-time
    // listing, the one class the manifest cross-check cannot detect),
    // and carrying from it would propagate the short list into a
    // repaired record that then passes every consumer's cross-check.
    // The pre-feature backfill keeps its carry-forward economy (v1
    // lists everything, v2+ carry from the fresh chain); a repair
    // breaking an EXISTING chain pays O(partitions) listings once —
    // the migration tool's documented cost class.
    var freshPrev: Option[Long] = None
    committed.foreach { v =>
      // withCommitLock: the per-version lock take must outwait a
      // concurrent writer's transient (ms-scale) commit section
      // rather than abort the whole migration on the first collision
      Incremental.withCommitLock(t, store) {
        if (hasManifest(t, v, store)) {
          val m = manifest(t, v, store)
          // a pre-horizon version kept only as a DATA OWNER — vacuum
          // reclaimed some owner dirs its manifest references, but
          // its own dir (and the manifest file inside) survives
          // because a retained manifest references its data — is a
          // HUSK, not a readable version: reading it fails on the
          // missing dirs regardless of sidecars, so the backfill must
          // skip it (inferring a schema from a reclaimed dir would
          // crash the whole migration), and it is no carry source
          if (!m.values.toSeq.distinct
              .forall(o => store.exists(dataDir(t, o)))) {
            freshPrev = None
          } else {
          m.values.toSeq.distinct.sorted.foreach { o =>
            if (ownerSchema(t, o, store).isEmpty) {
              val dirs = m.collect {
                case (p, ow) if ow == o => s"${dataDir(t, o)}/$p"
              }.toSeq.sorted
              if (dirs.nonEmpty) {
                val sch = spark.read.option("mergeSchema", "true")
                  .parquet(dirs: _*).schema
                // atomicWrite, NOT plain write: the backfill targets
                // ALREADY-COMMITTED version dirs, so the commit
                // protocol's write-ordering (sidecar before manifest)
                // cannot protect a crash mid-write here — a torn
                // sidecar next to a live manifest must be impossible
                store.atomicWrite(dataSchemaPath(t, o),
                  sch.json.getBytes("UTF-8"))
              }
            }
          }
          // gate on the CHECKED record: an incomplete-but-parseable
          // filemeta (the failure class every consumer declines via
          // checkedFileManifest) must be REPAIRED by this tool, not
          // skipped — otherwise the table has no remedy short of
          // hand-deleting the sidecar
          if (checkedFileManifest(t, v, m, store).isEmpty) {
            writeFileMeta(t, v, m, freshPrev, store, atomic = true,
              enrichRows = _ => true)
            indexed ::= v
            freshPrev = Some(v)
          } else freshPrev = None
          }
        }
      }
    }
    indexed.reverse
  }

  /** Recorded refs → hadoop `FileStatus` entries for the plan-from-
    * metadata index (exact lengths). The modification time is the
    * OWNER's commit time (one metadata read per distinct owner): the
    * files are immutable and were written moments before their
    * version committed, so `_metadata.file_modification_time` answers
    * within the commit window on this path instead of 1970 — a
    * freshness check must not silently change answers depending on
    * whether a version planned from metadata or from listings. A BARE
    * owner (an optimistic preparation published under a later commit
    * number — it has data but no commit meta of its own) falls back
    * to the PLANNED version's commit time: its files were written
    * during the prepare of the commit that first referenced them, so
    * that commit's time is a tight upper bound, and never 1970. */
  private[graft] def planStatuses(t: String, refs: Seq[FileRef],
      store: CommitStore = CommitStore.local,
      plannedV: Option[Long] = None)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    lazy val fallbackMs = plannedV
      .flatMap(v => commitTimeMs(t, v, store)).getOrElse(0L)
    val mtimes = refs.map(_.owner).distinct
      .map(o => o -> commitTimeMs(t, o, store).getOrElse(fallbackMs))
      .toMap
    refs.map(r => new org.apache.hadoop.fs.FileStatus(
      r.bytes, false, 1, 128L * 1024 * 1024, mtimes(r.owner),
      new org.apache.hadoop.fs.Path(
        s"${dataDir(t, r.owner)}/${r.part}/${r.name}")))
  }

  /** Everything the plan-from-metadata index needs to FILE-SKIP on
    * pushed predicates (see [[graft.plans.FilePrune]]): the partition
    * column + its type from the planned schema, and the newest usable
    * zone-map/bloom sidecar dirs. Two existence probes per plan in the
    * common cases — metadata-sized, and only on the already-fast
    * indexed path.
    *
    * STALENESS is sound here: file stats are per immutable file, and
    * the index's pruning is REJECT-only (a file the sidecar does not
    * know is kept), so when the planned version has no sidecar of its
    * own the newest one at a LOWER version still prunes correctly —
    * files committed after that build are simply not skipped. Without
    * the fallback, one commit after `buildZoneMap` would silently turn
    * file skipping off until the next explicit rebuild. The
    * descending scan only runs for tables that ever built the index
    * (the `zonemap`/`bloomidx` props [[buildZoneMap]]/[[buildBloomIndex]]
    * record), so unindexed tables stay at zero extra probes. The
    * OPERATOR reads (readWhere/readEquals/readBetween) keep their
    * exact-version contract — they scan the survivor list directly,
    * where a stale index would LOSE files instead of merely not
    * skipping them. */
  private[graft] def pruneSpecFor(t: String, v: Long,
      schema: org.apache.spark.sql.types.StructType,
      store: CommitStore,
      refs: Option[Seq[FileRef]] = None)
      : Option[graft.plans.FilePrune] = {
    val props = tableProps(t, store)
    def sidecar(propKey: String,
        dirFor: (String, Long) => String): Option[String] = {
      val exact = dirFor(t, v)
      if (store.exists(s"$exact/_SUCCESS")) Some(exact)
      else if (!props.contains(propKey)) None
      else versions(t, store).filter(_ < v).sorted.reverse
        .map(x => dirFor(t, x))
        .find(d => store.exists(s"$d/_SUCCESS"))
    }
    // the commit-recorded per-file stats (stats-at-write): handed to
    // the index whenever ANY ref carries a row count or stats token —
    // zero store reads (the refs are the already-parsed filemeta)
    val commitStats = refs
      .filter(_.exists(r => r.rows.isDefined || r.stats.isDefined))
      .map(rs => new graft.plans.CommitStatsIndex(
        rs.map(r => (r.owner, r.part, r.name) -> (r.rows, r.stats))
          .toMap, schema))
    props.get("partCol").flatMap { pc =>
      schema.fields.find(_.name.equalsIgnoreCase(pc)).map { f =>
        graft.plans.FilePrune(f.name, f.dataType,
          sidecar("zonemap", zoneMapDir),
          sidecar("bloomidx", bloomIdxDir),
          commitStats)
      }
    }
  }

  /** Write `df`'s touched partitions into version `v`'s data dir and
    * return the partition dir names written. The `__p` shadow keeps the
    * real partition column in the footers (see class doc). */
  private def writeData(df: DataFrame, t: String, v: Long,
      partCol: String, store: CommitStore,
      maxRecordsPerFile: Long = 0,
      prepareConstraints: Boolean = true): Seq[String] = {
    // generated columns materialize and CHECK constraints gate every
    // data write of this format — before the version dir exists, so a
    // refusal burns nothing. `prepareConstraints = false` is for PURE
    // REWRITES (compaction): the rows already passed the gate when
    // they were first written, so re-checking per attempt only burns
    // Spark jobs — and backfilling null generated columns there would
    // make the rewrite NOT bit-identical to its input
    val prepared =
      if (prepareConstraints) Constraints.prepare(df, t, store) else df
    prepared.withColumn("__p", col(partCol))
      .write.partitionBy("__p").mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(dataDir(t, v))
    // the OWNER's data schema, recorded for the plan-from-metadata
    // path (the `__p` shadow left the footers via partitionBy, so the
    // written footers hold exactly `prepared`'s columns)
    store.write(dataSchemaPath(t, v),
      prepared.schema.json.getBytes("UTF-8"))
    store.listEntries(dataDir(t, v))
      .filter(e => e.isDir && e.name.startsWith("__p="))
      .map(_.name)
  }

  private def propsPath(t: String) = s"$t/_table"

  /** The table's recorded layout metadata: `partCol` (always, from any
    * operator write) and `keys` (from keyed ops). This is what lets the
    * SQL front door ([[graft.plans.SnapshotSqlCatalog]]) route INSERT
    * INTO / MERGE INTO without the caller re-supplying the layout —
    * the operator APIs record it as a side effect of writing. */
  def tableProps(t: String,
      store: CommitStore = CommitStore.local): Map[String, String] =
    store.read(propsPath(t)).map(b => new String(b, "UTF-8")
      .split("\n").filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap).getOrElse(Map.empty)

  /** Generic props merge/remove (constraints etc.) — same file, same
    * single-line k=v format as [[writeProps]]. Callers hold the table
    * lock. */
  private[operators] def updateProps(t: String, kv: Map[String, String],
      remove: Seq[String] = Nil,
      store: CommitStore = CommitStore.local): Unit = {
    val prev = tableProps(t, store)
    val next = (prev -- remove) ++ kv
    if (next != prev) {
      store.mkdirs(t)
      store.write(propsPath(t), next.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
    }
  }

  private def writeProps(t: String, partCol: String, keys: Seq[String],
      store: CommitStore): Unit = {
    val prev = tableProps(t, store)
    val next = prev ++ Map("partCol" -> partCol) ++
      (if (keys.nonEmpty) Map("keys" -> keys.mkString(",")) else Map.empty)
    if (next != prev)
      store.write(propsPath(t), next.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
  }

  /** Register a table's layout + declared schema BEFORE any data
    * exists (SQL `CREATE TABLE`): the table reads as empty with the
    * declared schema until the first write establishes v1 through the
    * normal commit path. Refuses over an existing committed table. */
  def initTable(t: String, partCol: String, schemaJson: String,
      store: CommitStore = CommitStore.local): Unit =
    Incremental.withCommitLock(t, store) {
      if (currentVersion(t, store).isDefined)
        throw new IllegalStateException(
          s"$t already has committed data — cannot re-declare it")
      store.mkdirs(t)
      val p = tableProps(t, store) ++
        Map("partCol" -> partCol, "schema" -> schemaJson)
      store.write(propsPath(t), p.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
    }

  /** `ALTER TABLE t ADD COLUMN` for BOTH snapshot formats (the reference's
    * `on_schema_change: append_new_columns` contract, dbt_project.yml:29,
    * SQL-first): appends one nullable column to the table's DECLARED
    * schema (`_table` props). No data rewrites — committed files are
    * immutable; existing rows surface the column as null via the read
    * path's declared-schema overlay, and the next write may carry it.
    * Constraints and generated columns live under separate prop keys and
    * are untouched. Always nullable (existing rows have no value); drops,
    * renames and type changes are refused at the SQL layer — they would
    * reinterpret committed data. */
  def addColumn(spark: SparkSession, t: String, column: String,
      dataType: org.apache.spark.sql.types.DataType,
      store: CommitStore = CommitStore.local): Unit = {
    import org.apache.spark.sql.types.{StructField, StructType}
    Incremental.withCommitLock(t, store) {
      // base = what a reader sees today: the current version's file
      // schema (mergeSchema union across evolved footers), widened by
      // any declared-only columns from a previous CREATE/ALTER
      // format routing by manifest-FILE existence (hasManifest), never
      // manifest emptiness: a keyed table primed with an empty batch has
      // an empty-but-present manifest and must still route as
      // partitioned — with zero footers to read, so the declared schema
      // alone is the base (same contract as the catalog read path)
      val fileSchema: Option[StructType] =
        currentVersion(t, store).flatMap { v =>
          if (hasManifest(t, v, store)) {
            if (manifest(t, v, store).nonEmpty)
              Some(readVersion(spark, t, v, store).schema)
            else None
          } else Some(Snapshots.readVersion(spark, t, v, store).schema)
        }
      val declared = tableProps(t, store).get("schema").map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[StructType])
      val base = (fileSchema, declared) match {
        case (Some(f), Some(d)) => StructType(f.fields ++ d.fields
          .filterNot(df => f.fieldNames.exists(_.equalsIgnoreCase(df.name))))
        case (Some(f), None) => f
        case (None, Some(d)) => d
        case (None, None) => throw new IllegalStateException(
          s"$t has neither committed data nor a declared schema")
      }
      if (base.fieldNames.exists(_.equalsIgnoreCase(column)))
        throw new IllegalArgumentException(
          s"column $column already exists in $t")
      val widened = StructType(base.fields :+
        StructField(column, dataType, nullable = true))
      updateProps(t, Map("schema" -> widened.json), store = store)
      SchemaEvents.record(t, "alter", "ALTER TABLE ADD COLUMN", None,
        Seq(StructField(column, dataType, nullable = true)), store)
    }
  }

  private def reservedPath(t: String, v: Long) =
    s"${versionDir(t, v)}/.reserved"
  private def inflightPath(t: String, v: Long) =
    s"${versionDir(t, v)}/.inflight"

  /** Allocate the next version NUMBER (and its dir) through an atomic
    * create-if-absent arbiter: `versions().last + 1` alone is a
    * check-then-act — two writers could both pick the same number and
    * the second `writeData` would overwrite the first's files.
    * `createNew` on the `.reserved` marker admits exactly one owner
    * per number; losers step to the next.
    *
    * INVARIANT: every call site holds the table lock (`write` and
    * `restore` reserve inside their own `withLock`; `commitAttempt`
    * takes `withCommitLock` for its reserve+mark step unless its caller
    * holds the lock), so a vacuum — which also holds it — can never
    * interleave with the mkdirs→createNew window. The arbiter still
    * matters: two optimistic preparers' reserve sections serialize
    * but both read `versions()` states that may already contain each
    * other's fresh dirs, and createNew is what makes the pick exact. The IOException retry below is
    * defense in depth for bindings whose failures are visible only at
    * the claim. */
  private def reserveVersion(t: String, store: CommitStore): Long = {
    var v = versions(t, store).lastOption.getOrElse(0L) + 1
    var sameNumberRetries = 0
    while (true) {
      store.mkdirs(versionDir(t, v))
      val claimed =
        try store.createNew(reservedPath(t, v), Array.emptyByteArray)
        catch {
          // a concurrent vacuum (it holds the table lock; a lock-free
          // optimistic preparer does not) can reclaim the
          // still-marker-less dir between the mkdirs and the claim —
          // filesystem stores then throw (no parent) rather than
          // report a losing race. The deletion proves nobody claimed
          // this number, so recreate the dir and retry the SAME one —
          // BOUNDED: a PERSISTENT throw (read-only credentials, a
          // store rejecting PUTs) is the real error and must surface,
          // not spin
          case e: java.io.IOException =>
            sameNumberRetries += 1
            if (sameNumberRetries > 5) throw e
            Thread.sleep(20L * sameNumberRetries)
            false
        }
      if (claimed) return v
      // claimed by another writer → step to the next number; deleted
      // by a vacuum → retry the same one (exists() distinguishes) —
      // also BOUNDED: a binding whose rejected conditional put is not
      // visible to exists() must surface, not spin hot
      if (store.exists(reservedPath(t, v))) {
        v += 1
        sameNumberRetries = 0
      } else {
        sameNumberRetries += 1
        if (sameNumberRetries > 5) throw new java.io.IOException(
          s"could not reserve a version for $t: createNew at " +
            s"${reservedPath(t, v)} keeps failing while the marker " +
            "stays absent — the store binding rejects the claim " +
            "without a visible cause")
        Thread.sleep(20L * sameNumberRetries)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** First commit (or full rebuild): every partition owned by the new
    * version. */
  def write(spark: SparkSession, t: String, df: DataFrame,
      partCol: String, store: CommitStore = CommitStore.local,
      txn: Option[String] = None): Long =
    Incremental.withLock(t, Incremental.DefaultLockStaleMs, store) {
      val v = reserveVersion(t, store)
      val parts = writeData(df, t, v, partCol, store)
      val mNew = parts.map(_ -> v).toMap
      writeFileMeta(t, v, mNew, None, store, enrichRows = _ == v)
      writeManifest(t, v, mNew, store)
      commitPointer(t, v, store, txn)
      writeProps(t, partCol, Nil, store)
      v
    }

  /** Plain APPEND (SQL INSERT INTO semantics) as a new version: rows
    * are ADDED with no keyed dedup — existing rows of the partitions
    * receiving data are read and unioned, every other partition's
    * manifest entry carries over untouched. Same O(touched partitions)
    * cost and commit protocol as [[upsert]]. */
  def append(spark: SparkSession, t: String, rows: DataFrame,
      partCol: String, optimizeWrite: Boolean = false,
      store: CommitStore = CommitStore.local,
      txn: Option[String] = None, maxRetries: Int = 3): Long =
    upsert(spark, t, rows, Nil, partCol, optimizeWrite, store, txn,
      maxRetries)

  /** Keyed delete+insert upsert as a new version: ONLY the partitions
    * carrying update rows are read, merged, and rewritten — every other
    * partition's manifest entry carries over untouched. Data cost is
    * O(touched partitions); commit cost is one manifest + one pointer
    * flip.
    *
    * `optimizeWrite` repartitions the merged rows by `partCol` before
    * writing, so each touched partition lands as ONE file instead of
    * one per task — fragmentation prevented at write time instead of
    * cured by [[compact]] later (Delta's optimized-write trade: one
    * extra shuffle of the touched rows per commit buys a scan-friendly
    * layout; leave it off for latency-critical streaming commits and
    * compact on a schedule instead).
    *
    * Every DML writer of this format ([[upsert]], [[append]],
    * [[merge]], [[delete]], [[updateWhere]], [[compact]]) commits
    * through ONE protocol, the Delta/Iceberg optimistic discipline, so
    * writers touching DISJOINT partitions of one table do NOT
    * serialize their data writes on the single-writer lock:
    *
    *  1. PREPARE (lock-free): read the BASE version's touched
    *     partitions, merge (here keyed delete+insert), and write the
    *     result into a freshly RESERVED version dir
    *     ([[reserveVersion]]'s create-if-absent arbiter makes the
    *     number allocation exact). A heartbeated `.inflight` marker
    *     tells [[vacuum]] the dir is a live preparation, not a crashed
    *     writer's orphan.
    *  2. VALIDATE + COMMIT (a SHORT critical section under the table
    *     lock — milliseconds of metadata, never data): re-read the
    *     CURRENT manifest, diff it against the base manifest, and
    *     refuse if any version committed since base touched one of
    *     THIS writer's partitions (changed owner, appeared, or was
    *     deleted). Disjoint → merge the manifest entries (untouched
    *     partitions carry the concurrent commits' ownership; this
    *     writer's partitions point at its prepared dir) and flip the
    *     pointer. The committed version number is the reserved one
    *     when still ahead of the pointer, else a fresh number whose
    *     manifest references the prepared dir as a data OWNER (owner
    *     version ≠ manifest version is first-class: readers resolve
    *     dirs through manifest entries, and vacuum keeps any bare dir
    *     a retained manifest references).
    *  3. CONFLICT → bounded RETRY: reclaim the prepared dir, re-read
    *     the new current version as the base, re-merge, re-validate —
    *     so two writers upserting different KEYS of the same partition
    *     converge (one wins, one deterministically retries on the
    *     winner's result). After `maxRetries` lost races the writer
    *     refuses with [[Incremental.ConcurrentWriteException]] naming
    *     the conflicting partitions and the versions that took them.
    *
    * Serializability: a committed upsert is byte-equivalent to the
    * same upsert run alone at its commit point — the validation
    * guarantees the touched partitions' content is exactly what the
    * prepare read, and every untouched partition's entry comes from
    * the manifest current AT COMMIT. Crash at any step leaves a
    * readable table: before the pointer flip the prepared dir is
    * invisible (vacuum reclaims it once its `.inflight` beats go
    * stale).
    *
    * Conflict granularity is the PARTITION — the rewrite unit of this
    * format. Key-disjoint writers to the same partition are handled by
    * retry (re-merge), not parallel commit; partition-disjoint writers
    * never retry.
    *
    * At 100 TB: prepare cost is O(touched partitions) of data per
    * writer, fully parallel across writers; the serialized section is
    * one manifest read + diff + one manifest write + pointer flip —
    * metadata-sized, independent of data volume. */
  def upsert(spark: SparkSession, t: String, updates: DataFrame,
      keys: Seq[String], partCol: String,
      optimizeWrite: Boolean = false,
      store: CommitStore = CommitStore.local,
      txn: Option[String] = None, maxRetries: Int = 3): Long =
    commitLoop(t, maxRetries) { () =>
      upsertAttempt(spark, t, updates, keys, partCol, optimizeWrite,
        store, txn)
    }

  /** WRITE-AUDIT-PUBLISH, stage half: the upsert's data and manifest
    * land as a fully-formed version but the pointer does NOT flip —
    * readers stay on the old version while audits (row counts, Quality
    * checks, reconciliation) run against `readVersion(staged)`. Flip
    * with [[publish]] when the audit passes; abandon by doing nothing
    * (vacuum reclaims unpublished versions above the pointer as
    * orphans — which also means: do NOT run vacuum between stage and
    * publish). */
  def stageUpsert(spark: SparkSession, t: String, updates: DataFrame,
      keys: Seq[String], partCol: String,
      optimizeWrite: Boolean = false,
      store: CommitStore = CommitStore.local): Long =
    underLock(t, store) {
      upsertAttempt(spark, t, updates, keys, partCol, optimizeWrite,
        store, None, lockHeld = true, publish = false)
    }

  /** [[upsert]] (with no `keys`, [[append]]) as ONE attempt under the
    * table lock, which cannot lose a race: the streaming sink's last
    * resort for an epoch whose commit ran out of retries, so a
    * long-running query always makes progress. Like every lock taker
    * it fails at once on a held lock; the sink queues it. */
  private[graft] def upsertUnderLock(spark: SparkSession, t: String,
      updates: DataFrame, keys: Seq[String], partCol: String,
      store: CommitStore, txn: Option[String]): Long =
    underLock(t, store) {
      upsertAttempt(spark, t, updates, keys, partCol,
        optimizeWrite = false, store, txn, lockHeld = true)
    }

  /** One attempt run while holding the table lock for all of it: no
    * other writer commits in between, so the attempt cannot
    * conflict. */
  private def underLock(t: String, store: CommitStore)(
      attempt: => Either[String, Long]): Long =
    Incremental.withLock(t, Incremental.DefaultLockStaleMs, store) {
      attempt.fold(c => throw new IllegalStateException(
        s"$t: conflict while holding the table lock: $c"), identity)
    }

  private def upsertAttempt(spark: SparkSession, t: String,
      updates: DataFrame, keys: Seq[String], partCol: String,
      optimizeWrite: Boolean, store: CommitStore, txn: Option[String],
      lockHeld: Boolean = false,
      publish: Boolean = true): Either[String, Long] =
    commitAttempt(spark, t, updates, partCol, keys, store, txn,
      requireBase = false, dropEmptied = false,
      resolve = (updCached, touchedDirs, mBase, _) => {
        val existingDirs = ownerDirs(t, mBase, touchedDirs)
        // empty `keys` = append semantics: keep every existing row
        val merged =
          if (existingDirs.isEmpty) updCached
          else {
            val existing = spark.read.option("mergeSchema", "true")
              .parquet(existingDirs: _*)
            val kept =
              if (keys.isEmpty) existing
              else existing.join(
                updCached.select(keys.map(col): _*).distinct(),
                keys, "left_anti")
            kept.unionByName(updCached, allowMissingColumns = true)
          }
        if (optimizeWrite) merged.repartition(col(partCol)) else merged
      },
      // a written dir that exists in the manifest but was NOT predicted
      // as touched means the value→dir rendering disagreed with the
      // writer's — its existing rows were not merged. Refuse loudly
      // rather than commit a partition that silently dropped them.
      checkParts = (parts, touchedDirs, mBase) => {
        val unmerged =
          parts.filter(p => mBase.contains(p) && !touchedDirs(p))
        if (unmerged.nonEmpty)
          throw new IllegalStateException(
            "partition rendering mismatch: wrote " +
              unmerged.mkString(", ") + " without merging its " +
              "existing rows — partCol type unsupported for " +
              "manifest addressing (use string/date/integral keys)")
      },
      lockHeld = lockHeld, publish = publish)

  /** WRITE-AUDIT-PUBLISH, publish half: flip the pointer to a STAGED
    * version after its audit passed. Refuses to move backwards (use
    * [[restore]] for rollback — it preserves linear history). */
  def publish(t: String, v: Long,
      store: CommitStore = CommitStore.local): Unit =
    Incremental.withCommitLock(t, store) {
      // manifest-FILE existence, not emptiness: an empty staged batch
      // is a legitimate version (same hasManifest rule as every other
      // dispatch site)
      if (!hasManifest(t, v, store)) throw new IllegalStateException(
        s"$t has no staged snapshot v$v (vacuumed or never staged)")
      val cur = currentVersion(t, store)
      if (cur.exists(_ >= v)) throw new IllegalStateException(
        s"$t is already at v${cur.get} >= staged v$v — publish only " +
          "moves forward; use restore for rollback")
      commitPointer(t, v, store)
    }

  /** Bounded retry around one optimistic attempt: Right commits, Left
    * conflicts consume a retry, exhaustion refuses naming the last
    * conflict. */
  private def commitLoop(t: String, maxRetries: Int)(
      attemptOnce: () => Either[String, Long]): Long = {
    require(maxRetries >= 0, "maxRetries must be >= 0")
    var attempt = 0
    var lastConflict = ""
    while (attempt <= maxRetries) {
      attemptOnce() match {
        case Right(v) => return v
        case Left(conflict) =>
          lastConflict = conflict
          attempt += 1
      }
    }
    throw new Incremental.ConcurrentWriteException(
      s"$t: commit lost ${attempt} race" +
        (if (attempt > 1) "s" else "") +
        s" and maxRetries=$maxRetries is exhausted — last conflict: " +
        lastConflict + ". Concurrent writers kept taking these " +
        "partitions: retry once they go quiet, or raise maxRetries; " +
        "if it reports reclaimed base data on every attempt, the " +
        "manifest may reference a missing owner dir (inspect before " +
        "retrying).")
  }

  /** One prepare+validate+commit attempt: Right(committed version) or
    * Left(conflict description) when a concurrent commit took one of
    * this writer's partitions since its base. The write semantics are
    * the caller's (`resolve` computes the touched partitions'
    * replacement rows from the cached source against the base
    * manifest; `checkParts` refuses rendering mismatches after the
    * data lands) — the protocol (reserve, heartbeated lock-free
    * prepare, metadata-only validate+commit, conflict classification)
    * is shared by every DML writer. `dropEmptied` commits the
    * REMOVAL of a touched partition the resolved output left empty
    * (merge's matched-DELETE emptying a partition, a predicate delete
    * emptying one); upsert/append can never empty one, and under a
    * rendering mismatch the drop would be a silent data loss, so they
    * keep it off. `detect`, when given, computes the touched set from
    * the BASE version instead of the updates frame (predicate
    * DELETE/UPDATE have no updates frame — their touched set is a
    * detection scan, re-run per attempt against each new base); a
    * detection that matches nothing short-circuits to the base
    * version, burning no commit.
    *
    * `lockHeld`: the CALLER holds the table lock for the whole attempt
    * ([[underLock]]) — the attempt then takes no lock of its own and
    * writes no `.inflight` marker (vacuum needs that lock, so nothing
    * can reclaim the dir), and nothing can commit in between, so it
    * cannot conflict. `publish = false` (only under a held lock)
    * stages the version without flipping the pointer. */
  private def commitAttempt(spark: SparkSession, t: String,
      updates: DataFrame, partCol: String, keys: Seq[String],
      store: CommitStore, txn: Option[String], requireBase: Boolean,
      dropEmptied: Boolean,
      resolve: (DataFrame, Set[String], Map[String, Long],
        Option[Long]) => DataFrame,
      checkParts: (Seq[String], Set[String],
        Map[String, Long]) => Unit,
      detect: Option[(Option[Long], Map[String, Long]) => Set[String]] =
        None,
      maxRecordsPerFile: Long = 0,
      prepareConstraints: Boolean = true,
      lockHeld: Boolean = false,
      publish: Boolean = true): Either[String, Long] = {
    def locked[A](body: => A): A =
      if (lockHeld) body else Incremental.withCommitLock(t, store)(body)
    val base = currentVersion(t, store)
    if (requireBase && base.isEmpty) throw new IllegalStateException(
      s"$t has no committed snapshot")
    base.foreach { b =>
      if (!hasManifest(t, b, store)) throw new IllegalStateException(
        s"$t is a full-copy snapshot table — these writers target " +
          "the partitioned manifest format (use Snapshots for it)")
    }
    val mBase = base.map(manifest(t, _, store))
      .getOrElse(Map.empty[String, Long])
    // the WRITE-GOVERNING props (CHECK constraints, generated
    // columns, and the DECLARED SCHEMA) in force when this prepare
    // enforces them — the commit section re-validates they did not
    // change, or rows prepared under the OLD rules would commit past
    // a newer ALTER's gate. The schema key matters for evolveSchema
    // merges: a prepare that adds column X as STRING racing a
    // concurrent ALTER TABLE ADD COLUMN X INT would otherwise commit
    // STRING-typed footers under a declared INT — a state neither
    // serial order produces (addColumn refuses an existing column;
    // a merge prepared after it treats the column as existing), so a
    // declared-schema change between prepare and commit must classify
    // as a conflict and re-resolve against the new base.
    def governingProps(): Map[String, String] =
      tableProps(t, store).filter { case (k, _) =>
        k == "schema" ||
          k.startsWith(Constraints.Prefix) ||
          k.startsWith(GeneratedColumns.Prefix)
      }
    val propsAtPrepare = governingProps()
    val updCached = updates.cache()
    var beat: Thread = null
    var reserved = -1L
    // ONE teardown protocol for every exit: stop the beats BEFORE
    // touching the marker/dir so a late beat cannot resurrect
    // anything mid-cleanup. Idempotent (beat nulls out; marker delete
    // no-ops when already gone).
    def stopBeatAndClearMarker(): Unit = {
      if (beat != null) {
        beat.interrupt(); beat.join(10000); beat = null
      }
      if (reserved >= 0) store.delete(inflightPath(t, reserved))
    }
    try {
      // reserve FIRST — before any data evaluation — so the whole
      // prepare (including the touched-partition scan) runs under the
      // inflight marker's vacuum protection. The reservation + marker
      // write happen under the TABLE LOCK (milliseconds of metadata):
      // vacuum classifies and deletes orphans while holding that
      // lock, so a reservation can never interleave with a vacuum's
      // classify→delete sequence — the un-markered mkdirs window is
      // closed by mutual exclusion, not by timing. The data write
      // that follows stays lock-free.
      val v = locked {
        val r = reserveVersion(t, store)
        if (!lockHeld) store.write(inflightPath(t, r), Array.emptyByteArray)
        r
      }
      reserved = v
      if (!lockHeld) beat = startInflightBeat(inflightPath(t, v), store)
      // the data phase reads BASE owner dirs lock-free — a concurrent
      // rewrite of a touched partition plus a vacuum can legally
      // reclaim one mid-read. That is a CONFLICT (re-preparing against
      // the new current version is exactly what retry does), so a
      // vanished-path failure converts to Left — consuming one retry
      // like any other lost race — instead of crashing the writer.
      val prepared: Either[String,
          Option[(Set[String], Seq[String], Map[String, Seq[FileRef]])]] =
        try {
          val touchedDirs = detect match {
            case Some(f) => f(base, mBase)
            case None => partDirsOf(updCached, partCol)
          }
          if (detect.isDefined && touchedDirs.isEmpty) Right(None)
          else {
          val merged = resolve(updCached, touchedDirs, mBase, base)
          val parts = writeData(merged, t, v, partCol, store,
            maxRecordsPerFile, prepareConstraints)
          checkParts(parts, touchedDirs, mBase)
          // list the freshly-written files HERE, lock-free — the
          // commit section's filemeta write then carries everything
          // else from the current version's record with zero store
          // listings inside the critical section
          val freshRefs = parts.map(p =>
            p -> withRowCounts(t, listPartFiles(t, v, p, store),
              store)).toMap
          Right(Some((touchedDirs, parts, freshRefs)))
          }
        } catch {
          case e: Throwable if vanishedPath(e, t) =>
            Left("base " + base.fold("<empty>")(b => s"v$b") +
              "'s data was reclaimed mid-prepare (concurrent rewrite " +
              "+ vacuum): " + e.getMessage)
          case e: Throwable =>
            // non-conflict prepare failure (constraint refusal, bad
            // caller input, rendering mismatch): nothing references
            // the reservation and the pointer never saw it — reclaim
            // NOW instead of accumulating junk dirs behind the
            // 10-minute vacuum grace
            stopBeatAndClearMarker()
            store.deleteRecursively(versionDir(t, v))
            throw e
        }
      prepared match {
        case Left(msg) =>
          stopBeatAndClearMarker()
          store.deleteRecursively(versionDir(t, v))
          return Left(msg)
        case Right(None) =>
          // detection matched nothing: the no-op contract ("the
          // CURRENT version, burning nothing") against this attempt's
          // base — correct even if a later commit landed meanwhile
          // (the equivalent serial point is the base snapshot)
          stopBeatAndClearMarker()
          store.deleteRecursively(versionDir(t, v))
          return Right(base.get)
        case Right(Some(_)) => ()
      }
      val (touchedDirs, parts, freshRefs) = prepared.toOption.get.get
      // the SHORT critical section: metadata only, no data IO
      val result: Either[String, Long] =
        locked {
          // liveness re-validation: if this writer's markers stopped
          // beating long enough for a vacuum to reclaim the prepared
          // dir (GC pause, store outage), committing would publish
          // manifest entries over deleted files — convert to a
          // conflict instead (retry re-prepares from scratch)
          if (!store.exists(reservedPath(t, v)))
            Left("this writer's prepared version dir v" + v +
              " was reclaimed mid-prepare (markers went stale past " +
              "the vacuum horizon — a long pause or store outage)")
          else {
          val cur = currentVersion(t, store)
          val mCur = cur.map(manifest(t, _, store))
            .getOrElse(Map.empty[String, Long])
          val changed = (mBase.keySet ++ mCur.keySet)
            .filter(p => mBase.get(p) != mCur.get(p))
          val conflicts = changed.intersect(touchedDirs ++ parts)
          if (governingProps() != propsAtPrepare)
            Left("table schema/constraints/generated columns changed " +
              "since this writer's prepare — rows enforced under the " +
              "old rules must not commit past the new gate (retry " +
              "re-prepares under the current definitions)")
          else if (conflicts.nonEmpty)
            Left(conflicts.toSeq.sorted.map(p =>
              s"$p taken by " + mCur.get(p).map(o => s"v$o")
                .getOrElse("a delete")).mkString(", ") +
              s" since base ${base.fold("<empty>")(b => s"v$b")}")
          else {
            // commit number: the reserved dir itself while still ahead
            // of the pointer; otherwise a fresh number whose manifest
            // references the prepared dir as data owner
            val w = if (cur.forall(_ < v)) v
              else reserveVersion(t, store)
            // a touched partition the resolved output EMPTIED (merge's
            // matched-DELETE deleting every row) drops its manifest
            // entry — safe only because checkParts verified the
            // written dirs render inside the touched set, and the
            // conflict check above already covered every touched dir
            val dropped =
              if (dropEmptied) touchedDirs -- parts.toSet
              else Set.empty[String]
            val mNew = (mCur -- dropped) ++ parts.map(_ -> v).toMap
            // filemeta: when the current version's record cross-checks
            // against its manifest (parsed ONCE here and handed to
            // writeFileMeta — the critical section reads the multi-MB
            // record a single time), untouched partitions copy from it
            // and the touched ones come from the prepare's lock-free
            // listing — ZERO store listings in this critical section.
            // A pre-feature or inconsistent current record instead
            // carries what still matches and lists the rest once, under
            // the lock (the lazy upgrade; every later commit carries)
            val carriedRefs = cur.flatMap(c =>
              checkedFileManifest(t, c, mCur, store))
            writeFileMeta(t, w, mNew, cur, store, freshRefs,
              carriedRefs = carriedRefs)
            writeManifest(t, w, mNew, store)
            if (publish) commitPointer(t, w, store, txn)
            writeProps(t, partCol, keys, store)
            Right(w)
          }
          }
        }
      stopBeatAndClearMarker()
      result match {
        case l @ Left(_) =>
          // the prepared dir is this writer's alone — reclaim it now
          // rather than leaving an orphan for vacuum's horizon
          store.deleteRecursively(versionDir(t, v))
          l
        case r => r
      }
    } finally {
      // commit-phase exception path: marker teardown only. The dir is
      // NOT deleted here — a commit-section failure can land after
      // the pointer flip (the dir is then live data), so the
      // conservative cleanup is the vacuum horizon; prepare-phase
      // failures reclaim eagerly in their own handler above.
      if (beat != null) stopBeatAndClearMarker()
      updCached.unpersist()
    }
  }

  /** A failure whose cause chain says a path UNDER THIS TABLE no
    * longer exists — the signature of a base owner dir reclaimed by a
    * concurrent rewrite + vacuum (Spark wraps the underlying
    * FileNotFoundException in task/job failures, so the chain and the
    * rendered messages are both checked). Scoped to the table's own
    * paths: a FileNotFound naming the CALLER'S input (their updates
    * frame reading a deleted source) is not contention and must
    * surface as-is, not burn retries re-running the merge against the
    * same missing input. */
  private def vanishedPath(e: Throwable, t: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { x =>
      val msg = Option(x.getMessage).getOrElse("")
      val missing = x.isInstanceOf[java.io.FileNotFoundException] ||
        // Spark renders the wrapped cause into task-failure messages;
        // match only the SPECIFIC missing-path signatures (a generic
        // "does not exist" would also classify permanent corruption
        // as transient contention)
        msg.contains("FileNotFoundException") ||
        msg.contains("PATH_NOT_FOUND")
      missing && msg.contains(t)
    }

  /** Daemon that keeps an optimistic preparation's `.inflight` marker
    * fresh (vacuum's liveness signal — the preparer runs OUTSIDE the
    * table lock, so the lock heartbeat cannot vouch for it). Stops by
    * itself when the marker is gone or un-touchable. */
  private def startInflightBeat(path: String,
      store: CommitStore): Thread = {
    val interval = math.max(Incremental.DefaultLockStaleMs / 3, 50L)
    val th = new Thread(() => {
      try {
        var beating = true
        while (beating && !Thread.currentThread().isInterrupted) {
          Thread.sleep(interval)
          // a FAILED touch is terminal only when the marker is
          // actually gone — stores report transient errors (one
          // NameNode blip, a 5xx) as false too, and a beat that quits
          // on the first of those silently drops vacuum protection
          // for the rest of a long prepare
          if (!store.touch(path)) beating = store.exists(path)
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-inflight-beat:$path")
    th.setDaemon(true)
    th.start()
    th
  }

  /** Read the current committed version. */
  def read(spark: SparkSession, t: String,
      store: CommitStore = CommitStore.local): DataFrame =
    currentVersion(t, store) match {
      case Some(v) => readVersion(spark, t, v, store)
      case None => throw new IllegalStateException(
        s"$t has no committed snapshot")
    }

  /** Time travel: one multi-path scan over the version's manifest-
    * resolved partition dirs (partition data is immutable, so a pinned
    * reader is isolated from every later commit). */
  def readVersion(spark: SparkSession, t: String, v: Long,
      store: CommitStore = CommitStore.local): DataFrame = {
    if (!hasManifest(t, v, store)) throw new IllegalStateException(
      s"$t has no snapshot v$v (vacuumed or never committed)")
    val m = manifest(t, v, store)
    if (m.isEmpty) {
      // a committed EMPTY version (keyed table primed with an empty
      // batch) has zero footers to infer from — the declared schema is
      // the schema, same contract as the SQL catalog's read path
      declaredEmptyFrame(spark, t, store).getOrElse(
        throw new IllegalStateException(
          s"$t v$v is empty and the table declares no schema — " +
            "CREATE TABLE (or write data) first"))
    } else planMeta(t, v, store, preParsed = Some(m)) match {
      case Some((refs, schema)) =>
        // plan from metadata: the commit recorded the version's file
        // list and owner schemas — hand Spark an explicit file index
        // (zero listings, zero footer reads; exact sizes feed stats
        // and split planning). Filter pushdown, column pruning and
        // footer-stats skipping behave exactly as on the listing
        // path — plus FILE skipping: pushed predicates prune the
        // planned list through the partition values and stats
        // sidecars the index holds (GraftFileIndex.pruneFiles).
        //
        // Storage-partitioned joins (round 16): a V1 HadoopFsRelation
        // CANNOT report KeyGroupedPartitioning, so with the
        // preserve-data-grouping session conf set the operator door
        // routes through the same DSv2 IndexedParquetTable the SQL
        // catalog plans — co-partitioned joins between two operator
        // reads then drop both exchanges exactly as the SQL door's do
        // (the scan itself re-checks both SPJ gates, so this routing
        // is inert when Spark's v2 bucketing is off). Default stays
        // the V1 path: identical semantics, long-pinned plan shape.
        if (spark.conf.getOption(
            graft.plans.StatParquetScan.PreserveGroupingKey)
            .exists(_.trim.equalsIgnoreCase("true"))) {
          val opts = new org.apache.spark.sql.util
            .CaseInsensitiveStringMap(
              java.util.Map.of("mergeSchema", "true"))
          val table = new graft.plans.IndexedParquetTable(
            s"$t@v$v", spark, opts, t, schema,
            planStatuses(t, refs, store, plannedV = Some(v)),
            pruneSpecFor(t, v, schema, store, Some(refs)),
            rowCountOf(refs))
          org.apache.spark.sql.graft.Bridge.ofRows(spark,
            org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2Relation.create(table, None, None, opts))
        } else {
        val rel = org.apache.spark.sql.execution.datasources
          .HadoopFsRelation(
            new graft.plans.GraftFileIndex(spark,
              new org.apache.hadoop.fs.Path(t),
              planStatuses(t, refs, store, plannedV = Some(v)),
              pruneSpecFor(t, v, schema, store, Some(refs))),
            new org.apache.spark.sql.types.StructType(), schema, None,
            new org.apache.spark.sql.execution.datasources.parquet
              .ParquetFileFormat(),
            Map.empty[String, String])(spark)
        spark.baseRelationToDataFrame(rel)
        }
      case None =>
        // pre-sidecar version (or torn/unmergeable record): the
        // legacy listing+mergeSchema path is the semantic
        val dirs = m.toSeq.sorted.map { case (p, owner) =>
          s"${dataDir(t, owner)}/$p"
        }
        spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }
  }

  /** Version `v`'s data files, deterministically ordered (manifest
    * entries resolved to their owner dirs, then full paths sorted) —
    * the unit the streaming source's paced BOOTSTRAP slices by: the
    * order must be stable across calls and across restarts so a
    * checkpointed file cursor resumes exactly where it stopped.
    * Metadata-sized: one listing per owner dir of the touched
    * partitions, no data read. */
  def versionFiles(t: String, v: Long,
      store: CommitStore = CommitStore.local): Seq[String] =
    // the trailing full-path sort alone defines the deterministic
    // order the checkpointed file cursor depends on — IDENTICAL
    // between the recorded (filemeta) and listing paths, because both
    // sort the same full-path set: a checkpoint written against one
    // resumes exactly against the other. The record serves only when
    // it cross-checks against the manifest (checkedFileManifest) — an
    // incomplete record would pin a SHORT list into a bootstrap
    // checkpoint and silently never deliver the missing files.
    {
      val m = manifest(t, v, store)
      checkedFileManifest(t, v, m, store) match {
        case Some(refs) =>
          refs.map(r => s"${dataDir(t, r.owner)}/${r.part}/${r.name}")
            .sorted
        case None =>
          m.toSeq.flatMap { case (p, owner) =>
            val dir = s"${dataDir(t, owner)}/$p"
            store.listEntries(dir)
              .filter(e => !e.isDir && e.name.endsWith(".parquet"))
              .map(e => s"$dir/${e.name}")
          }.sorted
      }
    }

  /** Drop every version dir that no RETAINED manifest references:
    * retained = the newest `keep` committed manifests (the current one
    * always survives); orphan versions above the pointer go too. A
    * pre-horizon version whose partitions are still referenced by a
    * retained manifest is KEPT — data ownership, not recency, decides
    * reclamation (the manifest-GC rule every lakehouse format shares).
    * Returns the versions deleted. */
  def vacuum(t: String, keep: Int = 1,
      store: CommitStore = CommitStore.local,
      txnRetainMs: Option[Long] = None): Seq[Long] = {
    require(keep >= 1, "keep must retain at least the current version")
    Incremental.withLock(t, Incremental.DefaultLockStaleMs, store) {
      val cur = currentVersion(t, store).getOrElse(return Seq.empty)
      val all = versions(t, store)
      // a version dir WITHOUT a manifest is a writer that crashed
      // between its data write and its manifest write — an orphan
      // regardless of where it sits relative to the pointer; dirs above
      // the pointer are orphans too (crashed before the flip) — EXCEPT
      // a LIVE optimistic preparer's dir, identified by its markers
      // being fresher than the lock staleness horizon (optimistic
      // writers prepare data OUTSIDE the table lock, so vacuum cannot
      // rely on the lock to exclude them; a crashed preparer's beats
      // stop and the horizon reclaims it exactly like a crashed lock
      // holder). BOTH markers count: the heartbeated `.inflight`, AND
      // the `.reserved` allocation marker — a preparer exists for a
      // moment between reserving the number and writing `.inflight`,
      // and without the `.reserved` grace a vacuum in that window
      // would delete the dir out from under it (re-opening the very
      // version-number collision reserveVersion exists to prevent).
      // A live lock-holding writer needs no grace — it holds the lock this
      // vacuum is running under — so a bare dir with a fresh
      // `.reserved` seen from INSIDE the lock is either a crashed
      // writer within the horizon (reclaimed by the next vacuum after
      // it ages) or a live lock-free preparer. Manifest-bearing dirs
      // (staged WAP versions) are never graced: abandoning a staged
      // version to vacuum is their documented lifecycle.
      val nowMs = System.currentTimeMillis()
      def fresh(p: String): Boolean =
        store.modifiedMs(p)
          .exists(m => nowMs - m <= Incremental.DefaultLockStaleMs)
      def liveInflight(v: Long): Boolean =
        fresh(inflightPath(t, v)) ||
          (!store.exists(manifestPath(t, v)) &&
            fresh(reservedPath(t, v)))
      val (withManifest, bare) =
        all.partition(v => store.exists(manifestPath(t, v)))
      val committed = withManifest.filter(_ <= cur)
      // tagged versions are retained regardless of recency (Tags),
      // and like every retained manifest they keep the owner dirs they
      // reference alive
      val retainedManifests = (committed.takeRight(keep).toSet + cur ++
        Tags.taggedVersions(t, store).filter(committed.contains)).toSeq
      val referenced = retainedManifests
        .flatMap(v => manifest(t, v, store).values).toSet ++
        retainedManifests
      // a bare (manifest-less) dir REFERENCED by a retained manifest is
      // not an orphan — it is a data-owner dir an optimistic commit
      // published under a later version number (the commit's manifest
      // points at the preparer's dir); ownership, not the presence of
      // its own manifest, decides reclamation
      val orphans = (all.filter(_ > cur) ++ bare.filter(_ <= cur))
        .filterNot(referenced).filterNot(liveInflight)
      val committedDrops = committed.filterNot(referenced)
      // streaming exactly-once: a committed version's txn marker
      // outlives its version dir (Txns sidecar) — orphans' markers
      // were never visible and are NOT preserved
      // sweep clock captured BEFORE preserve, and the marks this call
      // preserves are EXCLUDED from its sweep explicitly — the sweep
      // can only reclaim marks idle since a PRIOR vacuum, even at
      // txnRetainMs = 0 and regardless of store mtime granularity
      val sweepNow = System.currentTimeMillis()
      val justPreserved =
        Txns.preserve(t, committedDrops, v => commitTxn(t, v, store),
          store)
      txnRetainMs.foreach(r =>
        Txns.sweep(t, r, sweepNow, store, justPreserved))
      val drop = (committedDrops ++ orphans).distinct.sorted
      // TOCTOU guard, FUSED per dir (a pre-pass filter would re-open
      // a seconds-wide window while earlier dirs delete): re-evaluate
      // liveness immediately adjacent to each delete, so a dir that
      // became a live preparation mid-vacuum is kept, not destroyed
      // under the writer. Reservations themselves run under the table
      // lock this vacuum holds (commitAttempt takes it for the
      // reserve+mark step), so a claim cannot interleave with this
      // loop at all — the fused check is defense in depth.
      drop.flatMap { v =>
        if (liveInflight(v)) None
        else {
          store.deleteRecursively(versionDir(t, v))
          Some(v)
        }
      }
    }
  }

  /** RESTORE: roll the table back (or forward) to retained version `v`
    * as a NEW commit — `v`'s manifest re-commits under the next version
    * number and the pointer flips. ZERO data moves: the new manifest
    * references `v`'s owner dirs, which ownership [[vacuum]] then keeps
    * alive for as long as the restore is retained. History is preserved
    * (the undone versions stay readable until vacuumed) — the
    * lakehouse RESTORE semantic, not a destructive reset. */
  def restore(spark: SparkSession, t: String, v: Long,
      store: CommitStore = CommitStore.local): Long =
    Incremental.withLock(t, Incremental.DefaultLockStaleMs, store) {
      // committed-and-present, the Tags.set rule: the manifest FILE must
      // exist (an empty manifest — keyed table primed with an empty
      // batch — restores fine as an empty version) and v must be at or
      // below the pointer (above it is a staged version or a crashed
      // writer's orphan; publishing those is publish()'s job, never a
      // restore side effect)
      if (!hasManifest(t, v, store)) throw new IllegalStateException(
        s"$t has no snapshot v$v (vacuumed or never committed)")
      val cur = currentVersion(t, store).getOrElse(
        throw new IllegalStateException(
          s"$t has no committed snapshot to restore"))
      if (v > cur) throw new IllegalStateException(
        s"$t v$v is staged or orphaned (pointer at v$cur) — only " +
          "committed versions restore; use publish for staged versions")
      val m = manifest(t, v, store)
      // validation scan (read-only; a refusal burns nothing): CHECK
      // constraints and generated columns recorded AFTER v must hold
      // over the resurrected rows — the same choke point every data
      // write passes. The restore itself stays zero-copy.
      if (m.nonEmpty)
        Constraints.prepare(readVersion(spark, t, v, store), t, store)
      // no data write creates the version dir here; reserveVersion
      // makes it (collision-free against lock-free optimistic
      // preparers) and it hosts the manifest
      val newV = reserveVersion(t, store)
      // carry the file manifest from the RESTORED version — its
      // entries describe exactly the owner dirs the new manifest
      // references (a pre-feature v lists once, like any upgrade)
      writeFileMeta(t, newV, m, Some(v), store)
      writeManifest(t, newV, m, store)
      commitPointer(t, newV, store)
      newV
    }

  /** One commit-log entry: partition count, partitions this version
    * OWNS data for, whether it is at-or-below the pointer, and its
    * publish time (None while staged / for pre-feature versions). */
  final case class Commit(version: Long, partitions: Int, owned: Int,
      committed: Boolean, publishedMs: Option[Long])

  /** Commit log, newest first — pure manifest metadata, no data read.
    * Orphan dirs (no manifest) are skipped; `committed` is false for
    * versions above the current pointer (staged but never flipped, or
    * flipped past by a restore's re-commit). */
  def history(t: String, store: CommitStore = CommitStore.local)
      : Seq[Commit] = {
    val cur = currentVersion(t, store)
    versions(t, store).reverse.flatMap { v =>
      // skip only versions with NO manifest file (crashed-writer
      // orphans); an empty-but-present manifest is a real commit (a
      // keyed table primed with an empty batch) and belongs in the log
      if (!hasManifest(t, v, store)) None
      else {
        val m = manifest(t, v, store)
        Some(Commit(v, m.size, m.values.count(_ == v),
          cur.exists(v <= _), commitTimeMs(t, v, store)))
      }
    }
  }

  /** Partition dir name for a rendered (cast-to-string) partition value,
    * using Spark's own escaping — the writer's rendering. */
  private def partDirName(rendered: Option[String]): String =
    "__p=" + rendered.fold("__HIVE_DEFAULT_PARTITION__")(
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName)

  /** Partition dir names of `df`'s distinct `partCol` values, derived
    * with SPARK'S OWN escaping (ExternalCatalogUtils — the routine the
    * partitioned writer uses), so a writer only ever LISTS, let alone
    * reads, the touched owners' dirs. Values render through
    * cast-to-string (the writer's rendering); string/date/integral
    * partition keys round-trip exactly. The collect is
    * partition-VALUE-sized, never rows. */
  private def partDirsOf(df: DataFrame, partCol: String): Set[String] =
    df.select(col(partCol).cast("string")).distinct().collect()
      .map(r => partDirName(
        if (r.isNullAt(0)) None else Some(r.getString(0))))
      .toSet

  /** The owner data dirs manifest `m` maps partitions `parts` to. */
  private def ownerDirs(t: String, m: Map[String, Long],
      parts: Set[String]): Seq[String] =
    m.collect { case (p, o) if parts(p) => s"${dataDir(t, o)}/$p" }
      .toSeq.sorted

  /** The detection scan of the predicate writers: partitions of
    * version `v` holding a row `where` is TRUE for (predicate pushdown
    * and footer stats prune it). */
  private def matchingParts(spark: SparkSession, t: String, v: Long,
      where: org.apache.spark.sql.Column, partCol: String,
      store: CommitStore): Set[String] =
    partDirsOf(readVersion(spark, t, v, store).filter(where), partCol)

  /** `checkParts` for writers whose output must land inside the
    * partitions they read: a dir written outside them means the
    * value→dir rendering disagreed with the writer's or a row moved
    * partitions — refuse before the commit. */
  private def landsInside(op: String, read: String, cause: String)
      : (Seq[String], Set[String], Map[String, Long]) => Unit =
    (parts, touchedDirs, _) => {
      val unexpected = parts.filterNot(touchedDirs)
      if (unexpected.nonEmpty)
        throw new IllegalStateException(
          s"partition rendering mismatch during $op: wrote " +
            unexpected.mkString(", ") + s" outside $read — $cause " +
            "(orphan version; vacuum reclaims it)")
    }

  /** Predicate DELETE as a new version — the GDPR/retention path every
    * lakehouse needs: one detection scan finds the partitions holding
    * matches (predicate pushdown + footer stats prune it), ONLY those
    * partitions rewrite without their matching rows, and every other
    * partition's manifest entry carries over untouched — O(touched
    * partitions) data cost, like upsert. A partition whose every row
    * matches leaves the manifest entirely. Readers pinned to prior
    * versions still see the deleted rows until vacuum reclaims their
    * version dirs — the usual MVCC caveat for hard-delete compliance
    * (run vacuum to make removal physical).
    *
    * Commits through [[upsert]]'s protocol, with the detection re-run
    * against every attempt's BASE version (a lost race re-detects
    * against the winner's rows). Isolation is WRITE-serializable
    * (Delta's default level): the committed state is equivalent to
    * running the delete at its base snapshot — rows matching the
    * predicate that a CONCURRENT commit inserts into partitions this
    * delete never touched are NOT deleted (the equivalent serial order
    * runs the delete first).
    *
    * Returns the committed version (the base version, burning
    * nothing, when no row matches). */
  def delete(spark: SparkSession, t: String,
      where: org.apache.spark.sql.Column, partCol: String,
      store: CommitStore = CommitStore.local,
      maxRetries: Int = 3): Long =
    commitLoop(t, maxRetries) { () =>
      commitAttempt(spark, t, spark.emptyDataFrame, partCol, Nil,
        store, None, requireBase = true, dropEmptied = true,
        // keep every row the predicate does NOT prove TRUE for: a
        // NULL verdict keeps the row (three-valued logic, same rule
        // as updateWhere's `hit` and MERGE's delete flag — a bare
        // not(where) would silently delete NULL-predicate rows of
        // touched partitions)
        resolve = (_, touchedDirs, mBase, _) =>
          spark.read.option("mergeSchema", "true")
            .parquet(ownerDirs(t, mBase, touchedDirs): _*)
            .filter(org.apache.spark.sql.functions.not(
              org.apache.spark.sql.functions
                .coalesce(where, lit(false)))),
        checkParts = landsInside("delete", "the detected partitions",
          "aborting commit"),
        detect = Some((base, _) =>
          matchingParts(spark, t, base.get, where, partCol, store)))
    }

  /** Predicate UPDATE as a new version (SQL `UPDATE t SET … WHERE …`):
    * one detection scan finds the partitions holding matches, ONLY
    * those rewrite with the assignments applied to their matching rows
    * (a NULL predicate row is NOT updated — three-valued logic), and
    * every other partition's manifest entry carries over — the same
    * O(touched partitions) shape, commit protocol and
    * write-serializable isolation as [[delete]]. Assignments must not
    * move a row across partitions (checked, like [[merge]]).
    *
    * Returns the committed version (the base version, burning
    * nothing, when no row matches). */
  def updateWhere(spark: SparkSession, t: String,
      set: Map[String, org.apache.spark.sql.Column],
      where: org.apache.spark.sql.Column, partCol: String,
      store: CommitStore = CommitStore.local,
      maxRetries: Int = 3): Long =
    commitLoop(t, maxRetries) { () =>
      commitAttempt(spark, t, spark.emptyDataFrame, partCol, Nil,
        store, None, requireBase = true, dropEmptied = false,
        resolve = (_, touchedDirs, mBase, base) => {
          val cols = readVersion(spark, t, base.get, store).columns.toSeq
          val hit = org.apache.spark.sql.functions.coalesce(
            where, lit(false))
          spark.read.option("mergeSchema", "true")
            .parquet(ownerDirs(t, mBase, touchedDirs): _*)
            .select(cols.map { c =>
              set.get(c) match {
                case Some(e) => when(hit, e).otherwise(col(c)).as(c)
                case None => col(c)
              }
            }: _*)
        },
        checkParts = landsInside("update", "the detected partitions",
          "an assignment moved a row across partitions"),
        detect = Some((base, _) =>
          matchingParts(spark, t, base.get, where, partCol, store)))
    }

  /** Column refs for [[merge]] clause expressions: `target("c")` /
    * `source("c")` address the two sides of the matched join. */
  def target(c: String): org.apache.spark.sql.Column = col(s"__t_$c")
  def source(c: String): org.apache.spark.sql.Column = col(s"__s_$c")

  /** Delta-style MERGE INTO on the partitioned snapshot format — the
    * general conditional write the specialized ops compose from
    * ([[upsert]] = update-all-columns + insert; [[delete]] = a matched
    * delete with no source):
    *
    *  - MATCHED rows satisfying `whenMatchedDelete` are dropped;
    *  - other MATCHED rows have the columns in `whenMatchedUpdate`
    *    recomputed (expressions over [[target]]/[[source]] refs;
    *    columns not named keep their target value);
    *  - NOT-MATCHED source rows are inserted when `insertNotMatched`
    *    (source schema must cover the target's columns);
    *  - NOT-MATCHED target rows are untouched — and so are entire
    *    untouched PARTITIONS: the merge reads and rewrites only the
    *    partitions the source addresses, commits a manifest + pointer
    *    like every other writer, and costs O(touched partitions).
    *
    * Same contract as [[upsert]]: the partition column is immutable per
    * key (an update must not move a row across partitions — express
    * that as delete + insert through two merges if ever needed).
    *
    * Commits through [[upsert]]'s protocol: any partition this merge
    * reads or writes that changed owner since the base version refuses
    * the attempt, and a bounded retry re-resolves the clauses against
    * the new current version — a lost race re-reads the winner's rows
    * before matching, never matches against stale data. A
    * matched-DELETE that empties a partition drops its manifest entry.
    *
    * Schema: by default the output projects to the TARGET's columns —
    * extra source columns are usable in clause expressions (a delete
    * flag) but never land, matching Delta's default. `evolveSchema`
    * widens the target with the source's new columns first (nulls for
    * pre-existing rows — upsert's append_new_columns pin), so an
    * INSERT/UPDATE can land them; untouched partitions keep their old
    * footers and every read path mergeSchema-reconciles. */
  def merge(spark: SparkSession, t: String, src: DataFrame,
      keys: Seq[String], partCol: String,
      whenMatchedUpdate: Map[String, org.apache.spark.sql.Column] = Map.empty,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
      insertNotMatched: Boolean = true,
      insertCond: Option[org.apache.spark.sql.Column] = None,
      evolveSchema: Boolean = false,
      store: CommitStore = CommitStore.local,
      maxRetries: Int = 3): Long =
    commitLoop(t, maxRetries) { () =>
      commitAttempt(spark, t, src, partCol, keys, store, None,
        requireBase = true, dropEmptied = true,
        resolve = (srcCached, touchedDirs, mBase, base) => {
          // the schema source is the BASE version — the exact state the
          // validation will verify. Re-derived on EVERY attempt: a
          // concurrent evolveSchema merge can widen the table between
          // attempts, and the re-resolve must see the new base's
          // columns. On an indexed table the schema comes from planMeta
          // (metadata-only).
          val full = readVersion(spark, t, base.get, store)
          val existingDirs = ownerDirs(t, mBase, touchedDirs)
          val targetCols0 = full.columns.toSeq
          val tgt0 =
            if (existingDirs.isEmpty) full.limit(0)
            else spark.read.option("mergeSchema", "true")
              .parquet(existingDirs: _*)
          // schema evolution: widen the target with the source's NEW
          // columns (null for existing rows) so clauses can land them
          val newCols =
            if (evolveSchema)
              srcCached.columns.toSeq.filterNot(targetCols0.contains)
            else Nil
          val targetCols = targetCols0 ++ newCols
          // also null-fill any table column the touched (old-footer)
          // partitions predate — mergeSchema over a pre-evolution subset
          // surfaces only the columns those footers carry
          val tgt = targetCols.foldLeft(tgt0)((d, c) =>
            if (d.columns.contains(c)) d
            else d.withColumn(c, lit(null).cast(
              if (newCols.contains(c)) srcCached.schema(c).dataType
              else full.schema(c).dataType)))
          MergeClauses.resolve(tgt, srcCached, keys, targetCols,
            whenMatchedUpdate, whenMatchedDelete, insertNotMatched,
            insertCond)
        },
        checkParts = landsInside("merge", "the source's partitions",
          "an update moved a row across partitions or the partCol " +
            "type is unsupported"))
    }

  /** OPTIMIZE: rewrite the current version's FRAGMENTED partitions
    * (≥ `minFiles` data files — the debris a streaming upsert cadence
    * leaves, one task-count's worth of files per touched partition per
    * batch) into one coalesced file each, committed as a NEW version
    * through [[upsert]]'s protocol. Pure maintenance: the row set is
    * bit-identical, readers pinned to prior versions keep their
    * immutable dirs, and partitions already compact carry their
    * manifest entry over without a byte moving. IO is O(fragmented
    * partitions) — the manifest names the owner dirs, so only those
    * are listed and read — and a compaction of COLD partitions runs
    * its data phase at the same time as writers to other partitions.
    *
    * Fragmentation DETECTION runs against each attempt's BASE version
    * (from the commit-recorded file manifest when it cross-checks —
    * zero listings), so a lost race re-detects against the winner's
    * state, which may already be compact. The write bypasses
    * Constraints.prepare: the rows already passed the gate when first
    * written, re-checking per attempt would burn Spark jobs, and
    * generated-column backfill would break the identity — so
    * write-serializable isolation degenerates to plain
    * serializability here. A zero-row fragmented dir yields no
    * rewritten dir and KEEPS its manifest entry.
    *
    * One file per partition comes from `repartition(partCol)`: each
    * partition value hashes to exactly one task, and a task writes one
    * file per partition dir it holds. `maxRecordsPerFile` caps the
    * rewrite for oversized partitions (the writer rolls extra files in
    * the same task — set it to keep files inside executor-memory-sized
    * row groups at 100 TB; 0 = no cap).
    *
    * `clusterBy` sorts rows within each task (partition first, then the
    * cluster key), so when `maxRecordsPerFile` rolls a partition into
    * several files each covers a NARROW, disjoint cluster-key range —
    * the OPTIMIZE+CLUSTER move that makes both the zone map
    * ([[buildZoneMap]]/[[readBetween]]) and parquet row-group stats
    * selective on a non-partition column. `zOrderBy` is the
    * multi-dimension form (OPTIMIZE ZORDER BY parity): rows sort on a
    * Morton key interleaving every named dimension ([[ZOrder.zValue]];
    * per-dim min/max collected to literals over the fragmented rows),
    * so each rolled file covers a narrow range in EVERY dimension, not
    * just the leading one. Mutually exclusive with `clusterBy`.
    *
    * Returns (version, compacted partition dirs) — (current, Nil)
    * without burning a version when nothing is fragmented. */
  def compact(spark: SparkSession, t: String, partCol: String,
      minFiles: Int = 2, maxRecordsPerFile: Long = 0,
      clusterBy: Seq[String] = Nil, zOrderBy: Seq[String] = Nil,
      store: CommitStore = CommitStore.local,
      maxRetries: Int = 3): (Long, Seq[String]) = {
    require(minFiles >= 2, "minFiles < 2 would rewrite compact partitions")
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "pick clusterBy (single-dim) or zOrderBy (Morton), not both")
    // the successful attempt's written dirs — assigned by checkParts
    // AFTER the rendering guard passes, so the committed attempt's
    // value is the one returned (attempts run sequentially)
    @volatile var committedParts: Seq[String] = Seq.empty
    val inside = landsInside("compaction", "the fragmented dirs read",
      "aborting commit")
    val v = commitLoop(t, maxRetries) { () =>
      committedParts = Seq.empty
      commitAttempt(spark, t, spark.emptyDataFrame, partCol, Nil,
        store, None, requireBase = true, dropEmptied = false,
        resolve = (_, touchedDirs, mBase, _) =>
          compactionShape(spark.read.option("mergeSchema", "true")
            .parquet(ownerDirs(t, mBase, touchedDirs): _*),
            partCol, clusterBy, zOrderBy),
        checkParts = (parts, touchedDirs, mBase) => {
          inside(parts, touchedDirs, mBase)
          committedParts = parts
        },
        detect = Some((base, mBase) =>
          fragmentedParts(t, base.get, mBase, minFiles, store)),
        maxRecordsPerFile = maxRecordsPerFile,
        prepareConstraints = false)
    }
    (v, committedParts)
  }

  /** Version `v`'s partitions holding ≥ `minFiles` data files — the
    * compaction candidates. Counted from the commit-recorded file
    * manifest when it cross-checks (ZERO store listings — the
    * metadata a 100k-partition table plans from); a version without a
    * usable record pays one listing per partition, the legacy cost. */
  private def fragmentedParts(t: String, v: Long, m: Map[String, Long],
      minFiles: Int, store: CommitStore): Set[String] =
    checkedFileManifest(t, v, m, store) match {
      case Some(refs) =>
        refs.groupBy(_.part).collect {
          case (p, fs) if fs.size >= minFiles => p
        }.toSet
      case None => m.collect {
        case (p, owner) if store.listEntries(s"${dataDir(t, owner)}/$p")
          .count(e => !e.isDir && e.name.endsWith(".parquet")) >=
          minFiles => p
      }.toSet
    }

  /** The OPTIMIZE rewrite shape of [[compact]]: one task per partition value
    * (`repartition(partCol)`), rows sorted within it on the cluster
    * key or the Morton interleave of the z-order dimensions (per-dim
    * min/max collected to literals over the fragmented rows). */
  private def compactionShape(frag0: DataFrame, partCol: String,
      clusterBy: Seq[String], zOrderBy: Seq[String]): DataFrame = {
    val withZ =
      if (zOrderBy.isEmpty) frag0
      else {
        val aggs = zOrderBy.flatMap(c => Seq(
          org.apache.spark.sql.functions.min(col(c)).cast("double"),
          org.apache.spark.sql.functions.max(col(c)).cast("double")))
        val stats = frag0.agg(aggs.head, aggs.tail: _*).first()
        def statAt(i: Int): Double =
          Option(stats.get(i)).map(_.asInstanceOf[Double])
            .getOrElse(0.0)
        frag0.withColumn("__z", ZOrder.zValue(
          zOrderBy.zipWithIndex.map { case (c, i) =>
            ZOrder.scale(col(c), statAt(2 * i), statAt(2 * i + 1))
          }))
      }
    val sortCols =
      if (zOrderBy.nonEmpty) Seq(partCol, "__z")
      else if (clusterBy.nonEmpty) partCol +: clusterBy
      else Nil
    val shuffled = withZ.repartition(col(partCol))
    val rows0 =
      if (sortCols.isEmpty) shuffled
      else shuffled.sortWithinPartitions(sortCols.map(col): _*)
    if (zOrderBy.isEmpty) rows0 else rows0.drop("__z")
  }

  /** Change-data-capture between two retained versions in
    * O(CHANGED partitions): the manifests already tell us which
    * partitions can differ (owner changed, appeared, or disappeared) —
    * every other partition maps to the SAME immutable dir in both
    * versions and is skipped without reading a byte. Only the changed
    * partitions' rows enter the key-wise full-outer compare (the same
    * CDC core as [[Snapshots.changes]]), so a 10k-partition fact table
    * whose day rolled forward pays for one day, not the table. */
  def changes(spark: SparkSession, t: String, fromV: Long, toV: Long,
      keys: Seq[String],
      store: CommitStore = CommitStore.local,
      preImages: Boolean = false): DataFrame =
    changesImpl(spark, t, fromV, toV, keys, store, preImages, None)

  /** The changed partitions of span (fromV, toV], sorted, each
    * weighted by its file count across BOTH sides — the pacing units
    * of a file-budgeted streaming CDC slice. The partition is the
    * format's atomic diff unit (partCol is immutable per key, so each
    * changed partition's key-wise diff composes to exactly the span's
    * diff). Counts come from the recorded file manifests when present
    * (metadata-only); a pre-feature version costs one listing per
    * changed dir. */
  private[graft] def changedPartsWeighted(t: String, fromV: Long,
      toV: Long, store: CommitStore = CommitStore.local)
      : IndexedSeq[(String, Long)] = {
    val mFrom = manifest(t, fromV, store)
    val mTo = manifest(t, toV, store)
    val changed = (mFrom.keySet ++ mTo.keySet)
      .filter(p => mFrom.get(p) != mTo.get(p)).toSeq.sorted
    def counts(v: Long, m: Map[String, Long]): String => Long = {
      // CHECKED record only: a filemeta inconsistent with its
      // manifest could under-report a partition's files, and a wrong
      // weight would pack an over-budget micro-batch — the exact
      // unbounded batch the pacing exists to prevent
      val fm = checkedFileManifest(t, v, m, store)
        .map(_.groupBy(_.part).view.mapValues(_.size.toLong).toMap)
      p => m.get(p).fold(0L)(o => fm.flatMap(_.get(p)).getOrElse(
        listPartFiles(t, o, p, store).size.toLong))
    }
    val cf = counts(fromV, mFrom)
    val ct = counts(toV, mTo)
    changed.map(p => p -> (cf(p) + ct(p))).toIndexedSeq
  }

  /** [[changes]] restricted to a subset of the span's changed
    * partitions — the body of one file-paced streaming CDC slice.
    * Exact because the partition is the atomic diff unit (see
    * [[changedPartsWeighted]]); a partition outside the span's changed
    * set contributes nothing either way. */
  private[graft] def changesForParts(spark: SparkSession, t: String,
      fromV: Long, toV: Long, keys: Seq[String], store: CommitStore,
      preImages: Boolean, parts: Set[String]): DataFrame =
    changesImpl(spark, t, fromV, toV, keys, store, preImages,
      Some(parts))

  private def changesImpl(spark: SparkSession, t: String, fromV: Long,
      toV: Long, keys: Seq[String], store: CommitStore,
      preImages: Boolean, restrict: Option[Set[String]]): DataFrame = {
    // manifest-FILE existence is the retention test; an empty manifest
    // (keyed table primed with an empty batch, or restored to empty) is
    // a real version whose changes against a data-bearing one are all
    // inserts/deletes — the manifest-diff below handles it naturally
    if (!hasManifest(t, fromV, store)) throw new IllegalStateException(
      s"$t has no snapshot v$fromV (vacuumed or never committed)")
    if (!hasManifest(t, toV, store)) throw new IllegalStateException(
      s"$t has no snapshot v$toV (vacuumed or never committed)")
    val mFrom = manifest(t, fromV, store)
    val mTo = manifest(t, toV, store)
    val changedAll = (mFrom.keySet ++ mTo.keySet)
      .filter(p => mFrom.get(p) != mTo.get(p))
    // a slice restriction keeps the diff exact per partition (keys
    // never migrate partitions — the format's layout contract)
    val changed = restrict.fold(changedAll)(changedAll.intersect)
    if (changed.isEmpty) {
      // identical manifests → definitionally zero changes; return the
      // empty change set in the proper shape without reading data
      val empty = readVersion(spark, t, toV, store).limit(0)
      return Snapshots.diff(empty, empty, keys, preImages)
    }
    def side(m: Map[String, Long]): DataFrame = {
      val dirs = changed.toSeq.sorted.flatMap(p =>
        m.get(p).map(owner => s"${dataDir(t, owner)}/$p"))
      if (dirs.isEmpty) spark.emptyDataFrame
      else spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }
    val before = side(mFrom)
    val after = side(mTo)
    // a side with NO changed partitions contributes an empty relation
    // with the other side's schema (emptyDataFrame has none)
    val (b, a) =
      if (before.columns.isEmpty) (after.limit(0), after)
      else if (after.columns.isEmpty) (before, before.limit(0))
      else (before, after)
    Snapshots.diff(b, a, keys, preImages)
  }

  /** Streaming micro-batch commits: every batch upserts as a NEW
    * version, so the fact table gains MVCC readers and a replayable
    * manifest history on top of the checkpoint's exactly-once source
    * tracking — [[Snapshots.streamCommit]]'s shape with O(touched
    * partitions) data cost per batch. Crash-replayed batches re-commit
    * idempotently in content (keyed delete+insert), burning one version
    * number that vacuum reclaims.
    *
    * `zoneMapCols` keeps the file-stats index FRESH under streaming
    * ingestion: after each batch's commit, [[buildZoneMap]] extends the
    * previous index incrementally (carried partitions reuse their stat
    * rows), so pruned reads never consult stale stats and the per-batch
    * stat cost matches the batch's own O(touched partitions). It is
    * also declared as the TABLE-LEVEL stats-at-write default
    * ([[setStatsColumns]]): every writer's commit then records
    * per-file stats in its filemeta, so SQL-door skipping stays fresh
    * regardless of who writes. */
  def streamCommit(spark: SparkSession, stream: DataFrame, t: String,
      keys: Seq[String], partCol: String, checkpoint: String,
      zoneMapCols: Seq[String] = Nil,
      store: CommitStore = CommitStore.local)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch((batch: DataFrame, _: Long) => {
        if (zoneMapCols.nonEmpty &&
            statsColumns(t, store) != zoneMapCols)
          setStatsColumns(t, zoneMapCols, store)
        upsert(spark, t, batch, keys, partCol, store = store)
        if (zoneMapCols.nonEmpty)
          buildZoneMap(spark, t, zoneMapCols, store = store)
        ()
      })
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Register a version (current, or pinned for time travel) as a named
    * catalog view — [[Snapshots.registerView]]'s shape for the
    * partitioned format: SQL consumers address `db.name` while the
    * manifest mechanics stay invisible; a PINNED registration keeps
    * serving its version as new commits land (until vacuumed). */
  def registerView(spark: SparkSession, viewName: String, t: String,
      version: Option[Long] = None,
      store: CommitStore = CommitStore.local): Long = {
    val v = version.getOrElse(currentVersion(t, store).getOrElse(
      throw new IllegalStateException(s"$t has no committed snapshot")))
    readVersion(spark, t, v, store).createOrReplaceTempView(viewName)
    v
  }

  private def zoneMapDir(t: String, v: Long) =
    s"${versionDir(t, v)}/zonemap"
  private def bloomIdxDir(t: String, v: Long) =
    s"${versionDir(t, v)}/bloomidx"

  /** Shared incremental per-file sidecar builder (zone map and bloom
    * index): a partition whose owner is unchanged since the newest
    * already-indexed version keeps its immutable files' index rows
    * without a byte read; only newly-owned partitions are scanned, so
    * index maintenance costs O(touched partitions) per version — the
    * same bound as the upsert that created it. The sidecar lives inside
    * the version dir, so vacuum reclaims it with its version and a
    * pinned reader's index is as immutable as its data. */
  private def buildFileIndex(spark: SparkSession, t: String,
      version: Option[Long], store: CommitStore,
      dirFor: (String, Long) => String, expectedCols: Set[String],
      collectStats: Seq[String] => DataFrame): Long = {
    val v = version.getOrElse(currentVersion(t, store).getOrElse(
      throw new IllegalStateException(s"$t has no committed snapshot")))
    if (!hasManifest(t, v, store)) throw new IllegalStateException(
      s"$t has no snapshot v$v (vacuumed or never committed)")
    val m = manifest(t, v, store)
    // a committed EMPTY version has zero data files: nothing to index,
    // and an absent index correctly means "no pruning"
    if (m.isEmpty) return v
    def dirOf(p: String, o: Long) = s"${dataDir(t, o)}/$p"
    val prevIndexed = versions(t, store).filter(x => x < v &&
      store.exists(s"${dirFor(t, x)}/_SUCCESS")).lastOption
    val idx = prevIndexed match {
      case Some(pv) =>
        val old = spark.read.parquet(dirFor(t, pv))
        if (old.columns.toSet != expectedCols)
          // indexed columns changed → full rebuild
          collectStats(m.toSeq.sorted.map { case (p, o) => dirOf(p, o) })
        else {
          val pm = manifest(t, pv, store)
          val (carried, fresh) = m.toSeq.sorted.partition {
            case (p, o) => pm.get(p).contains(o)
          }
          // index rows re-keyed by (owner version, partition dir) parsed
          // from the file path — a join against the carried set, never a
          // wide literal disjunction
          import spark.implicits._
          val carriedDf = carried.map { case (p, o) => (o, p) }
            .toDF("__o", "__part")
          val keptRows = old
            .withColumn("__o",
              regexp_extract(col("file"), "/v(\\d+)/data/", 1)
                .cast("long"))
            .withColumn("__part",
              regexp_extract(col("file"), "/data/(__p=[^/]+)/", 1))
            .join(broadcast(carriedDf), Seq("__o", "__part"), "left_semi")
            .drop("__o", "__part")
          val freshRows =
            if (fresh.isEmpty) None
            else Some(collectStats(
              fresh.map { case (p, o) => dirOf(p, o) }))
          freshRows.fold(keptRows)(keptRows.unionByName(_))
        }
      case None =>
        collectStats(m.toSeq.sorted.map { case (p, o) => dirOf(p, o) })
    }
    // checked tmp+swap: a reader mid-rebuild sees the OLD index or the
    // NEW one, never a half-written dir (the same primitive every
    // materializer swaps through)
    Incremental.atomicOverwrite(store, dirFor(t, v))(tmp =>
      idx.write.mode(SaveMode.Overwrite).parquet(tmp))
    v
  }

  /** Build the FILE-STATS zone map for version `v` (default current) —
    * [[ZoneMap]] stats as a per-version sidecar, built incrementally
    * (see [[buildFileIndex]]). */
  def buildZoneMap(spark: SparkSession, t: String, cols: Seq[String],
      version: Option[Long] = None,
      store: CommitStore = CommitStore.local): Long = {
    val v = buildFileIndex(spark, t, version, store, zoneMapDir,
      ("file" +: cols.flatMap(c =>
        Seq(s"min__$c", s"max__$c", s"nulls__$c")) :+ "rows").toSet,
      dirs => ZoneMap.collect(spark, dirs, cols))
    // record that this table maintains a zone map — the SQL scan's
    // pruneSpecFor then searches older versions for the newest built
    // sidecar instead of probing only the planned version (see its
    // staleness note); locked (props are a read-modify-write file) and
    // spin-wrapped so a concurrent writer's transient hold never fails
    // a finished index build
    Incremental.withCommitLock(t, store) {
      updateProps(t, Map("zonemap" -> cols.mkString(",")), store = store)
    }
    v
  }

  /** Build the per-file BLOOM index for version `v` (default current) —
    * [[BloomIndex]] blooms as a per-version sidecar, built incrementally
    * (see [[buildFileIndex]]): the equality-probe complement to the zone
    * map for high-cardinality columns whose values are spread across
    * every partition's [min,max]. */
  def buildBloomIndex(spark: SparkSession, t: String, cols: Seq[String],
      expectedItemsPerFile: Long = 1000000L, fpp: Double = 0.01,
      version: Option[Long] = None,
      store: CommitStore = CommitStore.local): Long = {
    val v = buildFileIndex(spark, t, version, store, bloomIdxDir,
      ("file" +: cols.map(c => s"bloom__$c") :+ "rows").toSet,
      dirs => BloomIndex.collect(spark, dirs, cols,
        expectedItemsPerFile, fpp))
    // see buildZoneMap's note on the prop
    Incremental.withCommitLock(t, store) {
      updateProps(t, Map("bloomidx" -> cols.mkString(",")), store = store)
    }
    v
  }

  /** Bloom-pruned point lookup on a version (default current): the file
    * list shrinks to bloom survivors BEFORE the scan plans; without an
    * index the read degrades to the full manifest scan with the same
    * predicate (pruning is an optimization, never a semantic). */
  def readEquals(spark: SparkSession, t: String, c: String,
      values: Seq[Any], version: Option[Long] = None,
      store: CommitStore = CommitStore.local): DataFrame = {
    val v = version.getOrElse(currentVersion(t, store).getOrElse(
      throw new IllegalStateException(s"$t has no committed snapshot")))
    if (store.exists(s"${bloomIdxDir(t, v)}/_SUCCESS"))
      BloomIndex.readEquals(spark,
        spark.read.parquet(bloomIdxDir(t, v)), c, values)
    else
      readVersion(spark, t, v, store).filter(col(c).isin(values: _*))
  }

  /** COMBINED sidecar pruning: range predicates prune through the zone
    * map, equality probes through the bloom index, and the scan reads
    * only files surviving EVERY available index (set intersection —
    * the two sidecars answer different predicate shapes, so their
    * pruning powers compound). Any index that is absent simply does not
    * prune; with neither present this degrades to the filtered manifest
    * scan. All predicates are re-applied exactly on the survivors. */
  def readWhere(spark: SparkSession, t: String,
      ranges: Seq[(String, Any, Any)] = Nil,
      equalities: Seq[(String, Seq[Any])] = Nil,
      version: Option[Long] = None,
      store: CommitStore = CommitStore.local): DataFrame = {
    require(ranges.nonEmpty || equalities.nonEmpty,
      "give at least one predicate")
    val v = version.getOrElse(currentVersion(t, store).getOrElse(
      throw new IllegalStateException(s"$t has no committed snapshot")))
    val zm = Option(zoneMapDir(t, v))
      .filter(d => ranges.nonEmpty && store.exists(s"$d/_SUCCESS"))
      .map(d => ZoneMap.pruneBetweenAll(
        spark.read.parquet(d), ranges).toSet)
    val bi = Option(bloomIdxDir(t, v))
      .filter(d => equalities.nonEmpty && store.exists(s"$d/_SUCCESS"))
      .map { d =>
        val idx = spark.read.parquet(d)
        equalities.map { case (c, vs) =>
          BloomIndex.pruneEquals(idx, c, vs).toSet
        }.reduce(_ intersect _)
      }
    val exact = (ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    } ++ equalities.map { case (c, vs) => col(c).isin(vs: _*) })
      .reduce(_ && _)
    (zm, bi) match {
      case (None, None) => readVersion(spark, t, v, store).filter(exact)
      case _ =>
        val files = (zm.toSeq ++ bi.toSeq).reduce(_ intersect _).toSeq
        if (files.isEmpty) readVersion(spark, t, v, store)
          .filter(exact).limit(0)
        else spark.read.option("mergeSchema", "true")
          .parquet(files.sorted: _*).filter(exact)
    }
  }

  /** Zone-map-pruned range read of a version (default current): the
    * file list shrinks to stats survivors BEFORE the scan plans; without
    * an index the read degrades to the full manifest scan with the same
    * predicate (pruning is an optimization, never a semantic). */
  def readBetween(spark: SparkSession, t: String, c: String, lo: Any,
      hi: Any, version: Option[Long] = None,
      store: CommitStore = CommitStore.local): DataFrame = {
    val v = version.getOrElse(currentVersion(t, store).getOrElse(
      throw new IllegalStateException(s"$t has no committed snapshot")))
    if (store.exists(s"${zoneMapDir(t, v)}/_SUCCESS"))
      ZoneMap.readBetween(spark,
        spark.read.parquet(zoneMapDir(t, v)), c, lo, hi)
    else
      readVersion(spark, t, v, store)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  private def metaPath(t: String, v: Long) =
    s"${versionDir(t, v)}/commit_meta"

  /** Wall-clock publish time of version `v`, if recorded (versions
    * written before this field existed have none and are simply not
    * addressable by timestamp). */
  def commitTimeMs(t: String, v: Long,
      store: CommitStore = CommitStore.local): Option[Long] =
    metaField(t, v, "ts", store).map(_.toLong)

  /** The streaming transaction marker (`appId/epochId`) recorded with
    * version `v`'s commit, if it was a streaming-epoch commit. */
  def commitTxn(t: String, v: Long,
      store: CommitStore = CommitStore.local): Option[String] =
    metaField(t, v, "txn", store)

  private def metaField(t: String, v: Long, key: String,
      store: CommitStore): Option[String] =
    store.read(metaPath(t, v)).flatMap(b =>
      new String(b, "UTF-8").split("\n").toSeq
        .find(_.startsWith(key + "="))
        .map(_.substring(key.length + 1).trim))

  /** Highest epoch a streaming query (`appId`) has COMMITTED into this
    * table — Delta's txn-version idempotence pattern: the marker rides
    * in the committed version's meta (written before the pointer flip,
    * so an orphan's marker is never visible), and a restarted query
    * skips any epoch at or below it. Metadata-sized: one small read
    * per retained version. */
  def lastCommittedEpoch(t: String, appId: String,
      store: CommitStore = CommitStore.local): Option[Long] = {
    // retained version metas ∪ the vacuum-preserved Txns sidecar: the
    // marker stays visible across its version's reclamation. One parse
    // rule (Txns.parseMarker — last '/', exact appId), but only THIS
    // appId's sidecar is read — this runs once per streaming epoch, so
    // it must not scale with the number of writers (Txns.all is for
    // the CALL txns inspection view). Txns.lastEpoch adds the
    // incremental-scan cache: exact max semantics at amortized O(new
    // versions) per call — the metadata-path curve SCALE.md measures
    // flat across a decade of version depth.
    Txns.lastEpoch(t, appId, currentVersion(t, store),
      versions(t, store), v => commitTxn(t, v, store),
      v => commitTimeMs(t, v, store), store)
  }

  /** TIMESTAMP AS OF: the newest version PUBLISHED at or before
    * `tsMs` — publish order is linear (restore re-commits forward), so
    * this is exactly Delta's timestamp time travel. None when the
    * table's history starts after `tsMs`. */
  def versionAt(t: String, tsMs: Long,
      store: CommitStore = CommitStore.local): Option[Long] = {
    val cur = currentVersion(t, store).getOrElse(return None)
    versions(t, store).filter(_ <= cur)
      .filter(v => commitTimeMs(t, v, store).exists(_ <= tsMs))
      .sorted.lastOption
  }

  /** Read the table as of a wall-clock instant (see [[versionAt]]). */
  def readAsOf(spark: SparkSession, t: String, tsMs: Long,
      store: CommitStore = CommitStore.local): DataFrame =
    versionAt(t, tsMs, store) match {
      case Some(v) => readVersion(spark, t, v, store)
      case None => throw new IllegalStateException(
        s"$t has no version published at or before $tsMs")
    }

  private def commitPointer(t: String, v: Long,
      store: CommitStore, txn: Option[String] = None): Unit = {
    // publish time (and the streaming txn marker, when this commit is
    // an epoch's) rides in the version dir (vacuumed with it): the
    // anchor for TIMESTAMP AS OF addressing. Written before the flip —
    // an orphan with a meta but no pointer is still invisible, which
    // is exactly what makes the txn marker exactly-once: a crash
    // before the flip leaves no marker a restarted query could
    // wrongly skip on.
    store.write(metaPath(t, v),
      (s"ts=${System.currentTimeMillis}" +
        txn.map(x => s"\ntxn=$x").getOrElse("")).getBytes("UTF-8"))
    val tmp = pointer(t) + ".__tmp"
    store.write(tmp, v.toString.getBytes("UTF-8"))
    if (!store.rename(tmp, pointer(t), replaceExisting = true))
      throw new java.io.IOException(
        s"commit failed: could not flip $t/_current to v$v — readers " +
          "still see the previous version; the new version dir is an " +
          "orphan (vacuum reclaims it)")
  }
}

/** Shared MERGE clause resolution for both snapshot formats: align the
  * matched / matched-delete / not-matched-insert semantics once so
  * [[PartitionedSnapshots.merge]] (touched partitions only) and
  * [[Snapshots.merge]] (full copy) cannot drift. Keys are assumed
  * non-null (the upsert-key contract of both formats). */
private[operators] object MergeClauses {
  import org.apache.spark.sql.functions.{lit, when}

  def resolve(tgt: DataFrame, src: DataFrame, keys: Seq[String],
      targetCols: Seq[String],
      whenMatchedUpdate: Map[String, org.apache.spark.sql.Column],
      whenMatchedDelete: Option[org.apache.spark.sql.Column],
      insertNotMatched: Boolean,
      insertCond: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import PartitionedSnapshots.{source, target}
    val tAliased = targetCols.foldLeft(tgt)((d, c) =>
      d.withColumnRenamed(c, s"__t_$c"))
    // alias EVERY source column (clause expressions may reference
    // source-only columns like a delete flag)
    val sAliased = src.columns.foldLeft(src)((d, c) =>
      d.withColumnRenamed(c, s"__s_$c"))
    val joined = tAliased.join(sAliased,
      keys.map(k => target(k) <=> source(k)).reduce(_ && _),
      "full_outer")
    val isMatched = target(keys.head).isNotNull &&
      source(keys.head).isNotNull
    val isSourceOnly = target(keys.head).isNull
    // NULL delete-condition means NOT deleted (SQL/Delta MERGE
    // semantics) — without the coalesce, three-valued logic would make
    // the whole filter predicate NULL and silently DROP the row
    val afterDelete = whenMatchedDelete match {
      case Some(cond) =>
        joined.filter(!(isMatched &&
          org.apache.spark.sql.functions.coalesce(cond, lit(false))))
      case None => joined
    }
    // NULL insert-condition means NOT inserted (same three-valued rule
    // as the delete clause)
    val insertOk = insertCond
      .map(c => org.apache.spark.sql.functions.coalesce(c, lit(false)))
      .getOrElse(lit(true))
    afterDelete
      .filter(!isSourceOnly || (lit(insertNotMatched) && insertOk))
      .select(targetCols.map { c =>
        when(isSourceOnly, source(c))
          .when(isMatched, whenMatchedUpdate.getOrElse(c, target(c)))
          .otherwise(target(c)).as(c)
      }: _*)
  }
}

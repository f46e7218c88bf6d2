package graft.plans

import graft.operators.{CommitStore, PartitionedSnapshots, Snapshots}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, DataTypes, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL MAINTENANCE PROCEDURES for the snapshot catalog — the lakehouse
  * operations console (`OPTIMIZE`/`VACUUM`-class commands), wired
  * through Spark 4's DSv2 [[ProcedureCatalog]] seam (SPARK-44167), so
  * they parse natively:
  *
  * {{{
  * CALL snap.system.history(table => 'sales')
  * CALL snap.system.vacuum(table => 'sales', keep => 3)
  * CALL snap.system.compact(table => 'sales', min_files => 2)
  * CALL snap.system.compact(table => 'sales', zorder_by => 'k,u')
  * CALL snap.system.restore(table => 'sales', version => 2)
  * CALL snap.system.publish(table => 'sales', version => 5)
  * CALL snap.system.build_zone_map(table => 'sales', cols => 'k')
  * CALL snap.system.build_bloom_index(table => 'sales', cols => 'u')
  * CALL snap.system.feed_cursor(table => 'sales', consumer => 'idx')
  * CALL snap.system.feed_commit(table => 'sales', consumer => 'idx',
  *                              version => 3)
  * CALL snap.system.feed_consumers(table => 'sales')
  * }}}
  *
  * The `feed_*` procedures + the `table_changes` TVF make the change
  * feed drivable from PURE SQL: read the cursor, `SELECT * FROM
  * table_changes('snap.sales', cursor, current)`, apply, commit.
  *
  * Every procedure routes to the corresponding operator (same
  * single-writer lock + commit protocol as every other writer) and
  * returns its outcome as a result set (a driver-local scan —
  * maintenance outputs are metadata-sized by construction). `vacuum`
  * routes by format; the physical-layout procedures (compact, zone
  * map, bloom, restore, publish) are partitioned-format operations. */
private[plans] object SnapshotProcedures {

  val names: Seq[String] = Seq("history", "vacuum", "compact", "restore",
    "publish", "build_zone_map", "build_bloom_index",
    "feed_cursor", "feed_commit", "feed_consumers",
    "add_constraint", "drop_constraint", "show_constraints", "mirror",
    "add_generated_column", "drop_generated_column",
    "show_generated_columns", "detail", "tag", "drop_tag", "tags",
    "txns", "drop_txn", "schema_history", "file_stats",
    "set_stats_cols", "backfill_stats")

  def load(procName: String, pathOf: String => String,
      store: CommitStore): Option[UnboundProcedure] =
    if (!names.contains(procName)) None
    else Some(new UnboundProcedure {
      override def name(): String = procName
      override def description(): String =
        s"graft snapshot maintenance: $procName"
      override def bind(inputType: StructType): BoundProcedure =
        bound(procName, pathOf, store)
    })

  private def p(n: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(n, t).build()
  private def pd(n: String, t: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(n, t).defaultValue(default).build()

  private def result(outSchema: StructType,
      outRows: Seq[InternalRow]): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = outSchema
      override def rows(): Array[InternalRow] = outRows.toArray
      override def description(): String = "procedure result"
    }).iterator()

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.toArray)

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def bound(procName: String, pathOf: String => String,
      store: CommitStore): BoundProcedure = new BoundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"graft snapshot maintenance: $procName"
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = procName match {
      case "history" => Array(p("table", DataTypes.StringType))
      case "vacuum" => Array(p("table", DataTypes.StringType),
        pd("keep", DataTypes.IntegerType, "1"),
        pd("respect_consumers", DataTypes.BooleanType, "false"),
        // opt-in `_txns/` lifecycle: sweep streaming-txn sidecar marks
        // last preserved more than this many ms ago (-1 = never sweep)
        pd("txn_retain_ms", DataTypes.LongType, "-1"))
      case "compact" => Array(p("table", DataTypes.StringType),
        pd("min_files", DataTypes.IntegerType, "2"),
        pd("max_records_per_file", DataTypes.LongType, "0"),
        pd("cluster_by", DataTypes.StringType, "''"),
        pd("zorder_by", DataTypes.StringType, "''"))
      case "restore" | "publish" => Array(
        p("table", DataTypes.StringType),
        p("version", DataTypes.LongType))
      case "build_zone_map" => Array(p("table", DataTypes.StringType),
        p("cols", DataTypes.StringType))
      // stats-at-write: every subsequent commit records per-file
      // min/max/null-count for these columns in its filemeta — no
      // sidecar build, never stale ('' clears the declaration)
      case "set_stats_cols" => Array(p("table", DataTypes.StringType),
        p("cols", DataTypes.StringType))
      // pay-once migration: enrich the CURRENT version's filemeta
      // with row counts + declared-column stats for files that
      // predate the declaration (one footer read per stale file)
      case "backfill_stats" => Array(p("table", DataTypes.StringType))
      case "build_bloom_index" => Array(p("table", DataTypes.StringType),
        p("cols", DataTypes.StringType),
        pd("expected_items_per_file", DataTypes.LongType, "1000000"))
      case "feed_cursor" => Array(p("table", DataTypes.StringType),
        p("consumer", DataTypes.StringType))
      case "feed_consumers" => Array(p("table", DataTypes.StringType))
      case "feed_commit" => Array(p("table", DataTypes.StringType),
        p("consumer", DataTypes.StringType),
        p("version", DataTypes.LongType))
      case "add_constraint" => Array(p("table", DataTypes.StringType),
        p("name", DataTypes.StringType),
        p("expr", DataTypes.StringType))
      case "drop_constraint" => Array(p("table", DataTypes.StringType),
        p("name", DataTypes.StringType))
      case "show_constraints" => Array(p("table", DataTypes.StringType))
      case "add_generated_column" => Array(
        p("table", DataTypes.StringType),
        p("col", DataTypes.StringType),
        p("expr", DataTypes.StringType))
      case "drop_generated_column" => Array(
        p("table", DataTypes.StringType),
        p("col", DataTypes.StringType))
      case "show_generated_columns" => Array(
        p("table", DataTypes.StringType))
      case "detail" => Array(p("table", DataTypes.StringType))
      case "tag" => Array(p("table", DataTypes.StringType),
        p("name", DataTypes.StringType),
        pd("version", DataTypes.LongType, "-1"),
        pd("replace", DataTypes.BooleanType, "false"))
      case "drop_tag" => Array(p("table", DataTypes.StringType),
        p("name", DataTypes.StringType))
      case "tags" | "txns" | "schema_history" =>
        Array(p("table", DataTypes.StringType))
      case "file_stats" => Array(p("table", DataTypes.StringType),
        pd("version", DataTypes.LongType, "-1"))
      case "drop_txn" => Array(p("table", DataTypes.StringType),
        p("app_id", DataTypes.StringType))
      case "mirror" => Array(p("table", DataTypes.StringType),
        p("consumer", DataTypes.StringType),
        p("target", DataTypes.StringType),
        pd("part_col", DataTypes.StringType, "''"),
        pd("keys", DataTypes.StringType, "''"))
    }

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val t = pathOf(input.getUTF8String(0).toString)
      def csv(i: Int): Seq[String] = input.getUTF8String(i).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      def partColOf: String =
        PartitionedSnapshots.tableProps(t, store).getOrElse("partCol",
          throw new UnsupportedOperationException(
            s"$t has no recorded partition column — a " +
              "partitioned-format table is required"))
      // txn markers still visible from RETAINED committed versions'
      // metas (either format) — one half of Txns.all's metas ∪ sidecar
      def retainedTxnMarkers(t: String): Seq[String] =
        PartitionedSnapshots.currentVersion(t, store).toSeq.flatMap { c =>
          PartitionedSnapshots.versions(t, store).filter(_ <= c)
            .flatMap(v =>
              PartitionedSnapshots.commitTxn(t, v, store).orElse(
                graft.operators.Snapshots.commitTxn(t, v, store)))
        }
      procName match {
        case "history" =>
          val commits = PartitionedSnapshots.history(t, store)
          result(StructType.fromDDL("version BIGINT, partitions INT, " +
            "owned_partitions INT, committed BOOLEAN, " +
            "commit_time_ms BIGINT"),
            commits.map(c => row(c.version, c.partitions, c.owned,
              c.committed, c.publishedMs.map(Long.box).orNull)))
        case "vacuum" =>
          val keep = input.getInt(1)
          // an explicit NULL slot reads back as 0 through getLong —
          // treat NULL exactly like the omit/-1 never-sweep default,
          // never as "retention 0 ms"
          val txnRetain =
            if (input.isNullAt(3)) None
            else Some(input.getLong(3)).filter(_ >= 0)
          // respect_consumers widens retention to the slowest
          // registered change-feed cursor (ChangeFeed.safeVacuum)
          val deleted =
            if (input.getBoolean(2))
              graft.operators.ChangeFeed.safeVacuum(t, keep, store,
                txnRetain)
            else {
              val isPartitioned =
                PartitionedSnapshots.currentVersion(t, store).exists(v =>
                  PartitionedSnapshots.hasManifest(t, v, store))
              if (isPartitioned)
                PartitionedSnapshots.vacuum(t, keep, store, txnRetain)
              else Snapshots.vacuum(t, keep, store, txnRetain)
            }
          result(StructType.fromDDL("deleted_version BIGINT"),
            deleted.map(v => row(v)))
        case "compact" =>
          val (v, parts) = PartitionedSnapshots.compact(spark, t,
            partColOf, minFiles = input.getInt(1),
            maxRecordsPerFile = input.getLong(2),
            clusterBy = csv(3), zOrderBy = csv(4), store = store)
          result(StructType.fromDDL(
            "version BIGINT, partitions_compacted INT"),
            Seq(row(v, parts.size)))
        case "restore" =>
          val target = input.getLong(1)
          val v =
            if (PartitionedSnapshots.hasManifest(t, target, store))
              PartitionedSnapshots.restore(spark, t, target, store)
            else Snapshots.restore(spark, t, target, store)
          result(StructType.fromDDL("new_version BIGINT"), Seq(row(v)))
        case "publish" =>
          PartitionedSnapshots.publish(t, input.getLong(1), store)
          result(StructType.fromDDL("published_version BIGINT"),
            Seq(row(input.getLong(1))))
        case "build_zone_map" =>
          PartitionedSnapshots.buildZoneMap(spark, t, csv(1),
            store = store)
          result(StructType.fromDDL("cols STRING"),
            Seq(row(utf8(csv(1).mkString(",")))))
        case "set_stats_cols" =>
          PartitionedSnapshots.setStatsColumns(t, csv(1), store)
          result(StructType.fromDDL("cols STRING"),
            Seq(row(utf8(csv(1).mkString(",")))))
        case "backfill_stats" =>
          val n = PartitionedSnapshots.backfillStats(spark, t, store)
          result(StructType.fromDDL("files_enriched INT"),
            Seq(row(n)))
        case "build_bloom_index" =>
          PartitionedSnapshots.buildBloomIndex(spark, t, csv(1),
            expectedItemsPerFile = input.getLong(2), store = store)
          result(StructType.fromDDL("cols STRING"),
            Seq(row(utf8(csv(1).mkString(",")))))
        case "feed_cursor" =>
          // the SQL consumer loop: read the cursor here, drain with
          // SELECT * FROM table_changes(t, cursor, current), then
          // feed_commit(current)
          val consumer = input.getUTF8String(1).toString
          val cur = graft.operators.ChangeFeed.cursor(t, consumer, store)
          val ptr = PartitionedSnapshots.currentVersion(t, store)
          result(StructType.fromDDL(
            "consumer STRING, cursor_version BIGINT, current_version BIGINT"),
            Seq(row(utf8(consumer), cur.map(Long.box).orNull,
              ptr.map(Long.box).orNull)))
        case "feed_commit" =>
          val consumer = input.getUTF8String(1).toString
          graft.operators.ChangeFeed.commit(t, consumer,
            input.getLong(2), store)
          result(StructType.fromDDL(
            "consumer STRING, committed_version BIGINT"),
            Seq(row(utf8(consumer), input.getLong(2))))
        case "add_constraint" =>
          val (n, ex) = (input.getUTF8String(1).toString,
            input.getUTF8String(2).toString)
          graft.operators.Constraints.add(spark, t, n, ex, store)
          result(StructType.fromDDL("name STRING, expr STRING"),
            Seq(row(utf8(n), utf8(ex))))
        case "drop_constraint" =>
          val n = input.getUTF8String(1).toString
          graft.operators.Constraints.drop(t, n, store)
          result(StructType.fromDDL("dropped STRING"), Seq(row(utf8(n))))
        case "tag" =>
          val name = input.getUTF8String(1).toString
          val ver = input.getLong(2)
          val v = graft.operators.Tags.set(t, name,
            if (ver < 0) None else Some(ver),
            replace = input.getBoolean(3), store = store)
          result(StructType.fromDDL("name STRING, version BIGINT"),
            Seq(row(utf8(name), v)))
        case "drop_tag" =>
          val name = input.getUTF8String(1).toString
          val existed = graft.operators.Tags.drop(t, name, store)
          result(StructType.fromDDL("name STRING, existed BOOLEAN"),
            Seq(row(utf8(name), existed)))
        case "tags" =>
          val ts = graft.operators.Tags.list(t, store).toSeq.sortBy(_._1)
          result(StructType.fromDDL("name STRING, version BIGINT"),
            ts.map { case (n, v) => row(utf8(n), v) })
        case "txns" =>
          // streaming exactly-once high-water marks: retained version
          // metas ∪ the vacuum-preserved _txns sidecar — what
          // lastCommittedEpoch resolves per query id, surfaced for ops
          // (which streams have written here, through what epoch, and
          // — via the sidecar's preservation time, the age the
          // txn_retain_ms sweep measures — which marks a given
          // retention would reclaim; null = meta-borne, not sweepable)
          val all = graft.operators.Txns.allDetailed(t,
            retainedTxnMarkers(t), store).toSeq.sortBy(_._1)
          result(StructType.fromDDL(
            "query_id STRING, epoch BIGINT, preserved_at_ms BIGINT"),
            all.map { case (q, (e, at)) => row(utf8(q), e,
              at.map(Long.box).orNull) })
        case "file_stats" =>
          // per-partition files / exact bytes / exact rows FROM THE
          // COMMIT RECORD (zero listings, zero data reads) — the
          // "how big is this table, where is it heavy" answer a
          // fleet operator needs without scanning; rows is NULL for
          // partitions whose record predates row counting. version
          // -1 = current.
          val vq = input.getLong(1) match {
            case -1L => PartitionedSnapshots.currentVersion(t, store)
              .getOrElse(throw new IllegalStateException(
                s"$t has no committed snapshot"))
            case x => x
          }
          result(StructType.fromDDL("partition STRING, owner BIGINT, " +
            "files INT, bytes BIGINT, rows BIGINT, " +
            "files_with_stats INT"),
            PartitionedSnapshots.fileStats(t, vq, store).map {
              case (part, owner, files, bytes, rows, withStats) =>
                row(utf8(part.stripPrefix("__p=")), owner, files,
                  bytes, rows.map(Long.box).orNull, withStats)
            })
        case "schema_history" =>
          // the widening audit log (SchemaEvents): who added which
          // columns, when, and — for streaming evolutions — with which
          // committed version. Sink-side symmetry to the CDC source's
          // schemaTrackingLocation.
          val evts = graft.operators.SchemaEvents.all(t, store)
          result(StructType.fromDDL("ts_ms BIGINT, actor STRING, " +
            "source STRING, version BIGINT, added STRING"),
            evts.map(e => row(e.tsMs, utf8(e.actor), utf8(e.source),
              e.version.map(Long.box).orNull,
              utf8(e.added.map(f =>
                s"${f.name} ${f.dataType.simpleString}")
                .mkString(", ")))))
        case "drop_txn" =>
          // retire a streaming query id's exactly-once mark (the Delta
          // txn-retention contract, invoked explicitly): after the drop
          // a restarted stream with this appId REPLAYS its last epoch —
          // for appIds that will never write again. `remaining_epoch`
          // is what lastCommittedEpoch still resolves AFTER the drop
          // (non-null while retained version metas carry the marker;
          // those age out with vacuum, the sidecar was the durable
          // copy), so the caller sees whether replay protection
          // actually ended.
          val appId = input.getUTF8String(1).toString
          val existed = graft.operators.Txns.drop(t, appId, store)
          val remaining = graft.operators.Txns
            .all(t, retainedTxnMarkers(t), store).get(appId)
          result(StructType.fromDDL(
            "query_id STRING, sidecar_existed BOOLEAN, " +
              "remaining_epoch BIGINT"),
            Seq(row(utf8(appId), existed,
              remaining.map(Long.box).orNull)))
        case "show_constraints" =>
          val cs = graft.operators.Constraints.list(t, store)
            .toSeq.sortBy(_._1)
          result(StructType.fromDDL("name STRING, expr STRING"),
            cs.map { case (n, ex) => row(utf8(n), utf8(ex)) })
        case "mirror" =>
          // drain one change batch from `table` into `target` (same
          // catalog root) as a single merge — ChangeFeed.mirror
          val consumer = input.getUTF8String(1).toString
          val target = pathOf(input.getUTF8String(2).toString)
          val pc = csv(3).headOption
          val res = graft.operators.ChangeFeed.mirror(spark, t,
            consumer, target, partCol = pc, keys = csv(4), store = store)
          result(StructType.fromDDL(
            "applied BOOLEAN, from_version BIGINT, to_version BIGINT"),
            res.toSeq.map(b => row(true, b.fromVersion, b.toVersion)))
        case "add_generated_column" =>
          val (n, ex) = (input.getUTF8String(1).toString,
            input.getUTF8String(2).toString)
          graft.operators.GeneratedColumns.add(spark, t, n, ex, store)
          result(StructType.fromDDL("col STRING, expr STRING"),
            Seq(row(utf8(n), utf8(ex))))
        case "drop_generated_column" =>
          val n = input.getUTF8String(1).toString
          graft.operators.GeneratedColumns.drop(t, n, store)
          result(StructType.fromDDL("dropped STRING"), Seq(row(utf8(n))))
        case "show_generated_columns" =>
          val gs = graft.operators.GeneratedColumns.list(t, store)
            .toSeq.sortBy(_._1)
          result(StructType.fromDDL("col STRING, expr STRING"),
            gs.map { case (n, ex) => row(utf8(n), utf8(ex)) })
        case "detail" =>
          // DESCRIBE DETAIL: one metadata-sized row — file counts and
          // bytes come from the cross-checked commit record where it
          // exists (fileStats: zero listings), else from listings of
          // the LIVE dirs only
          val schemaD = StructType.fromDDL("format STRING, " +
            "current_version BIGINT, num_versions INT, " +
            "num_partitions INT, num_files INT, size_bytes BIGINT, " +
            "num_files_with_stats INT, stats_columns STRING, " +
            "num_constraints INT, num_generated_columns INT, " +
            "num_consumers INT")
          PartitionedSnapshots.currentVersion(t, store) match {
            case None => result(schemaD, Nil)
            case Some(v) =>
              // format by manifest-FILE existence (hasManifest): an
              // empty-primed partitioned version has zero data dirs —
              // never the version dir itself (its control files are
              // not table data)
              val partitioned =
                PartitionedSnapshots.hasManifest(t, v, store)
              val m = PartitionedSnapshots.manifest(t, v, store)
              val (nFiles, nBytes, nWithStats) =
                if (partitioned) {
                  val st = PartitionedSnapshots.fileStats(t, v, store)
                  (st.map(_._3.toLong).sum, st.map(_._4).sum,
                    st.map(_._6.toLong).sum)
                } else {
                  val r = graft.operators.TableStats.report(
                    f"$t/_snapshots/v$v%05d", store = store)
                  (r.totalFiles.toLong, r.totalBytes, 0L)
                }
              // the stats-at-write regime in force: the explicit
              // declaration, "none" (opt-out), or "auto(N)" — read
              // together with num_files_with_stats this answers
              // "is a backfill_stats run needed" without running one
              val statsRegime =
                PartitionedSnapshots.tableProps(t, store)
                  .get("zonemap_cols").map(_.trim) match {
                  case Some(x) if x.equalsIgnoreCase("none") => "none"
                  case Some(x) => x
                  case None =>
                    s"auto(${PartitionedSnapshots.statsAutoLimit(t, store)})"
                }
              result(schemaD, Seq(row(
                utf8(if (partitioned) "graft.partitioned-snapshots"
                  else "graft.snapshots"),
                v, PartitionedSnapshots.versions(t, store).size,
                m.size, nFiles.toInt, nBytes, nWithStats.toInt,
                utf8(statsRegime),
                graft.operators.Constraints.list(t, store).size,
                graft.operators.GeneratedColumns.list(t, store).size,
                graft.operators.ChangeFeed.consumers(t, store).size)))
          }
        case "feed_consumers" =>
          val all = graft.operators.ChangeFeed.consumers(t, store)
            .toSeq.sortBy(_._1)
          result(StructType.fromDDL(
            "consumer STRING, cursor_version BIGINT"),
            all.map { case (n, v) => row(utf8(n), v) })
      }
    }
  }
}

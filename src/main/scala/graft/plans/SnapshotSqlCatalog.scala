package graft.plans

import graft.operators.{CommitStore, PartitionedSnapshots, Snapshots}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 TABLE CATALOG over the snapshot formats — the SQL front
  * door to the MVCC tables, wired through Spark's own connector API so
  * the scans stay NATIVE parquet (pushdown, pruning, vectorized read —
  * a resolved snapshot IS a parquet dir set, and the plugin hands
  * Spark's ParquetTable exactly those dirs):
  *
  * {{{
  * spark.sql.catalog.snap      = graft.plans.SnapshotSqlCatalog
  * spark.sql.catalog.snap.root = /warehouse/snaptables
  *
  * SELECT * FROM snap.t                          -- current version
  * SELECT * FROM snap.t VERSION AS OF 3          -- version travel
  * SELECT * FROM snap.t TIMESTAMP AS OF '...'    -- publish-time
  * CREATE TABLE snap.t (…) PARTITIONED BY (d)    -- declare layout
  * CREATE TABLE snap.t2 PARTITIONED BY (d) AS …  -- CTAS
  * INSERT INTO / INSERT OVERWRITE snap.t …       -- append / rebuild
  * MERGE INTO snap.t USING s ON … WHEN …         -- conditional write
  * UPDATE snap.t SET … WHERE …                   -- partition-pruned
  * DELETE FROM snap.t WHERE …                    -- partition-pruned
  * }}}
  *
  * Reads: Spark parses VERSION AS OF / TIMESTAMP AS OF natively and
  * calls the corresponding `loadTable` overloads — the same integration
  * seam Delta/Iceberg plug. Both snapshot formats resolve: a
  * PartitionedSnapshots table (manifest per version) maps to its
  * owner-resolved partition dirs, a full-copy Snapshots table to its
  * version dir; scans stay NATIVE parquet either way.
  *
  * Writes: every SQL mutation routes through the operator commit
  * protocol. Partitioned-format tables ([[SnapshotWritableTable]])
  * take the full surface — INSERT, MERGE (incl. WITH SCHEMA
  * EVOLUTION), UPDATE, DELETE — with single-writer lock,
  * touched-partition data write, manifest, atomic pointer flip;
  * full-copy tables ([[FullCopyWritableTable]]) take INSERT and MERGE
  * as whole-version copies (the dimension-scale trade). There is NO
  * path that bypasses the protocol: time-travel loads stay read-only
  * and ALTER/DROP/RENAME are refused. */
class SnapshotSqlCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var store: CommitStore = CommitStore.local

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"set spark.sql.catalog.$name.root to the snapshot-tables dir"))
    // spark.sql.catalog.<name>.store = local | hadoop | <registered
    // name> (CommitStore.register) — the control-plane binding for the
    // ENTIRE SQL surface of this catalog (DDL/DML/time travel/
    // procedures); unknown specs refuse loudly here, at catalog init,
    // naming the valid ones. Registered names must be re-registered by
    // the driver at startup (an instance is not serializable state).
    store = Option(options.get("store")).map(CommitStore.resolve)
      .getOrElse(CommitStore.local)
  }
  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (root +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def currentOf(t: String): Option[Long] =
    PartitionedSnapshots.currentVersion(t, store)

  /** Version v's data dirs: manifest-resolved owner dirs for the
    * partitioned format (possibly NONE — a keyed table primed with an
    * empty batch has a manifest with zero partitions, and its scan is
    * legitimately empty), the version dir itself for full-copy. The
    * detector is manifest-file EXISTENCE, not non-emptiness — reading
    * an empty-manifest version dir as parquet would scan its control
    * files. */
  private def dirsOf(t: String, v: Long): Seq[String] =
    if (PartitionedSnapshots.hasManifest(t, v, store))
      PartitionedSnapshots.manifest(t, v, store).toSeq.sorted
        .map { case (p, o) => f"$t/_snapshots/v$o%05d/data/$p" }
    else f"$t/_snapshots/v$v%05d" :: Nil

  // mergeSchema: an evolved table's partitions legitimately carry
  // mixed footers (pre-/post-evolution); the union schema is the
  // table's schema — same contract as the operator read path.
  // Declared-schema OVERLAY: a column added via ALTER TABLE (or present
  // in the CREATE schema) that no committed file carries yet must still
  // be visible, as null — the file schema is widened with declared-only
  // fields. File fields always win on type (they hold the data), so a
  // stale declared schema can never mask or reinterpret evolution that
  // arrived through the data path (MERGE … WITH SCHEMA EVOLUTION).
  private def tableFor(ident: Identifier, v: Long): Table = {
    val t = pathOf(ident)
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("mergeSchema", "true"))
    val declared = PartitionedSnapshots.tableProps(t, store).get("schema")
      .map(json => org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType])
    // plan-from-metadata fast path FIRST — a partitioned-format
    // version whose commit recorded its file manifest + owner schemas
    // plans the scan from an explicit file index (no dir listings, no
    // footer schema inference) with the declared-schema overlay
    // applied to the RECORDED file schema (file fields still win on
    // type, same rule as the inference path below). Checked before
    // dirsOf so the winning path parses the partition manifest ONCE
    // (inside planMeta), not once per helper.
    val fast =
      if (PartitionedSnapshots.hasManifest(t, v, store))
        PartitionedSnapshots.planMeta(t, v, store)
      else None
    fast match {
      case Some((refs, fileSchema)) =>
        val missing = declared.toSeq.flatMap(_.fields).filterNot(f =>
          fileSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        val schema = StructType(fileSchema.fields ++ missing)
        new IndexedParquetTable(s"$catalogName.${ident.name}@v$v",
          SparkSession.active, opts, t, schema,
          PartitionedSnapshots.planStatuses(t, refs, store,
            plannedV = Some(v)),
          PartitionedSnapshots.pruneSpecFor(t, v, schema, store,
            Some(refs)),
          PartitionedSnapshots.rowCountOf(refs))
      case None =>
        val dirs = dirsOf(t, v)
        if (dirs.isEmpty)
          // an empty-manifest version (keyed table primed with an
          // empty batch) has nothing to infer from — the declared
          // schema IS the schema
          ParquetTable(s"$catalogName.${ident.name}@v$v",
            SparkSession.active, opts, dirs,
            Some(declared.getOrElse(throw new IllegalStateException(
              s"$t v$v has no data files and no declared schema — " +
                "CREATE TABLE (or write data) first"))),
            classOf[ParquetFileFormat])
        else {
          val base = ParquetTable(s"$catalogName.${ident.name}@v$v",
            SparkSession.active, opts, dirs, None,
            classOf[ParquetFileFormat])
          declared match {
            case Some(d) =>
              val fileSchema = base.schema
              val missing = d.fields.filterNot(f =>
                fileSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
              if (missing.isEmpty) base
              else ParquetTable(s"$catalogName.${ident.name}@v$v",
                SparkSession.active, opts, dirs,
                Some(StructType(fileSchema.fields ++ missing)),
                classOf[ParquetFileFormat])
            case None => base
          }
        }
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val t = pathOf(ident)
    currentOf(t) match {
      case Some(v) =>
        val inner = tableFor(ident, v)
        // the CURRENT version of either format is writable (INSERT /
        // intercepted MERGE via the operator commit protocol; the
        // partitioned format additionally takes UPDATE/DELETE);
        // time-travel loads stay read-only
        if (PartitionedSnapshots.hasManifest(t, v, store))
          new SnapshotWritableTable(
            inner.asInstanceOf[ParquetTable], t, store)
        else
          new FullCopyWritableTable(
            inner.asInstanceOf[ParquetTable], t, store)
      case None =>
        // declared-but-empty table (CREATE TABLE before any write):
        // serve the declared schema over zero files; the first INSERT
        // establishes v1 through the normal commit path
        val props = PartitionedSnapshots.tableProps(t, store)
        (props.get("schema"), props.get("partCol")) match {
          case (Some(json), Some(_)) =>
            new SnapshotWritableTable(
              ParquetTable(s"$catalogName.${ident.name}@v0",
                SparkSession.active, CaseInsensitiveStringMap.empty(),
                Nil, Some(org.apache.spark.sql.types.DataType
                  .fromJson(json).asInstanceOf[StructType]),
                classOf[ParquetFileFormat]), t, store)
          case _ => throw new NoSuchTableException(ident)
        }
    }
  }

  /** SQL `CREATE TABLE snap.t (…) PARTITIONED BY (c)` (and the create
    * half of CTAS): records the layout + declared schema; data arrives
    * through the write path. Exactly one identity partition column is
    * required — the format is partition-addressed. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    val t = pathOf(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.toString)
    val partCol = partitions.toSeq match {
      case Seq(tr) if tr.name == "identity" && tr.references.length == 1 =>
        tr.references()(0).fieldNames.mkString(".")
      case Seq() => throw new UnsupportedOperationException(
        "snapshot tables are partition-addressed: declare " +
          "PARTITIONED BY (<one column>)")
      case other => throw new UnsupportedOperationException(
        "only a single identity partition column is supported, got: " +
          other.mkString(", "))
    }
    if (!schema.fieldNames.contains(partCol))
      throw new IllegalArgumentException(
        s"partition column $partCol is not in the schema")
    PartitionedSnapshots.initTable(t, partCol, schema.json, store)
    // CREATE TABLE … TBLPROPERTIES ('zonemap_cols'='a,b') declares
    // stats-at-write columns from birth ('none' opts out); with NO
    // declaration the auto default applies — the first
    // 'stats_num_cols' (default 32) stat-typed top-level columns
    // (Delta's dataSkippingNumIndexedCols shape)
    Option(properties.get("zonemap_cols")).map(_.trim)
      .filter(_.nonEmpty).foreach { cols =>
        PartitionedSnapshots.setStatsColumns(t,
          cols.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
            .filterNot(_.equalsIgnoreCase("none")), store)
      }
    Option(properties.get("stats_num_cols")).map(_.trim)
      .flatMap(s => scala.util.Try(s.toInt).toOption).foreach { n =>
        PartitionedSnapshots.setStatsAutoLimit(t, n, store)
      }
    loadTable(ident)
  }

  /** VERSION AS OF n — only versions AT OR BELOW the commit pointer
    * resolve: version dirs above `_current` are staged-but-unpublished
    * (write-audit-publish) or abandoned writers, and SQL time travel
    * must not read data the pointer never committed (mirrors the
    * commit-pointer contract of the operator read path). */
  /** `VERSION AS OF x` — a number is a version id; anything else
    * resolves as a TAG ([[graft.operators.Tags]]; tag names are
    * validated non-numeric at creation, so the two namespaces cannot
    * collide). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = pathOf(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        graft.operators.Tags.resolve(t, version, store).getOrElse(
          throw new NoSuchTableException(ident))
    }
    val cur = currentOf(t).getOrElse(throw new NoSuchTableException(ident))
    if (v <= cur && PartitionedSnapshots.versions(t, store).contains(v))
      tableFor(ident, v)
    else throw new NoSuchTableException(ident)
  }

  /** TIMESTAMP AS OF ts — Spark hands MICROSECONDS since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = pathOf(ident)
    val tsMs = timestampMicros / 1000L
    PartitionedSnapshots.versionAt(t, tsMs, store)
      .orElse(Snapshots.versionAt(t, tsMs, store))
      .map(tableFor(ident, _))
      .getOrElse(throw new NoSuchTableException(ident))
  }

  override def tableExists(ident: Identifier): Boolean =
    currentOf(pathOf(ident)).isDefined ||
      PartitionedSnapshots.tableProps(pathOf(ident), store)
        .contains("schema")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (root +: namespace.toSeq).mkString("/")
    store.listEntries(dir)
      .filter(e => e.isDir && store.exists(s"$dir/${e.name}/_current"))
      .map(e => Identifier.of(namespace, e.name)).toArray
  }

  /** `CALL snap.system.<proc>(…)` — see [[SnapshotProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    if (ident.namespace.toSeq == Seq("system"))
      SnapshotProcedures.load(ident.name,
        name => (root +: name.split('.').toSeq).mkString("/"), store)
        .getOrElse(throw new NoSuchTableException(ident))
    else throw new NoSuchTableException(ident)

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      SnapshotProcedures.names
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName is read-only: $op must go through the snapshot " +
        "operator APIs (they carry the lock + commit protocol)")

  /** `ALTER TABLE snap.t ADD COLUMN c TYPE` — the one schema mutation a
    * versioned table can take without touching committed data: the
    * declared schema widens ([[PartitionedSnapshots.addColumn]], under
    * the table lock), existing rows read the column as null, and the
    * next INSERT/MERGE may carry it. Matches the reference's
    * `on_schema_change: append_new_columns` contract. Everything else
    * (drops, renames, type changes, NOT NULL, positioned adds) is
    * refused — each would reinterpret or invalidate committed
    * immutable versions that pinned readers may still hold. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val t = pathOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "nested ADD COLUMN is not supported on snapshot tables")
        if (!add.isNullable)
          throw new UnsupportedOperationException(
            "ADD COLUMN must be nullable: existing committed rows have " +
              "no value for it")
        if (add.position() != null)
          throw new UnsupportedOperationException(
            "FIRST/AFTER positioning is not supported: new columns " +
              "append at the end of the schema")
        PartitionedSnapshots.addColumn(SparkSession.active, t,
          add.fieldNames()(0), add.dataType(), store)
      // CHECK constraints and generated columns are SQL-manageable
      // through their recorded property keys — the same `constraint:*`
      // / `generated:*` entries SHOW TBLPROPERTIES already surfaces:
      //   ALTER TABLE snap.t SET TBLPROPERTIES('constraint:qty_pos'='qty > 0')
      //   ALTER TABLE snap.t UNSET TBLPROPERTIES('constraint:qty_pos')
      // Both route through the operator APIs, which validate the
      // CURRENT data under the table lock before recording (a recorded
      // constraint is an invariant of every version from then on).
      // Other property keys are refused — the remaining `_table` props
      // (partCol/keys/schema) ARE the table's layout, and a free-form
      // property write could silently corrupt it.
      case set: TableChange.SetProperty
          if set.property.startsWith("constraint:") =>
        graft.operators.Constraints.add(SparkSession.active, t,
          set.property.stripPrefix("constraint:"), set.value, store)
      case set: TableChange.SetProperty
          if set.property.startsWith("generated:") =>
        graft.operators.GeneratedColumns.add(SparkSession.active, t,
          set.property.stripPrefix("generated:"), set.value, store)
      case rm: TableChange.RemoveProperty
          if rm.property.startsWith("constraint:") =>
        graft.operators.Constraints.drop(t,
          rm.property.stripPrefix("constraint:"), store)
      case rm: TableChange.RemoveProperty
          if rm.property.startsWith("generated:") =>
        graft.operators.GeneratedColumns.drop(t,
          rm.property.stripPrefix("generated:"), store)
      // DROP/RENAME COLUMN and type changes are refused BY DESIGN, with
      // the migration recipe in the error. Names in committed parquet
      // footers are the binding this engine reads by; reinterpreting
      // them metadata-only needs Delta's column mapping (stable field
      // ids written into every footer and resolved on every read),
      // which trades every reader's simplicity — and interop with
      // plain spark.read.parquet over version dirs — for a rare
      // operation. Time travel makes the trade worse than on Delta:
      // VERSION AS OF would need per-version mapping state to decide
      // which name a pinned reader sees. The supported path is a CTAS
      // migration (see README "Schema migration"): it is explicit,
      // keeps every old version readable under the old contract, and
      // costs one rewrite — what a rename of committed data is.
      case del: TableChange.DeleteColumn => throw refuseReshape(
        ident, s"DROP COLUMN ${del.fieldNames().mkString(".")}",
        "SELECT every column EXCEPT the dropped one")
      case ren: TableChange.RenameColumn => throw refuseReshape(
        ident, s"RENAME COLUMN ${ren.fieldNames().mkString(".")} TO " +
          ren.newName(),
        s"alias `${ren.fieldNames().mkString(".")}` AS `${ren.newName()}`")
      case upd: TableChange.UpdateColumnType => throw refuseReshape(
        ident, s"ALTER COLUMN ${upd.fieldNames().mkString(".")} TYPE " +
          upd.newDataType().simpleString,
        s"CAST(`${upd.fieldNames().mkString(".")}`)")
      case other => throw new UnsupportedOperationException(
        "ALTER TABLE on snapshot tables supports ADD COLUMN and " +
          "SET/UNSET TBLPROPERTIES('constraint:*' / 'generated:*') " +
          "(drops/renames/type changes would reinterpret committed " +
          s"immutable versions): $other")
    }
    loadTable(ident)
  }
  /** `DROP TABLE snap.t`: deletes every version, manifest, tag, and the
    * recorded layout — under the table lock, so no writer is mid-commit
    * when the dirs vanish. Registered change-feed consumers make the
    * drop REFUSE (they would silently lose their upstream; Delta drops
    * blind — this engine's consumers are first-class, so they gate);
    * `DROP TABLE … PURGE` ([[purgeTable]]) overrides. */
  override def dropTable(ident: Identifier): Boolean =
    dropImpl(ident, force = false)

  override def purgeTable(ident: Identifier): Boolean =
    dropImpl(ident, force = true)

  private def dropImpl(ident: Identifier, force: Boolean): Boolean = {
    val t = pathOf(ident)
    if (!tableExists(ident)) return false
    graft.operators.Incremental.withLock(t,
      graft.operators.Incremental.DefaultLockStaleMs, store) {
      val consumers = graft.operators.ChangeFeed.consumers(t, store)
      if (consumers.nonEmpty && !force)
        throw new IllegalStateException(
          s"${ident.name} has registered change-feed consumers " +
            s"(${consumers.keys.mkString(", ")}) that would lose their " +
            "upstream — drain and reset them, or DROP TABLE … PURGE")
      store.deleteRecursively(t)
    }
    // the lock sidecar outlives the dir delete (it is a sibling file);
    // release just removed or released it — clear any remaining
    // sidecars so a re-CREATE starts clean
    store.delete(s"$t.__lock")
    store.delete(s"$t.__wm")
    // a re-CREATE at this path is a DIFFERENT table: cached epoch
    // knowledge from the old incarnation must never resolve for it
    graft.operators.Txns.invalidateEpochCache(t)
    true
  }
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")

  /** The DROP/RENAME/retype refusal, with the CTAS migration recipe
    * inline — a migrating user gets the path forward in the error, not
    * just a 'no'. */
  private def refuseReshape(ident: Identifier, op: String,
      reshape: String): UnsupportedOperationException =
    new UnsupportedOperationException(
      s"$op: committed snapshot versions are immutable and this engine " +
        "binds columns BY NAME in their parquet footers, so a " +
        "metadata-only reshape would reinterpret history that pinned " +
        "readers (VERSION AS OF, tags, change-feed consumers) may " +
        "still hold. Migrate explicitly with CTAS:\n" +
        s"  CREATE TABLE $catalogName.${ident.name}_v2 … PARTITIONED " +
        "BY (…);\n" +
        s"  INSERT INTO $catalogName.${ident.name}_v2 SELECT … " +
        s"($reshape) FROM $catalogName.${ident.name};\n" +
        s"  -- drain consumers, re-tag, then DROP TABLE " +
        s"$catalogName.${ident.name}\n" +
        "The old table's full history stays readable under its own " +
        "contract until dropped. (Delta solves this with column " +
        "mapping — field ids in every footer; rejected here: it " +
        "breaks plain-parquet interop on version dirs and needs " +
        "per-version mapping state under time travel. See README " +
        "'Schema migration'.)")
}

/** The SQL WRITE path for a partitioned-snapshot table: reads delegate
  * to Spark's own ParquetTable (native scans, pushdown intact); writes
  * surface through the V1 write bridge so the incoming DataFrame routes
  * through the operator commit protocol —
  *
  *  - `INSERT INTO snap.t`      → [[PartitionedSnapshots.append]]
  *  - `INSERT OVERWRITE snap.t` → [[PartitionedSnapshots.write]] (full
  *    rebuild version; history and pinned readers unaffected)
  *  - `MERGE INTO snap.t`       → intercepted by [[SnapshotMergeRule]]
  *    and routed to [[PartitionedSnapshots.merge]]
  *
  * Every path writes data, commits a manifest, and flips the pointer
  * atomically through the operator's commit protocol (INSERT, MERGE,
  * UPDATE and DELETE through the one optimistic protocol of
  * [[PartitionedSnapshots.upsert]]: disjoint-partition writers run
  * concurrently, a writer losing a race on its partitions retries up
  * to 3 times, then refuses naming them) — SQL writers get exactly
  * the guarantees operator-API writers get, and mutations outside the
  * protocol remain impossible (there is no path that bypasses it). The
  * partition column comes from the table's recorded layout
  * ([[PartitionedSnapshots.tableProps]], written by every operator
  * write) — a table never written through the operators has no layout
  * and refuses SQL writes with instructions. */
/** Common face of the writable snapshot tables — what the SQL DML
  * lowering ([[SnapshotMergeRule]]) needs: the table path, the store
  * binding, and a merge entry point that routes to the right format. */
private[plans] sealed trait SnapshotDmlTable extends Table {
  def tablePath: String
  def store: CommitStore

  /** `SHOW TBLPROPERTIES snap.t` discoverability: the recorded layout
    * (partCol/keys), format, and current committed version. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    PartitionedSnapshots.tableProps(tablePath, store)
      .filterNot(_._1 == "schema")
      .foreach { case (k, v) => m.put(k, v) }
    m.put("format", this match {
      case _: SnapshotWritableTable => "graft.partitioned-snapshots"
      case _ => "graft.snapshots"
    })
    PartitionedSnapshots.currentVersion(tablePath, store)
      .foreach(v => m.put("current_version", v.toString))
    m
  }
  def runMerge(spark: SparkSession, keys: Seq[String], src: DataFrame,
      update: Map[String, org.apache.spark.sql.Column],
      delete: Option[org.apache.spark.sql.Column],
      insertNotMatched: Boolean,
      insertCond: Option[org.apache.spark.sql.Column],
      evolveSchema: Boolean): Unit
  def runUpdate(spark: SparkSession,
      set: Map[String, org.apache.spark.sql.Column],
      where: org.apache.spark.sql.Column): Unit
}

private[plans] class SnapshotWritableTable(
    val inner: ParquetTable, val tablePath: String,
    val store: CommitStore)
  extends SnapshotDmlTable with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def runMerge(spark: SparkSession, keys: Seq[String],
      src: DataFrame, update: Map[String, org.apache.spark.sql.Column],
      delete: Option[org.apache.spark.sql.Column],
      insertNotMatched: Boolean,
      insertCond: Option[org.apache.spark.sql.Column],
      evolveSchema: Boolean): Unit = {
    PartitionedSnapshots.merge(spark, tablePath, src, keys, partCol,
      whenMatchedUpdate = update, whenMatchedDelete = delete,
      insertNotMatched = insertNotMatched, insertCond = insertCond,
      evolveSchema = evolveSchema, store = store)
    ()
  }

  override def runUpdate(spark: SparkSession,
      set: Map[String, org.apache.spark.sql.Column],
      where: org.apache.spark.sql.Column): Unit = {
    PartitionedSnapshots.updateWhere(spark, tablePath, set, where,
      partCol, store)
    ()
  }

  override def name(): String = inner.name
  override def schema(): StructType = inner.schema

  /** SQL `DELETE FROM snap.t WHERE …`: Spark hands the translated
    * filters here and [[PartitionedSnapshots.delete]] rewrites only
    * the partitions holding matches (a new manifest version through
    * the commit protocol — pinned readers keep the deleted rows until
    * vacuum). `canDeleteWhere` accepts exactly the filters
    * [[SnapshotSqlCatalog.filterToColumn]] can express; anything else
    * makes Spark refuse the DELETE up front instead of half-applying. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => SnapshotSqlCatalog.filterToColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val where = filters.toSeq
      .map(f => SnapshotSqlCatalog.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"unsupported DELETE filter: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    PartitionedSnapshots.delete(SparkSession.active, tablePath, where,
      partCol, store)
    ()
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability](inner.capabilities())
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    caps.add(TableCapability.STREAMING_WRITE)
    // lets the analyzer resolve MERGE … WITH SCHEMA EVOLUTION against
    // the source-widened target; the lowered merge then widens the
    // stored schema (merge(evolveSchema = true))
    caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)

  def partCol: String =
    PartitionedSnapshots.tableProps(tablePath, store).getOrElse("partCol",
      throw new UnsupportedOperationException(
        s"$tablePath has no recorded partition column — write it once " +
          "through the PartitionedSnapshots operator API (write/upsert) " +
          "to establish the layout before SQL writes"))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // SupportsStreamingUpdateAsAppend: Update output mode feeds the
    // same epoch path as Append — correct here because a keyed table
    // UPSERTS each epoch (an updated aggregate row replaces its key),
    // which is exactly update-mode semantics
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit =
              if (overwrite)
                PartitionedSnapshots.write(
                  data.sparkSession, tablePath, data, partCol, store)
              else
                PartitionedSnapshots.append(
                  data.sparkSession, tablePath, data, partCol, store = store)
          }
        // df.writeStream.toTable("snap.t"): stage on executors, commit
        // each epoch as a snapshot version (see SnapshotStreamingWrite)
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          // schema gate at stream start: type conflicts refuse; new
          // columns evolve unless .option("evolveSchema", "false")
          SnapshotStreamingWrite.validateSchema(inner.name,
            inner.schema, info.schema(),
            Option(info.options.get("evolveSchema"))
              .forall(_.toBoolean))
          new SnapshotStreamingWrite(tablePath, info.schema(),
            info.queryId(), Some(partCol),
            PartitionedSnapshots.tableProps(tablePath, store).get("keys")
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              .getOrElse(Nil),
            overwrite, store,
            // writeStream.option("zoneMapCols", "a,b") keeps the
            // file-stats index fresh per epoch (streamCommit parity)
            Option(info.options.get("zoneMapCols")).toSeq
              .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
            // columns this run's schema ADDS — the sink records the
            // widening to _schema_history with its first landed epoch
            evolvedCols = SnapshotStreamingWrite.evolvedColumns(
              inner.schema, info.schema()))
        }
      }
    }
}

object SnapshotSqlCatalog {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  /** DSv1 Filter → Column for the DELETE push-through — the standard
    * translatable subset; None makes `canDeleteWhere` refuse up front. */
  private[plans] def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r))
        yield lc && rc
    case Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r))
        yield lc || rc
    case Not(c) => filterToColumn(c).map(not)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** SQL writes for a FULL-COPY (Snapshots) table — the dimension-scale
  * format where each version is a self-contained copy: `INSERT INTO` →
  * [[Snapshots.append]], `INSERT OVERWRITE` → [[Snapshots.write]],
  * `MERGE INTO` → [[Snapshots.merge]] (via [[SnapshotMergeRule]]).
  * `UPDATE`/`DELETE FROM` rewrite the whole copy ([[Snapshots
  * .updateWhere]]/[[Snapshots.deleteWhere]]); only schema-evolving
  * MERGE stays partitioned-format-only. */
private[plans] class FullCopyWritableTable(
    val inner: ParquetTable, val tablePath: String,
    val store: CommitStore)
  extends SnapshotDmlTable with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = inner.name
  override def schema(): StructType = inner.schema

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => SnapshotSqlCatalog.filterToColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val where = filters.toSeq
      .map(f => SnapshotSqlCatalog.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"unsupported DELETE filter: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Snapshots.deleteWhere(SparkSession.active, tablePath, where, store)
    ()
  }

  override def runUpdate(spark: SparkSession,
      set: Map[String, org.apache.spark.sql.Column],
      where: org.apache.spark.sql.Column): Unit = {
    Snapshots.updateWhere(spark, tablePath, set, where, store)
    ()
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability](inner.capabilities())
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    caps.add(TableCapability.STREAMING_WRITE)
    caps
  }
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)

  override def runMerge(spark: SparkSession, keys: Seq[String],
      src: DataFrame, update: Map[String, org.apache.spark.sql.Column],
      delete: Option[org.apache.spark.sql.Column],
      insertNotMatched: Boolean,
      insertCond: Option[org.apache.spark.sql.Column],
      evolveSchema: Boolean): Unit = {
    if (evolveSchema)
      throw new UnsupportedOperationException(
        "WITH SCHEMA EVOLUTION is not supported on full-copy snapshot " +
          "tables — INSERT OVERWRITE the re-shaped dimension instead")
    Snapshots.merge(spark, tablePath, src, keys,
      whenMatchedUpdate = update, whenMatchedDelete = delete,
      insertNotMatched = insertNotMatched, insertCond = insertCond,
      store = store)
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit =
              if (overwrite)
                Snapshots.write(data.sparkSession, tablePath, data, store)
              else
                Snapshots.append(data.sparkSession, tablePath, data, store)
          }
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          SnapshotStreamingWrite.validateSchema(inner.name,
            inner.schema, info.schema(),
            Option(info.options.get("evolveSchema"))
              .forall(_.toBoolean))
          new SnapshotStreamingWrite(tablePath, info.schema(),
            info.queryId(), None,
            PartitionedSnapshots.tableProps(tablePath, store).get("keys")
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              .getOrElse(Nil),
            overwrite, store,
            evolvedCols = SnapshotStreamingWrite.evolvedColumns(
              inner.schema, info.schema()))
        }
      }
    }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, expr, lit, not}

/** Table-level CHECK CONSTRAINTS on snapshot tables (Delta's
  * `ALTER TABLE … ADD CONSTRAINT` semantics): named boolean SQL
  * expressions recorded in the table's `_table` props and enforced by
  * EVERY writer of either snapshot format — operator APIs and the SQL
  * front door alike — before anything lands on disk:
  *
  * {{{
  * Constraints.add(spark, t, "qty_pos", "quantity > 0")
  * PartitionedSnapshots.upsert(…)   // refused if any written row violates
  * spark.sql("INSERT INTO snap.t …") // same — one enforcement point
  * }}}
  *
  * Semantics are SQL-standard CHECK: a row passes when the expression is
  * TRUE **or NULL** (three-valued logic — `coalesce(not(e), false)`
  * detects violations), matching Delta/ANSI. `add` validates the CURRENT
  * table first, so a recorded constraint is an invariant of every
  * version from its creation onward. A violating write refuses with the
  * constraint name and sample rows BEFORE any data or version dir is
  * created — nothing to vacuum, no version burned.
  *
  * Cost: one extra pass over the rows being written per commit (the
  * violation scan short-circuits via `limit`); never a table scan for
  * the partitioned format, whose writers hand only the touched
  * partitions' rows to enforcement.
  */
object Constraints {

  private[operators] val Prefix = "constraint:"

  /** Recorded constraints: name → SQL expression. */
  def list(t: String, store: CommitStore = CommitStore.local)
      : Map[String, String] =
    PartitionedSnapshots.tableProps(t, store).collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** Record a CHECK constraint after validating the current table
    * satisfies it (a table with no committed data validates vacuously).
    * Refuses names that collide or expressions the current data
    * violates. */
  def add(spark: SparkSession, t: String, name: String, exprStr: String,
      store: CommitStore = CommitStore.local): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    Incremental.withCommitLock(t, store) {
      if (list(t, store).contains(name))
        throw new IllegalStateException(
          s"constraint '$name' already exists on $t — drop it first")
      PartitionedSnapshots.currentVersion(t, store).foreach { v =>
        // a keyed table primed with an empty batch (manifest present,
        // zero partitions) validates vacuously — readVersion has no
        // footers to scan
        val emptyPrimed = PartitionedSnapshots.hasManifest(t, v, store) &&
          PartitionedSnapshots.manifest(t, v, store).isEmpty
        if (!emptyPrimed) {
          val current =
            if (PartitionedSnapshots.hasManifest(t, v, store))
              PartitionedSnapshots.readVersion(spark, t, v, store)
            else Snapshots.readVersion(spark, t, v, store)
          val bad = current
            .filter(coalesce(not(expr(exprStr)), lit(false)))
            .limit(3).collect()
          if (bad.nonEmpty) throw new IllegalStateException(
            s"cannot add constraint '$name' ($exprStr) to $t: existing " +
              s"rows violate it, e.g. ${bad.mkString("; ")}")
        }
      }
      PartitionedSnapshots.updateProps(t,
        Map(Prefix + name -> exprStr), store = store)
    }
  }

  /** Drop a recorded constraint (no-op if absent). */
  def drop(t: String, name: String,
      store: CommitStore = CommitStore.local): Unit =
    Incremental.withCommitLock(t, store) {
      PartitionedSnapshots.updateProps(t, Map.empty,
        remove = Seq(Prefix + name), store = store)
    }

  /** Enforcement hook every snapshot writer calls on the rows it is
    * about to write: throws (nothing written, no version burned) when
    * any row violates a recorded constraint. */
  private[operators] def enforce(df: DataFrame, t: String,
      store: CommitStore): Unit = {
    val cs = list(t, store)
    if (cs.nonEmpty) cs.toSeq.sortBy(_._1).foreach { case (name, ex) =>
      val bad = df.filter(coalesce(not(expr(ex)), lit(false)))
        .limit(3).collect()
      if (bad.nonEmpty) throw new IllegalStateException(
        s"CHECK constraint '$name' ($ex) violated by rows e.g. " +
          s"${bad.mkString("; ")} — commit refused, no version burned")
    }
  }

  /** The combined per-write gate: materialize generated columns, then
    * enforce CHECK constraints (in that order — constraints may
    * reference generated columns). Returns the frame to write. */
  private[operators] def prepare(df: DataFrame, t: String,
      store: CommitStore): DataFrame = {
    val g = GeneratedColumns.applyTo(df, t, store)
    enforce(g, t, store)
    g
  }
}

/** GENERATED COLUMNS on snapshot tables (Delta's
  * `GENERATED ALWAYS AS (expr)`): a column derived from other columns
  * by a recorded SQL expression, materialized by every writer of both
  * formats at the same choke points as [[Constraints]]:
  *
  *  - a write that OMITS the column (or provides NULL) gets it
  *    COMPUTED — so operator-level appends never hand-maintain it, and
  *    rows read from pre-feature footers (mergeSchema nulls) BACKFILL
  *    lazily whenever their partition rewrites;
  *  - a write that provides a NON-NULL value must match the expression
  *    (null-safe equality) or the commit refuses — the Delta guarantee
  *    that the column can never silently diverge from its definition.
  *
  * The classic use is derived partition keys (`order_month =
  * trunc(o_orderdate, 'MM')`): writers supply only the natural columns
  * and the layout column derives consistently everywhere. */
object GeneratedColumns {

  private[operators] val Prefix = "generated:"

  /** Recorded generated columns: column → SQL expression. */
  def list(t: String, store: CommitStore = CommitStore.local)
      : Map[String, String] =
    PartitionedSnapshots.tableProps(t, store).collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** Record a generated column after validating that every existing
    * NON-NULL value already matches the expression (nulls backfill on
    * the next rewrite of their partition). */
  def add(spark: SparkSession, t: String, colName: String,
      exprStr: String, store: CommitStore = CommitStore.local): Unit = {
    require(colName.nonEmpty && colName.matches("[A-Za-z0-9_]+"),
      s"column name must be [A-Za-z0-9_]+, got '$colName'")
    Incremental.withCommitLock(t, store) {
      if (list(t, store).contains(colName))
        throw new IllegalStateException(
          s"generated column '$colName' already recorded on $t")
      PartitionedSnapshots.currentVersion(t, store).foreach { v =>
        // empty-primed keyed version: nothing to validate (see
        // Constraints.add)
        val emptyPrimed = PartitionedSnapshots.hasManifest(t, v, store) &&
          PartitionedSnapshots.manifest(t, v, store).isEmpty
        val current =
          if (emptyPrimed) None
          else if (PartitionedSnapshots.hasManifest(t, v, store))
            Some(PartitionedSnapshots.readVersion(spark, t, v, store))
          else Some(Snapshots.readVersion(spark, t, v, store))
        current.filter(_.columns.contains(colName)).foreach { current =>
          val c = org.apache.spark.sql.functions.col(colName)
          val bad = current
            .filter(c.isNotNull && !(c <=> expr(exprStr)))
            .limit(3).collect()
          if (bad.nonEmpty) throw new IllegalStateException(
            s"cannot record '$colName' AS ($exprStr) on $t: existing " +
              s"non-null values diverge, e.g. ${bad.mkString("; ")}")
        }
      }
      PartitionedSnapshots.updateProps(t,
        Map(Prefix + colName -> exprStr), store = store)
    }
  }

  /** Drop a recorded generated column definition (the data column
    * stays; it just stops being derived/validated). */
  def drop(t: String, colName: String,
      store: CommitStore = CommitStore.local): Unit =
    Incremental.withCommitLock(t, store) {
      PartitionedSnapshots.updateProps(t, Map.empty,
        remove = Seq(Prefix + colName), store = store)
    }

  /** Per-write materialization + divergence check (see class doc). */
  private[operators] def applyTo(df: DataFrame, t: String,
      store: CommitStore): DataFrame = {
    val gs = list(t, store)
    gs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (cName, ex)) =>
      if (!d.columns.contains(cName))
        d.withColumn(cName, expr(ex))
      else {
        val c = org.apache.spark.sql.functions.col(cName)
        val bad = d.filter(c.isNotNull && !(c <=> expr(ex)))
          .limit(3).collect()
        if (bad.nonEmpty) throw new IllegalStateException(
          s"generated column '$cName' AS ($ex) received diverging " +
            s"non-null values, e.g. ${bad.mkString("; ")} — commit " +
            "refused, no version burned")
        d.withColumn(cName, coalesce(c, expr(ex)))
      }
    }
  }
}

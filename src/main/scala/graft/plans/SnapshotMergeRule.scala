package graft.plans

import graft.operators.PartitionedSnapshots
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Coalesce, EqualTo, Expression, If, InheritAnalysisRules, Literal, Not, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Bridge

/** SQL `MERGE INTO snap.t USING src ON … WHEN …` for snapshot tables.
  *
  * Spark's own MERGE rewrite requires `SupportsRowLevelOperations`
  * (a delta-file protocol the snapshot formats don't need — a manifest
  * commit IS the row-level operation here). Instead, this resolution
  * rule intercepts the analyzed [[MergeIntoTable]] whose target is a
  * [[SnapshotWritableTable]] and lowers it to a command that routes
  * through [[PartitionedSnapshots.merge]] — the same
  * touched-partition rewrite + manifest + atomic pointer flip (one
  * optimistic commit protocol) as the operator API, with O(touched
  * partitions) data cost.
  *
  * Injected in the analyzer's main resolution batch (via
  * [[GraftExtensions]]), so it fires before the built-in row-level
  * rewrite would reject the table. Clause mapping (SQL first-match-wins
  * order is preserved when composing onto the delete-then-update
  * MergeClauses engine):
  *
  *  - `ON` must be a conjunction of `t.k = s.k` same-name equalities
  *    (they become the merge keys);
  *  - at most one WHEN MATCHED UPDATE and one WHEN MATCHED DELETE, in
  *    either order, each optionally conditional;
  *  - one WHEN NOT MATCHED INSERT whose values are the matching source
  *    columns (the `INSERT *` shape), optionally conditional;
  *  - WITH SCHEMA EVOLUTION lowers to merge(evolveSchema = true) —
  *    evolved assignment keys name source columns; WHEN NOT MATCHED BY
  *    SOURCE is refused.
  */
class SnapshotMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.resolved && targetOf(m.targetTable).isDefined =>
      convert(m, targetOf(m.targetTable).get)
    // WITH SCHEMA EVOLUTION can never fully resolve here — an evolved
    // assignment key names a column the target does not have yet — so
    // the plan is intercepted as soon as everything ELSE is resolved
    // (the evolved keys are validated against the source's columns;
    // the lowered merge widens the target before applying them)
    case m: MergeIntoTable
        if m.withSchemaEvolution && targetOf(m.targetTable).isDefined &&
          evolutionReady(m) =>
      convert(m, targetOf(m.targetTable).get)
    case u: UpdateTable if u.resolved && targetOf(u.table).isDefined =>
      convertUpdate(u, targetOf(u.table).get)
    case _ => plan
  }

  /** An evolution merge is convertible once relations, the ON clause,
    * every action condition/value, and every NON-evolved assignment key
    * are resolved; the only unresolved leaves allowed are single-part
    * assignment keys naming SOURCE columns (the columns being added). */
  private def evolutionReady(m: MergeIntoTable): Boolean = {
    val srcCols = m.sourceTable.output.map(_.name).toSet
    def keyOk(k: Expression): Boolean = k match {
      case _: AttributeReference => true
      case u: UnresolvedAttribute =>
        u.nameParts.size == 1 && srcCols.contains(u.nameParts.head)
      case _ => false
    }
    def actionOk(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction)
        : Boolean = a match {
      case UpdateAction(c, as, _) => c.forall(_.resolved) &&
        as.forall(x => x.value.resolved && keyOk(x.key))
      case DeleteAction(c) => c.forall(_.resolved)
      case InsertAction(c, as) => c.forall(_.resolved) &&
        as.forall(x => x.value.resolved && keyOk(x.key))
      case _ => false
    }
    m.targetTable.resolved && m.sourceTable.resolved &&
      m.mergeCondition.resolved &&
      (m.matchedActions ++ m.notMatchedActions ++
        m.notMatchedBySourceActions).forall(actionOk)
  }

  private def targetOf(plan: LogicalPlan): Option[SnapshotDmlTable] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        strip(a.child)
      case other => other
    }
    strip(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case t: SnapshotDmlTable => Some(t)
        case _ => None
      }
      case _ => None
    }
  }

  /** SQL `UPDATE snap.t SET … WHERE …` → the touched-partition rewrite
    * ([[PartitionedSnapshots.updateWhere]]): a single-frame command, so
    * attrs resolve by plain name — no `__t_`/`__s_` aliasing. */
  private def convertUpdate(u: UpdateTable,
      t: SnapshotDmlTable): LogicalPlan = {
    def plain(e: Expression): Expression = e.transform {
      case r: RuntimeReplaceable with InheritAnalysisRules => call(r, plain)
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    }
    val set = u.assignments.map {
      case Assignment(k: AttributeReference, v) =>
        k.name -> Bridge.toColumn(plain(v))
      case Assignment(k, _) =>
        fail(s"UPDATE SET must assign plain target columns, got: ${k.sql}")
    }.toMap
    SnapshotUpdateCommand(t.tablePath, set,
      Bridge.toColumn(u.condition.map(plain).getOrElse(Literal(true))), t)
  }

  /** An analyzed function like BETWEEN carries a replacement built over
    * its resolved arguments, which breaks once they are un-resolved; so
    * re-emit the call as the parser does, over translated arguments. */
  private def call(r: RuntimeReplaceable with InheritAnalysisRules,
      f: Expression => Expression): Expression =
    UnresolvedFunction(r.prettyName, r.parameters.map(f), isDistinct = false)

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(
      s"MERGE INTO snapshot table: $msg")

  private def convert(m: MergeIntoTable,
      t: SnapshotDmlTable): LogicalPlan = {
    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported (the snapshot " +
        "merge touches only source-addressed partitions; rewrite as a " +
        "separate predicate delete)")
    val tgtSet = m.targetTable.outputSet
    val srcSet = m.sourceTable.outputSet

    // rewrite resolved attrs to the __t_/__s_ aliases MergeClauses joins
    // under; everything else (literals, functions) passes through
    def xlate(e: Expression): Expression = e.transform {
      case r: RuntimeReplaceable with InheritAnalysisRules => call(r, xlate)
      case a: AttributeReference if tgtSet.contains(a) =>
        UnresolvedAttribute(Seq(s"__t_${a.name}"))
      case a: AttributeReference if srcSet.contains(a) =>
        UnresolvedAttribute(Seq(s"__s_${a.name}"))
    }
    def asCol(e: Expression): Column = Bridge.toColumn(xlate(e))
    def notNull(e: Expression): Expression =
      Coalesce(Seq(xlate(e), Literal(false)))

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tgtSet.contains(a) && srcSet.contains(b) && a.name == b.name =>
        a.name
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if tgtSet.contains(a) && srcSet.contains(b) && a.name == b.name =>
        a.name
      case other => fail("ON clause must be a conjunction of " +
        s"target.k = source.k same-name equalities, got: ${other.sql}")
    }

    // assignment keys: resolved target attrs, or — under WITH SCHEMA
    // EVOLUTION — bare names of source columns being added
    def keyName(k: Expression): String = k match {
      case a: AttributeReference => a.name
      case u: UnresolvedAttribute
          if m.withSchemaEvolution && u.nameParts.size == 1 &&
            m.sourceTable.output.exists(_.name == u.nameParts.head) =>
        u.nameParts.head
      case other =>
        fail("UPDATE/INSERT must assign plain target columns (or, " +
          s"WITH SCHEMA EVOLUTION, new source columns), got: ${other.sql}")
    }

    def updMap(cond: Option[Expression],
        assigns: Seq[Assignment]): Map[String, Column] =
      assigns.map { asg =>
        val name = keyName(asg.key)
        val value = cond match {
          case None => xlate(asg.value)
          // NULL condition = clause does not fire (row keeps target)
          case Some(c) => If(Coalesce(Seq(xlate(c), Literal(false))),
            xlate(asg.value), UnresolvedAttribute(Seq(s"__t_$name")))
        }
        name -> Bridge.toColumn(value)
      }.toMap

    val (update, delete) = m.matchedActions match {
      case Seq() => (Map.empty[String, Column], None)
      case Seq(UpdateAction(c, as, _)) => (updMap(c, as), None)
      case Seq(DeleteAction(c)) =>
        (Map.empty[String, Column],
          Some(Bridge.toColumn(c.map(xlate).getOrElse(Literal(true)))))
      // SQL first-match-wins: UPDATE listed first shields matching rows
      // from the later DELETE
      case Seq(UpdateAction(uc, as, _), DeleteAction(dc)) =>
        val ucond = uc.getOrElse(Literal(true))
        val dcond = dc.map(xlate).getOrElse(Literal(true))
        (updMap(uc, as),
          Some(Bridge.toColumn(And(Not(notNull(ucond)), dcond))))
      // DELETE listed first wins over the later UPDATE — MergeClauses
      // applies the delete filter before updates, so plain composition
      // is already first-match-wins here
      case Seq(DeleteAction(dc), UpdateAction(uc, as, _)) =>
        (updMap(uc, as),
          Some(Bridge.toColumn(dc.map(xlate).getOrElse(Literal(true)))))
      case other => fail("at most one WHEN MATCHED UPDATE and one WHEN " +
        s"MATCHED DELETE are supported, got ${other.size} matched clauses")
    }

    val (insert, insertCond) = m.notMatchedActions match {
      case Seq() => (false, None)
      case Seq(InsertAction(c, assigns)) =>
        assigns.foreach { asg =>
          asg.value match {
            case v: AttributeReference
                if srcSet.contains(v) && v.name == keyName(asg.key) => ()
            case v =>
              fail("INSERT values must be the matching source columns " +
                s"(the INSERT * shape), got ${v.sql} for " +
                s"${asg.key.sql}; project the USING side instead")
          }
        }
        (true, c.map(e => Bridge.toColumn(Coalesce(Seq(xlate(e),
          Literal(false))))))
      case other =>
        fail(s"at most one WHEN NOT MATCHED INSERT, got ${other.size}")
    }

    SnapshotMergeCommand(t.tablePath, keys, m.sourceTable,
      update, delete, insert, insertCond, m.withSchemaEvolution, t)
  }
}

/** The lowered MERGE: executes [[PartitionedSnapshots.merge]] against
  * the analyzed USING plan. A leaf command — the source plan rides as
  * `innerChildren` for EXPLAIN, and the pre-built Columns (already
  * `__t_`/`__s_`-rewritten) resolve inside the merge's joined frame. */
case class SnapshotMergeCommand(
    tablePath: String, keys: Seq[String], source: LogicalPlan,
    update: Map[String, Column], delete: Option[Column],
    insertNotMatched: Boolean, insertCond: Option[Column],
    evolveSchema: Boolean,
    table: SnapshotDmlTable) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    table.runMerge(spark, keys, Bridge.ofRows(spark, source),
      update, delete, insertNotMatched, insertCond, evolveSchema)
    Nil
  }
}

/** The lowered UPDATE: [[PartitionedSnapshots.updateWhere]] against the
  * recorded partition layout. */
case class SnapshotUpdateCommand(
    tablePath: String, set: Map[String, Column], where: Column,
    table: SnapshotDmlTable) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    table.runUpdate(spark, set, where)
    Nil
  }
}

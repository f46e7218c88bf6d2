package graft.plans

import graft.functions.{BpeEncodeExpr, BpeMergeExpr, DotProduct, MinhashSigExpr, RollingFpExpr, ShinglesExpr}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension registering graft's native expressions for SQL use:
  *
  * {{{
  * val spark = graft.Session(cores)
  *   // sets spark.sql.extensions=graft.plans.GraftExtensions
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * This is the (c)-tier extension point from the build contract
  * (SparkSessionExtensions); graft needs no custom planner strategies for
  * parity (SURVEY §4 conclusion) so only expressions are injected.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz, name), builder))
    }
    // SQL MERGE INTO for snapshot-catalog tables (lowered to the
    // manifest-commit merge before Spark's row-level rewrite would
    // reject the table)
    e.injectResolutionRule(spark => new SnapshotMergeRule(spark))
    // table_changes(t, from[, to[, keys]]) — the CDC table-valued
    // function over both snapshot formats (see TableChanges)
    e.injectTableFunction((FunctionIdentifier("table_changes"),
      new ExpressionInfo("graft.plans.TableChanges", "table_changes"),
      (exprs: Seq[Expression]) => TableChanges.build(exprs)))
  }
}

object GraftExtensions {
  private def intLit(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"expected integer literal, got $other")
  }

  private def strLit(e: Expression): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"expected string literal, got $other")
  }

  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProduct].getCanonicalName,
      exprs => DotProduct(exprs(0), exprs(1))),
    ("minhash_sig", classOf[MinhashSigExpr].getCanonicalName,
      exprs => MinhashSigExpr(exprs(0))),
    // rolling_fp(text, width, k) — width/k must be integer literals
    ("rolling_fp", classOf[RollingFpExpr].getCanonicalName,
      exprs => RollingFpExpr(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    // shingles(tokens, k) — k must be an integer literal
    ("shingles", classOf[ShinglesExpr].getCanonicalName,
      exprs => ShinglesExpr(exprs(0), intLit(exprs(1)))),
    // bpe_merge(symbols, 'a', 'b') — one greedy merge pass
    ("bpe_merge", classOf[BpeMergeExpr].getCanonicalName,
      exprs => BpeMergeExpr(exprs(0), strLit(exprs(1)), strLit(exprs(2)))),
    // bpe_encode(word, 'a b', 'ab c', …) — merge literals in train order
    ("bpe_encode", classOf[BpeEncodeExpr].getCanonicalName,
      exprs => BpeEncodeExpr(exprs(0), exprs.drop(1).map(strLit))),
    // cms_probe(sketch, key) — estimate from count_min_sketch's binary
    ("cms_probe", classOf[graft.functions.CmsProbeExpr].getCanonicalName,
      exprs => graft.functions.CmsProbeExpr(exprs(0), exprs(1))),
  )

  /** Register everything on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graft.Bridge.registerFunction(spark, name, builder)
    }
}

package graft

import graft.operators.{PartitionedSnapshots => PS}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Model-based check of partitioned-snapshot DML through SQL: a seeded
  * ScalaCheck walk of INSERT / MERGE / UPDATE / DELETE / `VERSION AS OF`
  * / `table_changes` steps on a ~200-row `snap` table, each answer
  * compared with an in-memory model that keeps every version's rows.
  * Predicates mix BETWEEN, IN, IS NULL, partition equality and (in
  * UPDATE, which lowers to a Column rather than a pushed filter) CASE,
  * all under SQL three-valued logic. Every write must commit exactly
  * one version, or none when an UPDATE/DELETE matches no row. */
class DmlModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A row's non-key part; `d` is the partition and never changes. */
  private final case class R(d: String, c: Option[Long], a: Long)
  private type State = Map[Long, R]

  private sealed trait Pred {
    def sql: String
    def eval(r: R): Option[Boolean]
  }
  private def num(col: String, r: R): Option[Long] =
    if (col == "a") Some(r.a) else r.c
  private final case class Between(col: String, lo: Long, hi: Long)
      extends Pred {
    def sql = s"$col BETWEEN $lo AND $hi"
    def eval(r: R) = num(col, r).map(x => x >= lo && x <= hi)
  }
  private final case class In(col: String, vs: Seq[Long]) extends Pred {
    def sql = s"$col IN (${vs.mkString(", ")})"
    def eval(r: R) = num(col, r).map(vs.contains)
  }
  private case object CIsNull extends Pred {
    def sql = "c IS NULL"
    def eval(r: R) = Some(r.c.isEmpty)
  }
  private final case class Part(d: String) extends Pred {
    def sql = s"d = '$d'"
    def eval(r: R) = Some(r.d == d)
  }
  private final case class And(p: Pred, q: Pred) extends Pred {
    def sql = s"(${p.sql}) AND (${q.sql})"
    def eval(r: R) = (p.eval(r), q.eval(r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
  }
  private final case class Case(aBelow: Long, cAbove: Long) extends Pred {
    def sql = s"CASE WHEN c IS NULL THEN a < $aBelow ELSE c > $cAbove END"
    def eval(r: R) = Some(r.c.fold(r.a < aBelow)(_ > cAbove))
  }

  private sealed trait Step
  private final case class Insert(rows: Seq[(Long, R)]) extends Step
  private final case class Merge(src: Seq[(Long, R)]) extends Step
  private final case class Update(where: Pred, addA: Option[Long])
      extends Step
  private final case class Delete(where: Pred) extends Step
  private final case class AsOf(v: Int) extends Step
  private final case class Changes(from: Int, to: Int) extends Step

  private val Parts = (0 until 6).map(i => s"p$i")

  private def rowGen(d: Gen[String]): Gen[R] = for {
    dd <- d
    c <- Gen.frequency(1 -> Gen.const(None),
      4 -> Gen.choose(0L, 30L).map(Some(_)))
    a <- Gen.choose(0L, 100L)
  } yield R(dd, c, a)

  private def predGen(withCase: Boolean): Gen[Pred] = {
    val leaf: Gen[Pred] = Gen.frequency(
      3 -> (for {
        col <- Gen.oneOf("a", "c")
        lo <- Gen.choose(0L, 100L)
        w <- Gen.choose(0L, 25L)
      } yield Between(col, lo, lo + w)),
      2 -> (for {
        col <- Gen.oneOf("a", "c")
        vs <- Gen.listOfN(4, Gen.choose(0L, 100L))
      } yield In(col, vs.distinct)),
      1 -> Gen.const(CIsNull))
    val cased: Gen[Pred] =
      if (withCase) Gen.frequency(3 -> leaf,
        1 -> Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 30L))
          .map { case (x, y) => Case(x, y) })
      else leaf
    Gen.frequency(
      3 -> cased,
      3 -> Gen.zip(Gen.oneOf(Parts), cased)
        .map { case (d, q) => And(Part(d), q) },
      1 -> Gen.oneOf(Parts).map(Part(_)))
  }

  /** The next step, given the model so far (`nextKey` is the first
    * unused key; versions are 1-based). */
  private def stepGen(cur: State, versions: Int, nextKey: Long)
      : Gen[Step] = {
    val keys = cur.keys.toIndexedSeq
    val merge = for {
      old <- Gen.someOf(keys.take(60)).map(_.take(5).toSeq)
      deleted <- Gen.listOfN(old.size, Gen.oneOf(true, false, false))
      upd <- Gen.listOfN(old.size, rowGen(Gen.const("")))
      n <- Gen.choose(1, 4)
      fresh <- Gen.listOfN(n, rowGen(Gen.oneOf(Parts)))
    } yield Merge(old.zip(deleted).zip(upd).map { case ((k, del), r) =>
        // a negative source `a` selects the MATCHED DELETE clause
        k -> r.copy(d = cur(k).d, a = if (del) -1L else r.a)
      } ++ fresh.zipWithIndex.map { case (r, i) => (nextKey + i) -> r })
    val always: Seq[(Int, Gen[Step])] = Seq(
      3 -> Gen.choose(1, 5).flatMap(n =>
        Gen.listOfN(n, rowGen(Gen.oneOf(Parts))).map(rs =>
          Insert(rs.zipWithIndex.map { case (r, i) => (nextKey + i) -> r }))),
      // addA = None sets c through a CASE expression instead
      4 -> Gen.zip(predGen(withCase = true), Gen.frequency(
        1 -> Gen.const(None), 2 -> Gen.choose(1L, 9L).map(Some(_))))
        .map { case (p, n) => Update(p, n) },
      3 -> predGen(withCase = false).map(Delete(_)),
      2 -> Gen.choose(1, versions).map(AsOf(_)))
    val merges = if (keys.isEmpty) Nil else Seq(3 -> merge)
    val changes =
      if (versions < 2) Nil
      else Seq(2 -> Gen.choose(1, versions - 1)
        .flatMap(f => Gen.choose(f + 1, versions).map(Changes(f, _))))
    Gen.frequency(always ++ merges ++ changes: _*)
  }

  private val Schema = StructType(Seq(StructField("k", LongType, false),
    StructField("d", StringType), StructField("c", LongType),
    StructField("a", LongType)))

  private def frame(rows: Seq[(Long, R)]) = spark.createDataFrame(
    rows.map { case (k, r) =>
      Row(k, r.d, r.c.map(Long.box).orNull, r.a) }.asJava, Schema)

  private def lit(c: Option[Long]) = c.fold("NULL")(_.toString)

  private def tableRows(sql: String): State =
    spark.sql(sql).collect().map { r =>
      r.getLong(0) -> R(r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))
    }.toMap

  private def run(name: String, seed: Long, steps: Int): Unit = {
    val root = Files.createTempDirectory(s"graft_dml_$name").toString
    val cat = s"dml$name"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.plans.SnapshotSqlCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val t = s"$root/t"
    val v1: State = (0L until 200L).map(k =>
      k -> R(Parts((k % 5).toInt), if (k % 7 == 0) None else Some(k % 23),
        k * 3 % 101)).toMap
    PS.write(spark, t, frame(v1.toSeq), "d")
    var versions = Vector(v1)
    var nextKey = 1000L
    def cur = versions.last
    val select = s"SELECT k, d, c, a FROM $cat.t"
    PropertySpec.seeds(org.scalacheck.rng.Seed(seed)).take(steps)
      .zipWithIndex.foreach { case (s, i) =>
        val step = PropertySpec.draw(stepGen(cur, versions.size, nextKey), s)
        val at = s"seed $seed step $i: $step"
        def write(next: State, commits: Boolean)(sql: => Unit): Unit = {
          sql
          val want = versions.size + (if (commits) 1 else 0)
          assert(PS.currentVersion(t).contains(want.toLong),
            s"$at: version ${PS.currentVersion(t)}, want $want")
          if (commits) versions :+= next
          val got = tableRows(select)
          assert(got == cur, s"$at: table != model\n" +
            s"extra ${got.toSet -- cur.toSet}\nmissing ${cur.toSet -- got.toSet}")
        }
        step match {
          case Insert(rows) =>
            nextKey += rows.size
            write(cur ++ rows, commits = true) {
              spark.sql(s"INSERT INTO $cat.t VALUES " + rows.map {
                case (k, r) => s"($k, '${r.d}', ${lit(r.c)}, ${r.a})"
              }.mkString(", "))
            }
          case Merge(src) =>
            nextKey += src.count { case (k, _) => !cur.contains(k) }
            frame(src).createOrReplaceTempView(s"${cat}_src")
            val next = src.foldLeft(cur) { case (m, (k, r)) =>
              if (!m.contains(k)) m + (k -> r)
              else if (r.a < 0) m - k
              else m + (k -> r)
            }
            write(next, commits = true) {
              spark.sql(s"MERGE INTO $cat.t t USING ${cat}_src s " +
                "ON t.k = s.k WHEN MATCHED AND s.a < 0 THEN DELETE " +
                "WHEN MATCHED THEN UPDATE SET c = s.c, a = s.a " +
                "WHEN NOT MATCHED THEN INSERT *")
            }
          case Update(where, addA) =>
            val hit = cur.filter { case (_, r) => where.eval(r).contains(true) }
            val set = addA.fold(
              "c = CASE WHEN c IS NULL THEN 7 ELSE c + 1 END")(n => s"a = a + $n")
            val next = cur ++ hit.map { case (k, r) =>
              k -> addA.fold(r.copy(c = Some(r.c.fold(7L)(_ + 1))))(n =>
                r.copy(a = r.a + n))
            }
            write(next, commits = hit.nonEmpty) {
              spark.sql(s"UPDATE $cat.t SET $set WHERE ${where.sql}")
            }
          case Delete(where) =>
            val hit = cur.filter { case (_, r) => where.eval(r).contains(true) }
            write(cur -- hit.keys, commits = hit.nonEmpty) {
              spark.sql(s"DELETE FROM $cat.t WHERE ${where.sql}")
            }
          case AsOf(v) =>
            assert(tableRows(s"$select VERSION AS OF $v") == versions(v - 1),
              at)
          case Changes(from, to) =>
            val (a, b) = (versions(from - 1), versions(to - 1))
            val want = (a.keySet ++ b.keySet).toSeq.flatMap { k =>
              (a.get(k), b.get(k)) match {
                case (None, Some(_)) => Some(k -> "insert")
                case (Some(_), None) => Some(k -> "delete")
                case (Some(x), Some(y)) if x != y => Some(k -> "update")
                case _ => None
              }
            }.toSet
            val got = spark.sql("SELECT k, change_type FROM " +
                s"table_changes('$cat.t', $from, $to, 'k')").collect()
              .map(r => r.getLong(0) -> r.getString(1)).toSet
            assert(got == want, s"$at: got -- want ${got -- want}, " +
              s"want -- got ${want -- got}")
        }
      }
  }

  test("seeded SQL DML walk 1 matches the in-memory model at every step") {
    run("a", 7101L, 25)
  }

  test("seeded SQL DML walk 2 matches the in-memory model at every step") {
    run("b", 7202L, 25)
  }
}

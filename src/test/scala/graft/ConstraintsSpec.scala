package graft

import graft.operators.{Constraints, PartitionedSnapshots => PS, Snapshots}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Table-level CHECK constraints: add validates existing data, every
  * writer of both formats enforces on the rows it writes, a refusal
  * burns no version, NULL passes (three-valued CHECK semantics), and
  * drop lifts the gate. */
class ConstraintsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() =
    Files.createTempDirectory("graft_ck").toString + "/t"

  test("partitioned format: violating upsert refused with the " +
      "constraint name, no version burned; valid writes pass") {
    val t = tmp()
    PS.write(spark, t, Seq((1L, "A", 5.0)).toDF("k", "d", "qty"), "d")
    Constraints.add(spark, t, "qty_pos", "qty > 0")
    assert(Constraints.list(t) == Map("qty_pos" -> "qty > 0"))

    val before = PS.currentVersion(t).get
    val e = intercept[IllegalStateException] {
      PS.upsert(spark, t, Seq((2L, "A", -1.0)).toDF("k", "d", "qty"),
        Seq("k"), "d")
    }
    assert(e.getMessage.contains("qty_pos"), e.getMessage)
    assert(PS.currentVersion(t).get == before, "no version burned")

    PS.upsert(spark, t, Seq((2L, "A", 2.0)).toDF("k", "d", "qty"),
      Seq("k"), "d")
    assert(PS.read(spark, t).count() == 2)
  }

  test("a constraint writer waits out a held table lock: add started " +
      "while another holder keeps the lock ~200 ms succeeds once it is " +
      "released") {
    val t = tmp()
    PS.write(spark, t, Seq((1L, "A", 5.0)).toDF("k", "d", "qty"), "d")
    // another writer's reservation or commit section holding the lock
    val tok = graft.operators.Incremental.acquire(t)
    val holder = new Thread(() => {
      Thread.sleep(200)
      graft.operators.Incremental.release(t, tok)
    })
    holder.start()
    Constraints.add(spark, t, "qty_pos", "qty > 0")
    holder.join()
    assert(Constraints.list(t) == Map("qty_pos" -> "qty > 0"))
  }

  test("add refuses when existing rows violate; NULL passes like SQL " +
      "CHECK; drop lifts the gate") {
    val t = tmp()
    PS.write(spark, t,
      Seq((1L, "A", Some(5.0)), (2L, "A", None))
        .toDF("k", "d", "qty"), "d")
    // NULL qty passes "qty > 0" (three-valued logic) — add succeeds
    Constraints.add(spark, t, "qty_pos", "qty > 0")
    // but a constraint the existing zero-row violates is refused
    val e = intercept[IllegalStateException] {
      Constraints.add(spark, t, "qty_big", "qty >= 10")
    }
    assert(e.getMessage.contains("existing"), e.getMessage)

    // NULL rows keep passing on write too
    PS.upsert(spark, t,
      Seq((3L, "A", None: Option[Double])).toDF("k", "d", "qty"),
      Seq("k"), "d")

    Constraints.drop(t, "qty_pos")
    PS.upsert(spark, t, Seq((4L, "A", Some(-9.0))).toDF("k", "d", "qty"),
      Seq("k"), "d")
    assert(PS.read(spark, t).count() == 4)
  }

  test("generated columns: derived partition key computes when " +
      "omitted, diverging non-null values refuse, nulls backfill on " +
      "rewrite, drop stops derivation") {
    import graft.operators.GeneratedColumns
    val t = tmp()
    // declare layout + generated partition key BEFORE any data
    PS.initTable(t, "m",
      spark.range(0).select(col("id").as("k"),
        lit("").as("d"), lit("").as("m")).schema.json)
    GeneratedColumns.add(spark, t, "m", "substring(d, 1, 1)")

    // writers supply only the natural columns — the layout col derives
    PS.write(spark, t, Seq((1L, "Alpha"), (2L, "Beta"))
      .toDF("k", "d"), "m")
    assert(PS.read(spark, t).select(col("k"), col("m"))
      .as[(Long, String)].collect().toSet == Set((1L, "A"), (2L, "B")))

    // providing a matching value passes; a diverging one refuses
    PS.upsert(spark, t, Seq((3L, "Cat", "C")).toDF("k", "d", "m"),
      Seq("k"), "m")
    val e = intercept[IllegalStateException] {
      PS.upsert(spark, t, Seq((4L, "Dog", "X")).toDF("k", "d", "m"),
        Seq("k"), "m")
    }
    assert(e.getMessage.contains("diverging"), e.getMessage)

    // a NULL value counts as absent — computed, not rejected
    PS.upsert(spark, t,
      Seq((4L, "Dog", null.asInstanceOf[String])).toDF("k", "d", "m"),
      Seq("k"), "m")
    assert(PS.read(spark, t).filter(col("k") === 4L).select(col("m"))
      .as[String].head == "D")

    GeneratedColumns.drop(t, "m")
    PS.upsert(spark, t, Seq((5L, "Emu", "Z")).toDF("k", "d", "m"),
      Seq("k"), "m") // no longer validated
    assert(PS.read(spark, t).filter(col("k") === 5L).select(col("m"))
      .as[String].head == "Z")
  }

  test("generated columns: add validates existing non-null data; " +
      "divergence refuses the definition") {
    import graft.operators.GeneratedColumns
    val t = tmp()
    PS.write(spark, t, Seq((1L, "Alpha", "A"), (2L, "Beta", "X"))
      .toDF("k", "d", "m"), "m")
    val e = intercept[IllegalStateException] {
      GeneratedColumns.add(spark, t, "m", "substring(d, 1, 1)")
    }
    assert(e.getMessage.contains("diverge"), e.getMessage)
  }

  test("full-copy deleteWhere routes through the constraints gate: " +
      "generated-column nulls backfill on the delete's rewrite") {
    import graft.operators.GeneratedColumns
    val t = tmp()
    // rows persisted BEFORE the generated-column definition, with nulls
    Snapshots.write(spark, t,
      Seq((1L, "Alpha", Option.empty[String]),
        (2L, "Beta", Option.empty[String]),
        (3L, "Cat", Option.empty[String])).toDF("k", "d", "m"))
    GeneratedColumns.add(spark, t, "m", "substring(d, 1, 1)")
    // deleteWhere is a full rewrite like every other full-copy writer:
    // the surviving rows must get the same lazy backfill the others apply
    Snapshots.deleteWhere(spark, t, col("k") === 3L)
    val out = Snapshots.read(spark, t).select(col("k"), col("m"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "A", 2L -> "B"),
      "survivors' generated-column nulls must be backfilled")
  }

  test("full-copy format: append and merge enforce; refusal leaves " +
      "the table untouched") {
    val t = tmp()
    Snapshots.write(spark, t, Seq((1L, "x", 3.0)).toDF("k", "v", "qty"))
    Constraints.add(spark, t, "qty_pos", "qty > 0")

    val before = Snapshots.currentVersion(t).get
    intercept[IllegalStateException] {
      Snapshots.append(spark, t, Seq((2L, "y", -1.0))
        .toDF("k", "v", "qty"))
    }
    intercept[IllegalStateException] {
      Snapshots.merge(spark, t,
        Seq((1L, "x", -5.0)).toDF("k", "v", "qty"), Seq("k"),
        whenMatchedUpdate = Map("qty" ->
          PS.source("qty")))
    }
    assert(Snapshots.currentVersion(t).get == before)

    Snapshots.append(spark, t, Seq((2L, "y", 1.0)).toDF("k", "v", "qty"))
    assert(Snapshots.read(spark, t).count() == 2)
  }
}

package graftbench

import graft.operators.{PartitionedSnapshots, Snapshots}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.collection.immutable.HashMap
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Snapshot tables under a seeded mix of SQL writes and reads: a
  * date-partitioned `PartitionedSnapshots` fact table beside a small
  * full-copy `Snapshots` dimension, both reached through
  * `SnapshotSqlCatalog` with `GraftExtensions` (MERGE, `table_changes`).
  *
  * A run executes every op kind once, then compacts and vacuums the fact
  * table. The kinds run in a fixed order and the seed picks keys,
  * partitions and values: each kind's first execution in the JVM costs up
  * to three times its later ones, by an amount that depends on which kinds
  * ran before it, so a seeded order would make the run's total depend on
  * the seed. The benchmark keeps its own model of the table
  * (every row, per version), so each read's answer is predicted exactly,
  * including `VERSION AS OF` and `table_changes`. */
final class TableWorkload(p: Probe, work: String, seed: Long) {
  import TableWorkload._
  private val spark = p.spark
  private val res = p.res
  private val rnd = new Random(seed)
  private val factPath = s"$work/snap/fact"

  /** A fact row's mutable part, keyed by `k`: (partition index, cust, amt in cents). */
  private type FactState = HashMap[Long, (Int, Int, Long)]
  private var versions = Vector.empty[FactState] // index = version - 1
  private var retainedFrom = 1                   // oldest readable version
  private var dim = Set.empty[Int]
  private var nextKey = 0L
  private var userRows = 0L
  private var writtenBytes = 0.0

  private def fact: FactState = versions.last
  private def cur: Int = versions.size

  def run(): Unit = {
    OpKinds.foreach(runOp)
    maintain()
    if (p.tracer.on) layerValues()
  }

  /** Creates both tables, [[SetUpReps]] times so the set-up time's median
    * is steady; the first copy is the one under load. */
  def setUp(): Unit = {
    val rows = (0 until FactRows).map { i =>
      (i.toLong, i % Partitions, rnd.nextInt(Custs), rnd.nextInt(100000).toLong) }
    nextKey = FactRows
    versions = Vector(HashMap.from(rows.map(r => r._1 -> ((r._2, r._3, r._4)))))
    dim = (0 until DimRows).toSet
    (0 until SetUpReps).foreach { i =>
      val dir = if (i == 0) s"$work/snap" else s"$work/setup$i"
      val t0 = System.nanoTime()
      PartitionedSnapshots.write(spark, s"$dir/fact", factDf(rows), "d")
      Snapshots.write(spark, s"$dir/dim", dimDf(dim.toSeq, "n0"))
      res.setupReps += (System.nanoTime() - t0) / 1e9
    }
  }

  private def runOp(kind: String): Unit = kind match {
    case "insert" =>
      val d = rnd.nextInt(Partitions)
      val rows = (0 until InsertRows).map { _ =>
        nextKey += 1; (nextKey + FactRows, d, rnd.nextInt(Custs), rnd.nextInt(100000).toLong) }
      factDf(rows).createOrReplaceTempView("ins_src")
      commit("insert", rows.size, fact ++ rows.map(r => r._1 -> ((r._2, r._3, r._4)))) {
        spark.sql("INSERT INTO snap.fact SELECT k, d, cust, amt FROM ins_src")
      }
    case "merge_fact" =>
      val existing = sample(MergeRows / 2)
      val fresh = (0 until MergeRows / 2).map { _ =>
        nextKey += 1; (nextKey + FactRows, rnd.nextInt(Partitions), rnd.nextInt(Custs),
          rnd.nextInt(100000).toLong) }
      val updated = existing.map { case (k, (d, c, a)) => (k, d, c, a + 7) }
      val src = updated ++ fresh
      factDf(src).createOrReplaceTempView("merge_src")
      commit("merge_fact", src.size, fact ++ src.map(r => r._1 -> ((r._2, r._3, r._4)))) {
        spark.sql("MERGE INTO snap.fact t USING merge_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET amt = s.amt WHEN NOT MATCHED THEN INSERT *")
      }
    case "merge_dim" =>
      val old = rnd.shuffle(dim.toSeq).take(DimMerge / 2)
      // new dimension rows first cover fact customers not yet present,
      // so the join's answer keeps changing
      val fresh = rnd.shuffle((0 until Custs).filterNot(dim)).take(DimMerge / 2)
      dimDf(old ++ fresh, s"n$cur").createOrReplaceTempView("dim_src")
      res.op("plans.merge_dim") {
        val s = time(p.timed("plans.merge_dim")(spark.sql(
          "MERGE INTO snap.dim t USING dim_src s ON t.cust = s.cust " +
            "WHEN MATCHED THEN UPDATE SET name = s.name WHEN NOT MATCHED THEN INSERT *")))
        dim = dim ++ fresh
        userRows += old.size + fresh.size
        s
      }.foreach(record("commit_s", "plans.merge_dim"))
    case "update" =>
      val (_, (d, c, _)) = sample(1).head
      val hi = c + UpdateSpan
      commit("update", 0, fact ++ fact.collect {
          case (k, (rd, rc, a)) if rd == d && rc >= c && rc <= hi => k -> ((rd, rc, a + 100)) }) {
        // two comparisons, not BETWEEN: UPDATE ... WHERE x BETWEEN a AND b
        // fails analysis in SnapshotSqlCatalog (see README)
        spark.sql(s"UPDATE snap.fact SET amt = amt + 1 WHERE d = '${day(d)}' " +
          s"AND cust >= $c AND cust <= $hi")
      }
    case "delete" =>
      val (_, (d, c, _)) = sample(1).head
      commit("delete", 0, fact -- fact.collect { case (k, (rd, rc, _)) if rd == d && rc == c => k }) {
        spark.sql(s"DELETE FROM snap.fact WHERE d = '${day(d)}' AND cust = $c")
      }
    case "read_current" =>
      read("read_current", (fact.size.toLong, fact.valuesIterator.map(_._3).sum)) {
        val r = spark.sql("SELECT count(*), sum(CAST(round(amt * 100) AS BIGINT)) " +
          "FROM snap.fact").head()
        (r.getLong(0), r.getLong(1))
      }
    case "read_version" =>
      val v = retainedFrom + rnd.nextInt(cur - retainedFrom + 1)
      read("read_version", versions(v - 1).size.toLong) {
        spark.sql(s"SELECT count(*) FROM snap.fact VERSION AS OF $v").head().getLong(0)
      }
    case "read_join" =>
      read("read_join", fact.valuesIterator.count(r => dim(r._2)).toLong) {
        spark.sql("SELECT count(*) FROM snap.fact f JOIN snap.dim d " +
          "ON f.cust = d.cust").head().getLong(0)
      }
    case "cdc" =>
      val from = math.max(retainedFrom, cur - CdcSpan)
      read("cdc", changes(versions(from - 1), fact)) {
        spark.sql(s"SELECT count(*) FROM table_changes('snap.fact', $from, $cur, 'k')")
          .head().getLong(0)
      }
  }

  /** A fact write: timed, then checked to have committed exactly one
    * version; the model advances only when it did. */
  private def commit(kind: String, rows: Int, next: => FactState)(sql: => Unit): Unit = {
    val want = next
    res.op(s"plans.$kind") {
      val s = time(p.timed(s"plans.$kind")(sql))
      res.expect(s"$kind version", PartitionedSnapshots.currentVersion(factPath),
        Some(cur + 1L))
      versions :+= want
      userRows += rows
      s
    }.foreach(record("commit_s", s"plans.$kind"))
  }

  private def read[A](kind: String, want: A)(q: => A): Unit =
    res.op(s"plans.$kind") {
      val t0 = System.nanoTime()
      val got = p.timed(s"plans.$kind")(q)
      val s = (System.nanoTime() - t0) / 1e9
      res.expect(kind, got, want)
      s
    }.foreach(record("read_s", s"plans.$kind"))

  private def record(names: String*)(s: Double): Unit =
    names.foreach(res.sample(_, s))

  /** Compact, then vacuum down to the newest [[Keep]] versions. */
  private def maintain(): Unit = {
    if (p.tracer.on) writtenBytes += factBytesWritten()
    res.op("table.compact") {
      val t0 = System.nanoTime()
      val r = p.tracer.span("table.compact")(spark.sql(
        "CALL snap.system.compact(table => 'fact', min_files => 2)").head())
      record("table.compact")((System.nanoTime() - t0) / 1e9)
      val v = r.getLong(0)
      if (v == cur + 1) versions :+= fact
      res.expect("compact version", v, cur.toLong)
    }
    if (p.tracer.on) {
      val b = factBytesWritten()
      writtenBytes += b
      res.add("table.compact_bytes_rewritten", b.toDouble)
    }
    res.op("table.vacuum") {
      record("table.vacuum")(time(p.tracer.span("table.vacuum")(spark.sql(
        s"CALL snap.system.vacuum(table => 'fact', keep => $Keep)").collect())))
      val from = math.max(retainedFrom, cur - Keep + 1)
      // the model forgets what the table may no longer serve
      (retainedFrom until from).foreach(v => versions = versions.updated(v - 1, HashMap.empty))
      retainedFrom = from
    }
  }

  private def time(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def sample(n: Int): Seq[(Long, (Int, Int, Long))] = {
    val keys = fact.keysIterator.toIndexedSeq
    Seq.fill(n)(keys(rnd.nextInt(keys.size))).distinct.map(k => k -> fact(k))
  }

  /** Net changes between two states: inserted, deleted and updated keys. */
  private def changes(a: FactState, b: FactState): Long =
    b.count { case (k, r) => a.get(k).forall(_ != r) } +
      a.keysIterator.count(k => !b.contains(k))

  private def factDf(rows: Seq[(Long, Int, Int, Long)]) =
    spark.createDataFrame(rows.map { case (k, d, c, a) =>
      Row(k, day(d), c.toLong, a / 100.0) }.asJava, FactSchema)

  private def dimDf(custs: Seq[Int], tag: String) =
    spark.createDataFrame(custs.map(c => Row(c.toLong, s"$tag-$c")).asJava, DimSchema)

  /** Bytes the fact table's data writes produced since the last call
    * (traced runs only: it waits for the listeners). */
  private def factBytesWritten(): Long = {
    p.fence()
    p.queries.drain().flatMap(d => Plans.written(d.qe))
      .collect { case (path, bytes) if path.startsWith(factPath) => bytes }.sum
  }

  private def layerValues(): Unit = {
    writtenBytes += factBytesWritten()
    val files = {
      val s = Files.walk(Paths.get(factPath))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
    val isData = (f: java.nio.file.Path) => f.getFileName.toString.endsWith(".parquet")
    val isCrc = (f: java.nio.file.Path) => f.getFileName.toString.endsWith(".crc")
    val live = PartitionedSnapshots.versionFiles(factPath, cur.toLong)
    val liveBytes = live.map(f => Files.size(Paths.get(f))).sum.toDouble
    val diskBytes = files.map(Files.size).sum.toDouble
    res.put("table.versions", cur)
    res.put("table.files_live", live.size)
    res.put("table.meta_bytes",
      files.filterNot(f => isData(f) || isCrc(f)).map(Files.size).sum.toDouble)
    res.put("table.bytes_disk", diskBytes)
    res.put("table.space_amp", diskBytes / liveBytes)
    res.put("table.write_amp", writtenBytes / (userRows * liveBytes / fact.size))
  }
}

object TableWorkload {
  val FactRows = 20000
  val SetUpReps = 3
  val Partitions = 28
  val Custs = 1000
  val DimRows = 500
  val InsertRows = 500
  val MergeRows = 1000
  val DimMerge = 20
  val UpdateSpan = 50
  val CdcSpan = 3
  val Keep = 5
  val OpKinds: Seq[String] = Seq("insert", "merge_fact", "merge_dim", "update",
    "delete", "read_current", "read_version", "read_join", "cdc")

  def day(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString

  val FactSchema: StructType = StructType(Seq(StructField("k", LongType),
    StructField("d", StringType), StructField("cust", LongType),
    StructField("amt", DoubleType)))
  val DimSchema: StructType = StructType(Seq(StructField("cust", LongType),
    StructField("name", StringType)))
}

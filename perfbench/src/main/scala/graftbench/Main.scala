package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One benchmark run in a fresh JVM, started by `perfbench/run.py`.
  *
  * {{{
  * Main --workload pipeline|sql|verify --seed N --trace 0|1 --work DIR
  *      --data DIR
  * }}}
  *
  * Writes `DIR/result.json` (raw samples, op counts, per-layer values)
  * and, when traced, `DIR/spans.jsonl`. Statistics and the final output
  * line are computed by run.py, so one routine serves every workload. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val data = Paths.get(opt("data")).toAbsolutePath.toString

    val res = new Result
    // time from JVM launch to here: class loading of the harness
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = Session.start(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    res.setupBase = jvmS + sessionS
    System.err.println(f"[perfbench] jvm $jvmS%.2fs session $sessionS%.2fs")
    val probe = new Probe(spark, new Tracer(traced), res)
    try {
      workload match {
        case "pipeline" => new PipelineWorkload(probe, work, seed).run()
        case "sql" =>
          // tables first (set-up), then the catalog's first executions,
          // then the table ops on the warm session
          val table = new TableWorkload(probe, work, seed)
          table.setUp()
          new CatalogWorkload(probe, data).run()
          table.run()
        case "verify" => new CatalogWorkload(probe, data).dumpAll(s"$work/verify")
        case other => throw new IllegalArgumentException(
          s"unknown workload '$other'")
      }
      probe.finish()
      res.put("jvm.peak_rss_mb", Host.peakRssMb)
      Files.writeString(Paths.get(work, "result.json"), res.toJson)
      if (traced) probe.tracer.write(Paths.get(work, "spans.jsonl"))
    } finally spark.stop()
  }
}

/** The one session configuration every workload runs under. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def start(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.snap", "graft.plans.SnapshotSqlCatalog")
      .config("spark.sql.catalog.snap.root", s"$work/snap")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

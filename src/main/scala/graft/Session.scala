package graft

import org.apache.spark.sql.SparkSession

/** The engine configuration. Every graft main and the test suite build
  * their session here, so the settings below hold wherever graft runs. */
object Session {
  /** Local cores for a graft main: `SPARK_GRAFT_CPUS`, else every core
    * of the machine. The launcher's `--master` is ignored — the
    * builder's master below wins. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def apply(cores: Int, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // HotSpot never JIT-compiles methods over 8 KB bytecode; Spark's
      // default hugeMethodLimit (65535) lets whole-stage codegen emit
      // methods the JVM then runs interpreted AND spends tens of seconds
      // trying to compile (measured: q01 172s -> 3s). Cap at the JIT limit
      // so pathological fusions fall back to non-fused codegen.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // Test tables are SINGLE parquet files; with the default 128 MB
      // split size every scan is one task and the whole query runs on one
      // core. 4 MB splits parallelize local scans; a real cluster's
      // many-file tables make this knob irrelevant there.
      .config("spark.sql.files.maxPartitionBytes", "4194304")
      // The catalog's plans each compile several codegen units, which
      // overflow the default 100-entry generated-class cache; evictions
      // force re-compiles that land on random later queries (and a
      // warm-up run is useless if its classes are evicted before the
      // timed run reuses them).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // native SQL functions + the snapshot MERGE INTO resolution rule
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

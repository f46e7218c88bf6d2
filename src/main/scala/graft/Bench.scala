package graft

import graft.queries.Q
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every catalog query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall-clock seconds to stdout.
  * Progress goes to stderr so a hung query is identifiable.
  *
  * Launch with `-XX:ReservedCodeCacheSize=1g` and the recompilation
  * cutoffs off (`-XX:PerMethodRecompilationCutoff=-1
  * -XX:PerBytecodeRecompilationCutoff=-1`): the catalog's generated
  * classes overflow the JVM's default 240 MB code cache, and once the
  * cache sweeper or a cutoff pins hot methods at C1/interpreted, later
  * queries run several times slower on the same code and data. */
object Bench {
  /** The reader keeps only the last ~2000 chars of stdout, and a line
    * that does not fit entirely cannot be parsed at all. */
  val MaxLine = 1900

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = Session(cpus)
    try run(spark, sfDir, SparkEntry.catalog)
    finally spark.stop()
  }

  /** Times `queries` and prints the result line. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[Q]): Unit =
    println(line(queries.map(q => q.name -> time(spark, sfDir, q)), sfDir))

  /** Wall-clock seconds of one noop-sink run of `q`, after one untimed
    * warm-up run at the same SF, or None when it throws. The warm-up is
    * at the target SF because AQE picks size-dependent plans: warming
    * at another SF compiles different code than the timed run needs. */
  def time(spark: SparkSession, sfDir: String, q: Q): Option[Double] = {
    // each query is self-contained: drop its cached intermediates so
    // the timed run recomputes them and later queries get the memory
    def once(): Unit =
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally spark.catalog.clearCache()
    System.err.println(s"[bench] start ${q.name}")
    try {
      once()
      val t0 = System.nanoTime()
      once()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] done  ${q.name} $dt%.2fs")
      Some(dt)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
      None
    }
  }

  /** `{"metric":"total","value":…,"unit":"sec","queries":{…},"errors":[…],
    * "sf":…}`: `value` sums the queries that ran, `errors` names those
    * that threw. When the line would exceed [[MaxLine]], `queries` keeps
    * the most expensive entries that fit and `queries_omitted` counts the
    * rest; `value` and `errors` always cover every query. */
  def line(results: Seq[(String, Option[Double])], sfDir: String): String = {
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val timed = results.collect { case (n, Some(t)) => (n, t) }.sortBy(-_._2)
    val total = r3(timed.map(_._2).sum)
    val errors = results.collect { case (n, None) => Json.str(n) }
      .mkString("[", ",", "]")
    def render(k: Int): String = {
      val qs = timed.take(k).map { case (n, t) => s"${Json.str(n)}:${r3(t)}" }
        .mkString("{", ",", "}")
      val omitted =
        if (k < timed.size) s""","queries_omitted":${timed.size - k}""" else ""
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs""" +
        s"""$omitted,"errors":$errors,"sf":${Json.str(sfDir)}}"""
    }
    (timed.size to 0 by -1).iterator.map(render)
      .find(_.length <= MaxLine).getOrElse(render(0))
  }
}

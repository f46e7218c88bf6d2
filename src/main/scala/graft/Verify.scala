package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: only run queries whose name starts with the prefix
    // (local iteration; the driver always passes exactly 2 args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, "")
      case Array(s, o, p) => (s, o, p)
    }
    // engine configuration (codegen limits, split size): see graft.Session
    val spark = Session(Session.cores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.startsWith(only)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // queries are self-contained
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

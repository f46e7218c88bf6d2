package graftbench

/** Prints every catalog query's DuckDB oracle SQL as one JSON object
  * (`name -> sql`); `make_expected.py` turns it into expected row counts. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    println(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (n, q) => Json.str(n) + ":" + Json.str(q) }.mkString("{", ",\n", "}"))
  }
}

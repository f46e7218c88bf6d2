package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  // the production configuration; the warehouse dir keeps catalog-table
  // tests (S8-S10) out of the repo working tree
  lazy val spark: SparkSession = Session(4,
    Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}

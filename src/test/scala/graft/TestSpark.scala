package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test run (suites share the JVM
  * under sbt's forked test runner; building a session per suite would
  * dominate wall-clock). Built through [[Bench.withBoundedStore]], so the
  * tests run under the same session defaults as the measuring mains.
  */
object TestSpark {
  lazy val spark: SparkSession = Bench.withBoundedStore(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}

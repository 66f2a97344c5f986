package graft

/** Targeted correctness dump: re-run only the NAMED queries into an
  * existing [[Verify]] output directory (results + refreshed
  * oracle_sql.json), so an iteration on one query doesn't pay the
  * full-registry dump before `tools/check_oracle.py`. Usage:
  *
  *   runMain graft.VerifyOne <sfDir> <outDir> q_name [q_name ...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val spark = Bench.session(Bench.envCpus(default = "4"))
    new java.io.File(outDir).mkdirs()
    // Fail fast on a typo'd name BEFORE dumping anything: a partial dump
    // with exit 0 would leave stale parquet for the misspelled query
    // sitting in outDir, silently passing the downstream oracle check.
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      unknown.foreach(n =>
        System.err.println(s"[verify-one] unknown query: $n"))
      spark.stop()
      sys.exit(2)
    }
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      println(s"[verify-one] dumped $name")
    }
    Verify.writeOracleJson(outDir)
    if (names.exists(_.startsWith("q_chunkcsv")))
      Verify.writeDiagnostics(spark, sfDir)
    spark.stop()
  }
}

package graft

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` output for named queries to files —
  * the optimization-round evidence artifact (plans/rNN/<query>_{before,
  * after}.txt). Each query is run to exhaustion FIRST so the
  * AdaptiveSparkPlan section prints the final re-optimized plan (the
  * thing that executed), not the pre-AQE estimate; note that iterative
  * queries materialize their per-round plans behind localCheckpoint
  * boundaries, so the printed tree is the post-checkpoint tail — the
  * per-round shape is pinned by GraphSpec/PlanSpec instead. Each line
  * also carries the query's task-level shuffle writes, which the plan
  * file cannot show (shuffles behind checkpoints and in subqueries).
  * Pointing SPARK_GRAFT_SF_DIR at a scaled fixture compares plans across
  * scales (a broadcast join turning sort-merge, a new exchange).
  *
  * A query that fails prints `PLANDUMP <name> FAILED <msg>` and the rest
  * still dump; the exit code is non-zero if any failed.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> q_name [q_name ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = Bench.envSfDir()
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir))) {
      val f = "f(\\d+)$".r.findFirstMatchIn(sfDir).fold("<factor>")(_.group(1))
      System.err.println(s"PLANDUMP fixture $sfDir is missing; a scaled " +
        s"fixture is built by `runMain graft.ScaleSuite $f q_name` " +
        "(under /tmp/graft-sf1/f<factor>)")
      sys.exit(2)
    }
    val spark = Bench.session(Bench.envCpus())
    val tally = new Bench.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Materializations.prebuild(spark, names, sfDir)
    val failed = names.filterNot { n =>
      try {
        val sh0 = tally.settled()
        val df = SparkEntry.queries(n)(spark, sfDir)
        Bench.runToExhaustion(df)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"PLANDUMP wrote $outDir/${n}_$suffix.txt  " +
          s"shuffle=${(tally.settled() - sh0) / 1024}KB")
        true
      } catch {
        case NonFatal(e) =>
          println(s"PLANDUMP $n FAILED ${e.getMessage}")
          false
      } finally Bench.resetState(spark)
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

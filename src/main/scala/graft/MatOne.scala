package graft

import scala.util.control.NonFatal

/** Targeted materialization bench: time named `Materializations.builds`
  * entries in isolation under the same settings as [[Bench]] — the fast
  * loop for iterating on a build's structure (e.g. the triangle-state
  * write phases) without paying a full-suite run. Same methodology as the
  * suite where it matters: an untimed warmup build on the smallest
  * fixture first (classes + codegen), then ONE timed cold build at the
  * bench fixture — Scratch.cached makes a second same-key build a no-op,
  * so repetitions need fresh JVMs (run the main N times). When the warmup
  * fixture IS the bench fixture, the warmup build is skipped: it would
  * fill the very cache key the timed build reads, and time a no-op.
  * A build that fails prints a FAILED line; the remaining names still run.
  *
  * Usage: runMain graft.MatOne m_name [m_name ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object MatOne {
  def main(args: Array[String]): Unit = {
    // A repeated name would time its own cached result as a cold build.
    val names = args.toSeq.distinct
    val sfDir = Bench.envSfDir()
    val spark = Bench.session(Bench.envCpus())
    val tally = new Bench.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    val byName = Materializations.builds.map(b => b.name -> b.run).toMap
    val warmDir = Bench.warmupDir(sfDir)
    if (warmDir == sfDir)
      println(s"MATONE warmup skipped: no separate warmup fixture for " +
        s"$sfDir, so the timed builds include class loading and codegen")
    names.foreach { n =>
      try {
        val build = byName.getOrElse(n,
          sys.error(s"unknown materialization: $n"))
        if (warmDir != sfDir) {
          build(spark, warmDir) // untimed warmup, small fixture
          Bench.resetState(spark)
        }
        val sh0 = tally.settled()
        val t0 = System.nanoTime()
        build(spark, sfDir)
        val sec = (System.nanoTime() - t0) / 1e9
        val sh = tally.settled() - sh0
        println(f"MATONE $n%-24s $sec%8.3f s  shuffle=${sh / 1e6}%9.1f MB")
      } catch {
        case NonFatal(e) => println(f"MATONE $n%-24s FAILED ${e.getMessage}")
      } finally Bench.resetState(spark)
    }
    spark.stop()
  }
}

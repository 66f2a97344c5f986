package graft

/** Targeted bench: time named queries one at a time under the same settings
  * as [[Bench]], optionally dumping the executed plan. Usage:
  *
  *   runMain graft.BenchOne [--plan] [--reps k] q_name [q_name ...]
  *
  * Each query runs once untimed, then `k` timed times (default 3), and
  * prints one line:
  *
  *   BENCHONE q_name  <median> s  q1 <s> q3 <s> jobs <n> reps <k>
  *
  * with the median wall, its quartiles and the median number of jobs.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  * [[Bench.defaultCpus]] — one shared constant, so the two tools never time
  * under different parallelism).
  */
object BenchOne {
  /** The p-quantile of `xs` by linear interpolation between order
    * statistics (numpy's default), so q1/median/q3 of 3 reps are the
    * midpoints and the middle sample.
    */
  private[graft] def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = p * (s.size - 1)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def main(args: Array[String]): Unit = {
    val showPlan = args.contains("--plan")
    val (reps, rest) = args.indexOf("--reps") match {
      case -1 => (3, args.toSeq)
      case i => (args(i + 1).toInt, args.toSeq.patch(i, Nil, 2))
    }
    require(reps >= 1, s"--reps must be >= 1, got $reps")
    val names = rest.filterNot(_.startsWith("--"))
    val sfDir = Bench.envSfDir()
    val spark = Bench.session(Bench.envCpus())
    val tally = new Bench.ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    // Same contract as Bench: the builds these names read run outside
    // every timer, so a timed rep bills only the query's own reads.
    Materializations.prebuild(spark, names, sfDir)

    // One query's failure must not strand the rest of the requested names —
    // but fatal JVM errors (OOM) propagate: timings from a corrupted JVM
    // would look like normal output while being garbage.
    names.foreach { name =>
      try {
        Bench.runToExhaustion(
          SparkEntry.queries(name)(spark, Bench.warmupDir(sfDir)))
        Bench.resetState(spark) // same isolation as the suite run
        // Build INSIDE the timer, like Bench: eager materialization during
        // query construction (localCheckpoint) must be billed to the query.
        // Jobs are read after the listener settles, outside the timer.
        val runs = (1 to reps).map { rep =>
          tally.settled()
          val jobs0 = tally.jobs.get
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          Bench.runToExhaustion(df)
          val sec = (System.nanoTime() - t0) / 1e9
          tally.settled()
          val jobs = tally.jobs.get - jobs0
          if (showPlan && rep == reps)
            println(df.queryExecution.executedPlan.toString())
          Bench.resetState(spark)
          (sec, jobs.toDouble)
        }
        val secs = runs.map(_._1)
        val med = quantile(secs, 0.5)
        val q1 = quantile(secs, 0.25)
        val q3 = quantile(secs, 0.75)
        val jobs = quantile(runs.map(_._2), 0.5)
        println(f"BENCHONE $name%-28s $med%8.3f s  q1 $q1%.3f q3 $q3%.3f " +
          f"jobs $jobs%.0f reps $reps")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(f"BENCHONE $name%-28s FAILED ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

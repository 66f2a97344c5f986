package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Sources
import graft.ext.{Dedup, Graph, Similarity}

/** Job budgets for the latency-bound operators. Each job costs tens of
  * milliseconds of driver and scheduling time however small its input, so
  * on the iterative tail the job count is the cost. The pins are counted
  * by a listener on fixed small inputs; AQE map stages and broadcasts
  * are jobs of their own and count here.
  */
class JobBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Jobs `op` started, counted under a job group of its own. */
  private def jobs(op: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, group)
    try {
      op
      ListenerBusDrain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  /** Nullable id pairs, like ids read from parquet. */
  private def pairs(a: String, b: String, ps: (Long, Long)*) = {
    import spark.implicits._
    ps.map { case (x, y) => (Option(x), Option(y)) }.toDF(a, b)
  }

  test("a repeat Sources.table read of an unchanged table runs no job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-budget").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.parquet(s"$dir/t.parquet")
    assert(jobs(Sources.table(spark, dir, "t")) == 1) // schema inference
    assert(jobs(Sources.table(spark, dir, "t")) == 0)
  }

  test("kCenterCoreset: at most 2 seed jobs, then one job per round") {
    import spark.implicits._
    def corpus = (1 to 8).map(i =>
      (Option(i.toLong), Seq(i.toFloat, (i * i % 7).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    def run(k: Int) = jobs(
      Similarity.kCenterCoreset(corpus, "vec_id", "embedding", k).collect())
    val seed = run(1)
    assert(seed <= 2, s"$seed seed jobs")
    assert(run(6) == seed + 5)
  }

  test("connectedComponents: 3 jobs per propagation round") {
    // A path 1-2-…-n takes more rounds the longer it is; the round count
    // comes back from connectedComponentsWithRounds.
    def run(n: Int): (Int, Int) = {
      var rounds = 0
      val j = jobs {
        val (cc, r) = Dedup.connectedComponentsWithRounds(
          pairs("a", "b", (1L until n).map(i => (i + 1, i)): _*), "a", "b")
        cc.collect()
        rounds = r
      }
      (j, rounds)
    }
    val (j1, r1) = run(4)
    val (j2, r2) = run(10)
    assert(r2 > r1)
    assert(j2 - j1 == 3 * (r2 - r1), s"$j1 jobs/$r1 rounds, $j2/$r2")
    assert(j1 <= 2 + 3 * r1, s"$j1 jobs in $r1 rounds")
  }

  test("labelPropagation: 3 jobs per round") {
    def run(iters: Int) = jobs(Graph.labelPropagation(
      pairs("src", "dst", (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
        (4L, 5L)), "src", "dst", iters).collect())
    val (j2, j5) = (run(2), run(5))
    assert(j5 - j2 == 3 * 3, s"$j2 jobs at 2 rounds, $j5 at 5")
    assert(j2 <= 6 + 3 * 2, s"$j2 jobs at 2 rounds")
  }

  test("appendCleaned: at most 2 jobs (the dedup shuffle and the write)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-budget-append")
    try {
      val n = jobs(graft.engine.Pipeline.appendCleaned(
        Seq((1L, " a "), (1L, " a "), (2L, "b")).toDF("id", "s"),
        dir.resolve("t").toString,
        Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))
      assert(n <= 2, s"$n jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}

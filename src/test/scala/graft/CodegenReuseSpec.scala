package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Cleaning, Pipeline}
import graft.ext.{Dedup, Graph, Similarity}

/** Generated code is compiled once per session: running an operator a
  * second time, on freshly built inputs of the same shape, must find
  * every class it needs in Spark's codegen cache. A class that is
  * compiled again on every call (a per-call counter name in the generated
  * source) pays Janino and then the JIT on each run of an iterative query.
  */
class CodegenReuseSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Classes compiled by the second of two runs of `op`. */
  private def secondRunCompiles(op: => Unit): Long = {
    op
    val c0 = Bench.codegenCompiles()
    op
    Bench.codegenCompiles() - c0
  }

  /** Nullable id pairs, like ids read from parquet: on non-nullable
    * columns the optimizer drops the operators' null-id probes entirely.
    */
  private def pairs(a: String, b: String, ps: (Long, Long)*) = {
    import spark.implicits._
    ps.map { case (x, y) => (Option(x), Option(y)) }.toDF(a, b)
  }

  test("connectedComponents compiles nothing on its second run") {
    val n = secondRunCompiles {
      Dedup.connectedComponents(
        pairs("doc_a", "doc_b", (2L, 1L), (2L, 3L), (4L, 3L), (6L, 5L)),
        "doc_a", "doc_b").collect()
    }
    assert(n == 0, s"$n classes compiled again")
  }

  test("pageRankNano compiles nothing on its second run") {
    val n = secondRunCompiles {
      Graph.pageRankNano(
        pairs("src", "dst", (2L, 1L), (3L, 1L), (1L, 2L), (4L, 3L)),
        "src", "dst", 3).collect()
    }
    assert(n == 0, s"$n classes compiled again")
  }

  test("labelPropagation compiles nothing on its second run") {
    val n = secondRunCompiles {
      Graph.labelPropagation(
        pairs("src", "dst", (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)),
        "src", "dst", 3).collect()
    }
    assert(n == 0, s"$n classes compiled again")
  }

  test("kCenterCoreset compiles nothing on its second run, even on " +
      "other ids and vectors") {
    import spark.implicits._
    // Selected ids, vectors and norms reach generated code by reference,
    // so a round's class does not depend on the data.
    var shift = 0
    val n = secondRunCompiles {
      shift += 10
      Similarity.kCenterCoreset(
        Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)),
          (4L, Seq(-1f, 0.5f)))
          .map { case (i, v) => (Option(i + shift), v.map(_ + shift)) }
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", 4).collect()
    }
    assert(n == 0, s"$n classes compiled again")
  }

  /** A small CDC-shaped batch, built fresh on every call like a new
    * delta: strings to trim and fill, a number to fill, a date to parse.
    */
  private def delta(shift: Int) = {
    import spark.implicits._
    Seq((Option(1 + shift), Option(" CA "), Option("2024-01-02")),
      (Option(2 + shift), None, Option("not-a-date")),
      (None, Option("NY"), None))
      .toDF("yearstart", "location", "report_date")
  }

  test("appendCleaned compiles nothing on its second run, a day later") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reuse-append")
    try {
      var day = 0L
      val n = secondRunCompiles {
        day += 1
        Pipeline.appendCleaned(delta(day.toInt), dir.resolve("t").toString,
          Some(java.sql.Timestamp.from(java.time.Instant
            .parse("2024-03-01T10:11:12.345678Z").plusSeconds(86400 * day))))
      }
      assert(n == 0, s"$n classes compiled again")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("Pipeline.load compiles nothing on a second run at a new instant") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reuse-load")
    try {
      val staging = dir.resolve("staging").toString
      delta(0).write.parquet(staging)
      def today = Cleaning.loadDay(spark,
        java.sql.Timestamp.from(java.time.Instant.now()))
      // load stamps the wall clock; a run that straddles midnight loads
      // two days, and the new day's load_date literal is new code
      def measure(): Option[Long] = {
        val d0 = today
        val n = secondRunCompiles {
          Pipeline.load(spark, staging, dir.resolve("out").toString)
        }
        if (today == d0) Some(n) else None
      }
      val n = measure().orElse(measure()).get
      assert(n == 0, s"$n classes compiled again")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}

package graft.engine

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.Streams

/** Every whole-table rewrite recovers a table that a crash left between
  * the swap's two renames (live moved aside, replacement never moved in):
  * the next call restores the original, rewrites it, and answers as if
  * nothing had happened. `applyChanges` has its own case in PipelineSpec.
  */
class StrandedSwapSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** One rewrite: how to build its table under a root, the dir its swap
    * replaces, the rewrite itself, and the answer that must survive.
    */
  private case class Rewrite(name: String, build: String => Unit,
      live: String => String, run: String => Pipeline.StageReport,
      answer: String => Long)

  private def rewrites = {
    import spark.implicits._
    val day = Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      Rewrite("Pipeline.compact",
        root => {
          Pipeline.appendCleaned(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
            s"$root/t", Some(day))
          Pipeline.appendCleaned(Seq((2L, "c")).toDF("id", "v"), s"$root/t",
            Some(Timestamp.valueOf("2024-01-02 00:00:00")))
        },
        root => s"$root/t",
        root => Pipeline.compact(spark, s"$root/t", Seq("id")),
        root => Pipeline.readLatest(spark, s"$root/t", Seq("id")).count()),
      Rewrite("Rollup.compactJournal",
        root => Seq("b0", "b1").foreach(tag => Rollup.journalBatch(
          Seq(("x", 1.0), ("y", 2.0)).toDF("g", "v"), s"$root/j", Seq("g"),
          "v", tag)),
        root => s"$root/j",
        root => Rollup.compactJournal(spark, s"$root/j"),
        root => Rollup.report(spark, s"$root/j", Seq("g"))
          .agg(sum(col("n"))).head().getLong(0)),
      Rewrite("Streams.compactUrlDedupJournal",
        root => Seq(0L, 1L).foreach(id => Streams.urlDedupBatchIdempotent(
          Seq((id, s"http://a.com/$id"), (id + 10, "http://a.com/0"))
            .toDF("doc_id", "url"), s"$root/s", id)),
        root => s"$root/s/urls",
        root => Streams.compactUrlDedupJournal(spark, s"$root/s"),
        root => Streams.urlDedupFromJournal(spark, s"$root/s")
          .agg(sum(col("n_docs"))).head().getLong(0)))
  }

  test("compact, compactJournal and compactUrlDedupJournal recover a " +
      "table stranded mid-swap") {
    for (r <- rewrites) withClue(s"${r.name}: ") {
      val root = java.nio.file.Files.createTempDirectory("stranded").toString
      r.build(root)
      val want = r.answer(root)
      val live = new File(r.live(root))
      val old = new File(r.live(root) + ".compact-old")
      assert(live.renameTo(old))
      val rep = r.run(root)
      assert(rep.ok, rep.detail)
      assert(live.exists() && !old.exists())
      assert(r.answer(root) == want)
    }
  }
}

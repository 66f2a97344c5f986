package graft

import org.scalatest.funsuite.AnyFunSuite

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
}

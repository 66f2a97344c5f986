package graft.functions

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, TestSpark}
import graft.engine.Cleaning

/** LoadStamp: the `loaded_at` stamp read by reference in generated code.
  * Its value must be exactly what `lit(at)` gave, on both evaluation
  * paths, and its generated source must not depend on the instant.
  */
class StampExprsSpec extends AnyFunSuite {

  private val instants = Seq(
    "1969-12-31T23:59:59.999999Z", // before the epoch, negative micros
    "1970-01-01T00:00:00Z",
    "2024-05-06T07:08:09.123456Z", // microsecond precision
    "2099-12-31T23:59:59.5Z")
    .map(s => Timestamp.from(Instant.parse(s)))

  private def stampOf(at: Timestamp): LoadStamp =
    ColumnBridge.expression(StampExprs.loadStamp(at)).asInstanceOf[LoadStamp]

  test("interpreted and generated values equal the timestamp literal's") {
    instants.foreach { at =>
      val e = stampOf(at)
      val literal = Literal(at).value
      assert(e.eval(InternalRow.empty) == literal, at)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
        .apply(InternalRow.empty)
      assert(!generated.isNullAt(0) && generated.getLong(0) == literal, at)
    }
  }

  test("one generated class serves every instant") {
    GenerateUnsafeProjection.generate(Seq(stampOf(instants.head)))
    val c0 = Bench.codegenCompiles()
    instants.foreach(at =>
      GenerateUnsafeProjection.generate(Seq(stampOf(at))))
    assert(Bench.codegenCompiles() == c0)
  }

  test("the stamped column is non-null and reads back as the instant") {
    val spark = TestSpark.spark
    import spark.implicits._
    instants.foreach { at =>
      val out = Cleaning.withLoadMetadata(Seq(1, 2).toDF("x"), Some(at))
      assert(!out.schema("loaded_at").nullable)
      assert(out.select("loaded_at").collect().map(_.getTimestamp(0))
        .toSeq == Seq(at, at))
    }
  }

  test("the expression survives Java serialization") {
    instants.foreach { at =>
      val e = stampOf(at)
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(e)
      out.close()
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[LoadStamp]
      assert(back == e)
      assert(back.eval(InternalRow.empty) == e.eval(InternalRow.empty))
    }
  }
}

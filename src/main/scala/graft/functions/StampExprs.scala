package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A load's `loaded_at` stamp: one fixed instant (microseconds since the
  * epoch, the timestamp's internal value) that generated code reads from
  * the plan's reference objects, the way [[QuantileBucket]] reads its
  * boundaries.
  *
  * A timestamp `Literal` is inlined into the generated source, so every
  * load at a new instant would compile its projections again and run
  * them interpreted until the JIT caught up. Here the source names only a
  * slot of the references array, so it is the same for every instant and
  * a JVM compiles it once. The expression is not foldable, which keeps
  * the optimizer from turning it back into a literal.
  */
case class LoadStamp(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType
  override def prettyName: String = "load_stamp"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val m = ctx.addReferenceObj("loadedAt", Long.box(micros))
    ev.copy(code = code"final long ${ev.value} = $m.longValue();",
      isNull = FalseLiteral)
  }
}

object StampExprs {
  /** `at` as a non-null timestamp column read by reference in generated
    * code; equal to `lit(at)` row for row.
    */
  def loadStamp(at: java.sql.Timestamp): Column =
    ColumnBridge.column(LoadStamp(DateTimeUtils.fromJavaTimestamp(at)))
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 routes Column through ColumnNode, and the converters
  * (`classic.ExpressionUtils`) are `private[sql]` — the standard pattern
  * for extension libraries shipping custom expressions is one bridge
  * object inside the `org.apache.spark.sql` package tree. This package
  * (with [[BlockRelease]]) is the only main code outside the `graft`
  * namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

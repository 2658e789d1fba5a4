package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The Column <-> Expression bridge for the engine's native expressions.
  * Spark 4 keeps it `private[sql]`, hence this package. A Column built
  * here wraps the expression node itself: no function-registry entry,
  * and the plan is the one the SQL name would resolve to. */
object NativeColumn {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

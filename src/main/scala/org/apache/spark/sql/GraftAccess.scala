package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst `Expression` as a `Column` and back, through Spark's
  * package-private `classic.ExpressionUtils`: graft's native expressions
  * are then built directly, with no function-registry lookup. */
object GraftAccess {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

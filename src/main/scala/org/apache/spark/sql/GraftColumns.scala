package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a `Column` and back, for the typed
  * constructors in `graft.functions`. `ExpressionUtils` is `private[sql]`,
  * hence this package. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

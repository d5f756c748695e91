package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> catalyst Expression bridge. Spark 4 made this conversion
  * `private[sql]` (classic.ExpressionUtils); graft's native expressions
  * (the bridge calls in TextFunctions, CosineSimExpr, the aggregates)
  * need it to be usable as plain Columns without a per-session
  * function-registry round-trip.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

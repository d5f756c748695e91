package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
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

  /** `df` with `f` applied to each partition's Catalyst rows, as a
    * DataFrame of the same schema: a narrow pass with no encoder round
    * trip. `f` must not hold a row past its `next()`: the rows are
    * reused buffers. `toRdd` plans `df` now, so under AQE its
    * shuffle-map stages run here, as they do for `Dataset.rdd`.
    */
  def mapInternalPartitions(df: DataFrame)(
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    c.sparkSession.internalCreateDataFrame(
      c.queryExecution.toRdd.mapPartitions(f, preservesPartitioning = true), c.schema)
  }
}

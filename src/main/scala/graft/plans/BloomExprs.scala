package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Column faces over Spark's own distributed Bloom-filter expressions —
  * the machinery Catalyst's `InjectRuntimeFilter` uses for runtime
  * semi-join pruning, exposed for explicit dedup-against-history
  * prefiltering.
  *
  * Why these and not `DataFrameStatFunctions.bloomFilter`: the stat
  * helper collects the filter on the DRIVER via aggregate-and-merge into
  * a local object, while `BloomFilterAggregate` builds it as a regular
  * aggregate (map-side partials, binary merge) whose one-row result can
  * be broadcast back — no driver-side construction, which is the shape
  * that survives a 10^12-row history table.
  *
  * Contract (matching Spark's runtime-filter usage): the value fed to
  * both sides is `xxhash64(col)`, applied here so callers pass the raw
  * column. A Bloom filter has NO false negatives — `not
  * might_contain(...)` is proof of absence; a `true` is only "maybe",
  * so exact verification (anti-join) must follow for the maybes.
  */
object BloomExprs {

  /** Aggregate: build a Bloom filter over `c` sized for `expectedItems`.
    * Returns the filter as one binary value.
    */
  def bloomAgg(c: Column, expectedItems: Long): Column =
    column(new BloomFilterAggregate(new XxHash64(Seq(expression(c))),
      expectedItems).toAggregateExpression())

  /** Probe `c` against the one-row Bloom-binary aggregate `bloomDf`
    * (the output of `df.agg(bloomAgg(...))`), wired as a scalar
    * subquery — the exact shape Catalyst's `InjectRuntimeFilter`
    * produces, and the only non-literal form `might_contain` accepts
    * (the filter binary must be a constant per-query, not a join
    * column).
    */
  def bloomMightContainSubquery(bloomDf: org.apache.spark.sql.DataFrame,
      c: Column): Column =
    column(BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        bloomDf.queryExecution.analyzed),
      new XxHash64(Seq(expression(c)))))
}

package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Bucket ids of a token array's hashed word n-grams, pmod(gramHash, mod)
  * per gram: the per-gram form that `BigramHistAgg.hashedGramHist` and
  * `TextFunctions.hashedGramMicroSum` fold, kept as the reference that
  * BigramHistAggSpec and TextHashExprsSpec compare them against.
  */
object GramBucketsReference {

  def buckets(toks: ArrayData, n: Int, seed: Long, mod: Long): ArrayData =
    new GenericArrayData(Array.tabulate[Any](TextHashBridge.gramCount(toks, n))(i =>
      Math.floorMod(TextHashBridge.gramHash(toks, i, n, seed), mod)))

  /** [[buckets]] as a column: one static call inside whole-stage codegen. */
  def hashedGramBuckets(toks: Column, n: Int, seed: Long, mod: Long): Column = {
    require(n >= 1 && mod >= 1, "hashed_gram_buckets needs n >= 1, mod >= 1")
    GraftColumnBridge.column(StaticInvoke(getClass,
      ArrayType(LongType, containsNull = false), "buckets",
      Seq(GraftColumnBridge.expression(toks), Literal(n), Literal(seed), Literal(mod)),
      returnNullable = false))
  }
}

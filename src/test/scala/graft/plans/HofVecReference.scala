package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.toDouble

/** The original higher-order-function forms of cosine and hyperplane LSH,
  * kept as the executable spec that the native expressions
  * (CosineSimExpr, HyperplaneBucketExpr, HyperplaneBandsExpr) are
  * asserted bit-equal to in VecExprsSpec. Sequential left folds in double
  * precision; inputs are array<float> or array<double>.
  */
object HofVecReference {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosineHof(aF: Column, bF: Column): Column = {
    val a = toDouble(aF); val b = toDouble(bF)
    dot(a, b) / (l2norm(a) * l2norm(b))
  }

  /** Sign-bit signature of `vecF` over `planes` (see
    * TextFunctions.hyperplanes).
    */
  def lshBucket(vecF: Column, planes: Seq[Seq[Double]]): Column = {
    val v = toDouble(vecF)
    val bits = planes.map { p =>
      when(dot(v, typedLit(p)) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Banded "b-bits" keys, one per band of TextFunctions.hyperplaneBands. */
  def lshBucketBands(vecF: Column, bandPlanes: Seq[Seq[Seq[Double]]]): Column =
    array(bandPlanes.zipWithIndex.map { case (planes, b) =>
      concat(lit(s"$b-"), lshBucket(vecF, planes))
    }: _*)
}

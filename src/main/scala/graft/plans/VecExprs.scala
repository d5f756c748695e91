package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static bridge for the embedding math — compiled fused loops instead of
  * the `zip_with`/`aggregate` higher-order functions (Spark has no codegen
  * for array lambdas, so the HOF forms run interpreted and break the
  * surrounding whole-stage-codegen span; the embedding queries evaluate a
  * cosine per candidate pair and 32 plane dot products per row, so the
  * interpreter overhead dominates them).
  *
  * Every function reproduces its HOF counterpart BIT-EXACTLY — the same
  * IEEE double operations in the same sequential fold order, the same
  * null propagation (`zip_with` pads a length mismatch with null, a null
  * product nulls the fold), and Spark's null-on-zero-divisor division —
  * so every DuckDB oracle hash is unchanged by construction.
  */
object VecBridge {

  @inline private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** cosine(a, b) = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))), each dot
    * a sequential left fold from 0.0. Returns null (matching the HOF form)
    * when: lengths differ (zip_with null padding), any element is null, or
    * the denominator is exactly 0.0 (Spark's Divide yields null on a zero
    * divisor, not IEEE infinity).
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, aFloat); val y = elem(b, i, bFloat)
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    val denom = math.sqrt(daa) * math.sqrt(dbb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dab / denom)
  }

  /** Sign bit of dot(v, plane) as '1'/'0'. The HOF form is
    * `when(dot >= 0, "1").otherwise("0")`: a null dot (length mismatch or
    * null element) and a NaN dot both fail the >= test and yield '0'.
    */
  @inline private def signBit(v: ArrayData, vFloat: Boolean,
      plane: Array[Double]): Char = {
    val n = v.numElements()
    if (n != plane.length) return '0'
    var d = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return '0'
      d += elem(v, i, vFloat) * plane(i)
      i += 1
    }
    if (d >= 0) '1' else '0'
  }

  /** OR-amplified band keys: `planes.length / rowsPerBand` bands of
    * `rowsPerBand` sign bits each, key format "b-bits" (matching
    * `concat(lit(s"$b-"), bits)` in the HOF form).
    */
  def bandKeys(v: ArrayData, vFloat: Boolean, planes: Array[Array[Double]],
      rowsPerBand: Int): ArrayData = {
    val bands = planes.length / rowsPerBand
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(rowsPerBand + 4)
      sb.append(b).append('-')
      var r = 0
      while (r < rowsPerBand) {
        sb.append(signBit(v, vFloat, planes(b * rowsPerBand + r)))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }
}

private[plans] trait VecArrayInput { self: Expression =>
  protected def arrayIsFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"${self.prettyName} expects array<float> or array<double>, got $other")
  }
}

/** `cosine_sim(a, b)` — fused cosine similarity with codegen. Nullable
  * beyond its children: a length mismatch, a null element, or a zero-norm
  * input yields null (the exact HOF-form semantics), so codegen goes
  * through a boxed temp rather than `defineCodeGen`.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with VecArrayInput {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private lazy val aFloat = arrayIsFloat(left.dataType)
  private lazy val bFloat = arrayIsFloat(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecBridge.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""java.lang.Double $tmp =
         |  graft.plans.VecBridge.cosine($a, $b, $aFloat, $bFloat);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimExpr = copy(left = newLeft, right = newRight)
}

/** `hyperplane_bands(vec)` — the banded OR-amplified LSH keys
  * (array<string> of "b-bits"). The hyperplanes are regenerated
  * deterministically from (bands, rowsPerBand, dim, seed) — primitive
  * parameters, so expression equality (and therefore exchange reuse
  * across self-joins) is structural. Band b uses seed + 1000*b, matching
  * [[graft.functions.TextFunctions.hyperplaneBands]]; one band is the
  * single LSH bucket.
  */
case class HyperplaneBandsExpr(child: Expression, bands: Int,
    rowsPerBand: Int, dim: Int, seed: Long)
    extends UnaryExpression with VecArrayInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  private lazy val vFloat = arrayIsFloat(child.dataType)
  @transient private lazy val planes: Array[Array[Double]] =
    graft.functions.TextFunctions.hyperplaneBands(bands, rowsPerBand, dim, seed)
      .flatten.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any =
    VecBridge.bandKeys(input.asInstanceOf[ArrayData], vFloat, planes, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VecBridge.bandKeys($c, $vFloat, $ref, $rowsPerBand)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandsExpr =
    copy(child = newChild)
}

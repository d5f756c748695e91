package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSession
import graft.extract.Extract

/** Static bridge the generated code calls — `TextFunctions.extractTurn`
  * invokes it through Spark's StaticInvoke, so the expression
  * participates in whole-stage codegen (no interpreted fallback on the
  * hot path). A null text never reaches it: StaticInvoke returns null.
  */
object ExtractTurnBridge {
  def eval(text: UTF8String): InternalRow = {
    val e = Extract.turn(text.toString)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.docType),
      UTF8String.fromString(e.text),
      UTF8String.fromString(e.fieldsJson),
      UTF8String.fromString(e.fieldSrcJson),
      UTF8String.fromString(e.sectionsJson),
      e.signature,
      e.confidence,
      UTF8String.fromString(e.status)))
  }
}

/** `extract_turn(text)` — the fused per-turn extractor as a Catalyst
  * scalar expression returning a typed struct: the engine's one
  * extraction operator, which `ExtractJob` and the catalog project.
  * Preference path (b) of the operator policy: composes into any
  * expression pipeline (filters/projections around it stay codegen'd and
  * pushdown-able).
  *
  * Reference semantics: the full §2.5-2.8 pipeline of SURVEY.md
  * (classify -> anchors -> banks -> signature -> confidence).
  */
object ExtractTurnExpr {
  val schema: StructType = StructType(Seq(
    StructField("doc_type", StringType, nullable = false),
    StructField("extracted_text", StringType, nullable = false),
    StructField("fields", StringType, nullable = false),
    StructField("field_src", StringType, nullable = false),
    StructField("sections", StringType, nullable = false),
    StructField("signature_present", BooleanType, nullable = false),
    StructField("confidence", DoubleType, nullable = false),
    StructField("status", StringType, nullable = false)))

  /** Register `extract_turn` in the session's function registry so it is
    * usable from SQL and via `functions.call_function` — the same builder
    * [[GraftExtensions]] injects.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_turn", GraftExtensions.functions.toMap.apply("extract_turn"),
      "scala_udf")
}

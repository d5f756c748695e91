package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.DataType

/** The algebra of one bounded-state corpus summary, which [[SketchAgg]]
  * runs as a Catalyst aggregate. Sketches are case classes of their
  * parameters, so two equal builds are equal plans and exchange reuse
  * holds. `add` and `merge` update the buffer `b` in place; `add` gets a
  * non-null input value in Catalyst's internal form.
  */
trait Sketch[B] extends Serializable {
  /** SQL name, shown in plans and in the analysis error. */
  def name: String
  def accepts(t: DataType): Boolean
  /** `accepts` in words, for the analysis error ("a STRING"). */
  def inputName: String
  def dataType: DataType
  def empty: B
  def add(b: B, v: Any): Unit
  def merge(b: B, o: B): Unit
  def result(b: B): Any
  def toBytes(b: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
}

/** A [[Sketch]] as a native Catalyst TypedImperativeAggregate: one
  * bounded buffer per task, partials merged map-side and shipped through
  * the exchange as `toBytes`, no value-keyed shuffle. Null inputs are
  * skipped; a child of the wrong type fails at analysis, not in an
  * executor. The result is never null (an empty input gives the empty
  * sketch's result).
  */
case class SketchAgg[B](
    child: Expression,
    sketch: Sketch[B],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketch.accepts(child.dataType)) TypeCheckSuccess
    else TypeCheckFailure(s"${sketch.name} requires ${sketch.inputName} child, " +
      s"got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): B = sketch.empty

  override def update(b: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) sketch.add(b, v)
    b
  }

  override def merge(b: B, o: B): B = { sketch.merge(b, o); b }

  override def eval(b: B): Any = sketch.result(b)

  override def serialize(b: B): Array[Byte] = sketch.toBytes(b)
  override def deserialize(bytes: Array[Byte]): B = sketch.fromBytes(bytes)

  override def dataType: DataType = sketch.dataType
  override def nullable: Boolean = false
  override def prettyName: String = sketch.name

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAgg[B] =
    copy(child = newChild)
}

object SketchAgg {
  /** Column face: `sketch` aggregated over `c`. */
  def aggregate[B](c: Column, sketch: Sketch[B]): Column =
    column(SketchAgg(expression(c), sketch).toAggregateExpression())
}

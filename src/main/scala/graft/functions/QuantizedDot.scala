package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `quantized_dot(a, b)` → bigint — the int8 similarity hot loop.
  *
  * [[DotProduct]]'s integer twin for int8-quantized vectors
  * (array<tinyint>, the 4×-smaller storage face built by
  * [[graft.ext.Quantize]]): the fold is EXACT 64-bit integer
  * arithmetic (each product ≤ 127² = 16 129; a 2^47-element vector
  * would be needed to overflow a long), so unlike the float path
  * there is no operation-order caveat at all — any engine computing
  * the same products gets the same bigint, which is what lets the
  * DuckDB oracle replay quantized search scores bit-for-bit via its
  * double-typed `list_dot_product` (exact below 2^53).
  *
  * Null contract matches [[DotProduct]]: null array → null; a null
  * element or a length mismatch poisons the fold → null.
  */
case class QuantizedDot(left: Expression, right: Expression)
  extends BinaryExpression with StaticKernel {

  override def dataType: DataType = LongType
  override def prettyName: String = "quantized_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"quantized_dot needs (array<tinyint>, array<tinyint>), got $other")
    }

  // the fold may return null (poisoned) even for non-null inputs
  override def nullable: Boolean = true
  override protected def kernel = QuantizedDot
  override protected def method = "fold"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)
}

object QuantizedDot {

  /** Exact integer fold; boxed so null (poisoned fold) can surface. */
  def fold(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }

  def qdot(a: Column, b: Column): Column =
    GraftSql.column(QuantizedDot(GraftSql.expression(a), GraftSql.expression(b)))

}

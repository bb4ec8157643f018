package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `dot_product(a, b)` → double — the cosine hot loop of the whole
  * similarity family (brute/IVF/SRP ANN, centroid assignment).
  *
  * Replaces `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — interpreted
  * (CodegenFallback) per element — with the SAME sequential left fold
  * (`acc = acc + a(i)*b(i)`, ascending i, IEEE doubles) as a static
  * call inside whole-stage codegen, so results stay bit-identical to
  * both the HOF formulation and the columnar oracle's
  * `list_dot_product`/`list_cosine_similarity` kernels.
  *
  * Null contract matches the HOF: null array → null; a null element or
  * a length mismatch (zip_with pads with null) poisons the fold → null.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with StaticKernel {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dot_product needs (array<double>, array<double>), got $other")
    }

  // the fold may return null (a boxed Double) even for non-null inputs
  override def nullable: Boolean = true
  override protected def kernel = DotProduct
  override protected def method = "fold"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Sequential left fold; boxed so null (poisoned fold) can surface. */
  def fold(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dot(a: Column, b: Column): Column =
    GraftSql.column(DotProduct(GraftSql.expression(a), GraftSql.expression(b)))
}

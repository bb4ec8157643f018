package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling-hash (polynomial fingerprint) expression — the
  * document-fingerprinting primitive (north-star ✚; the reference's
  * nearest analog is its sha1 cache key, `plotting_impl.py:93-100`).
  *
  * h = fold(chars, 0, (h, c) => (h * 31 + c) mod (2^31 - 1))
  *
  * Implemented as a [[StaticKernel]] — the hot loop stays inside
  * whole-stage codegen as a static call, no UDF serialization, no
  * boxing, null-safe. Iteration is over UTF-16 code
  * units, which equals code points for ASCII corpora (documented
  * contract, matching the oracle's per-char ascii() fold).
  */
case class RollingHash(child: Expression) extends UnaryExpression
    with StaticKernel {

  override def dataType: DataType = LongType

  // pure function of the input → literal arguments constant-fold at
  // plan time (Catalyst's ConstantFolding picks this up for free)
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash needs a string argument, got ${child.dataType}")

  override protected def kernel = RollingHash
  override protected def method = "hash"

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Modulus: Long = 2147483647L // 2^31 - 1

  /** Static hot-loop target for both interpreted eval and codegen. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      h = (h * 31 + str.charAt(i)) % Modulus
      i += 1
    }
    h
  }
}

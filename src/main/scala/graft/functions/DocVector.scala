package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `hashed_count_vector(text, dim)` — a document's token stream
  * folded into a dense `dim`-bucket count vector in ONE pass: each
  * single-space token hashes to `md5(token)`'s first 8-hex lane mod
  * `dim` (the [[graft.ext.BloomDecontam.positions]] /
  * [[graft.ext.TextClassifier.bucket]] arithmetic — the engine's one
  * portable hash story), and the bucket counts are the vector. The
  * cheap, training-free document embedding of the classic curation
  * recipes: feed it to the k-means family
  * ([[graft.ext.Similarity.kmeansTrain]]/`assignToCentroids`) for
  * corpus TOPIC clustering, then sample per cluster for diversity
  * balancing (q137).
  *
  * Counts are doubles (the similarity family's vector element type).
  * Under the engine's split convention every document has ≥ 1 token
  * (empty text is one empty token), so the vector is never all-zero
  * — cosine against it is always defined.
  */
object DocVectorOps {
  def hashedCountVector(s: UTF8String, dim: Int): ArrayData = {
    val toks = GramOps.tokenize(s)
    val counts = new Array[Any](dim)
    var d = 0
    while (d < dim) { counts(d) = 0.0d; d += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      md.reset()
      val digest = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars = first 4 bytes, unsigned
      val lane = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      val b = (lane % dim).toInt
      counts(b) = counts(b).asInstanceOf[Double] + 1.0d
      i += 1
    }
    new GenericArrayData(counts)
  }
}

case class HashedCountVector(child: Expression, dim: Int)
    extends UnaryExpression with StaticKernel {
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "hashed_count_vector"
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string argument, got ${child.dataType}")
    else if (dim < 1 || dim > (1 << 16))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs dim in [1, 65536], got $dim")
    else TypeCheckResult.TypeCheckSuccess

  override protected def kernel = DocVectorOps
  override protected def method = "hashedCountVector"
  override protected def constants = Seq(Literal(dim))

  override protected def withNewChildInternal(newChild: Expression): HashedCountVector =
    copy(child = newChild)
}

object DocVectorFunctions {
  def hashedCountVector(text: Column, dim: Int): Column =
    GraftSql.column(HashedCountVector(GraftSql.expression(text), dim))
}

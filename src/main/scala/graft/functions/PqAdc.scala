package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `pq_adc(codes)` → double: asymmetric-distance-computation scoring
  * for product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the estimated inner
  * product `dot(q, x̂) = Σ_j dot(q_j, c_{j,code_j})` as m table
  * lookups + (m−1) adds per candidate, against a per-query table of
  * per-subspace dots precomputed ONCE on the driver (the
  * [[NearestCentroid]] reference-object pattern: the table rides the
  * plan, the row loop never touches the query or codebook vectors).
  *
  * This is PQ's whole point at 100 TB: the scan reads m small codes
  * per vector instead of D floats (m=8 longs vs 64 floats here; a
  * production layout stores them as m bytes → 32×), and scoring is
  * O(m) per candidate instead of O(D).
  *
  * Bit-portable by construction: each table entry is ONE ascending-
  * index sequential double dot (the same fold `list_dot_product`
  * runs), and the per-row sum adds subspaces in ascending j — so a
  * SQL oracle replaying `dot(q[1:d], cv_0) + dot(q[d+1:2d], cv_1) +
  * …` (left-associated) produces the IDENTICAL double.
  *
  * Null codes → null; a code id absent from the codebook → null
  * (defensive: never a wrong score).
  *
  * Not a [[StaticKernel]]: the generated code reads the per-instance
  * code and dot tables.
  */
case class PqAdc(child: Expression, cids: Array[Array[Long]],
                 dots: Array[Array[Double]])
  extends UnaryExpression {

  require(cids.length == dots.length && cids.nonEmpty,
    "pq_adc: per-subspace cid and dot tables must align")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_adc needs array<bigint> codes, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[ArrayData])

  /** Shared by eval and codegen: m lookups, ascending-j sum. */
  def score(codes: ArrayData): java.lang.Double = {
    if (codes == null || codes.numElements() != cids.length) return null
    var acc = 0.0
    var j = 0
    while (j < cids.length) {
      if (codes.isNullAt(j)) return null
      val code = codes.getLong(j)
      val row = cids(j)
      var idx = -1
      var t = 0
      while (idx < 0 && t < row.length) {
        if (row(t) == code) idx = t
        t += 1
      }
      if (idx < 0) return null
      acc += dots(j)(idx)
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("adc")
    ev.copy(code = code"""
      |${c.code}
      |java.lang.Double $boxed = ${c.isNull} ? null : $self.score(${c.value});
      |boolean ${ev.isNull} = $boxed == null;
      |double ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)

  // Case-class equality over Array fields is reference-based, which
  // would make catalyst canonicalization / semanticEquals /
  // subexpression elimination miss two semantically identical PqAdc
  // instances (the BpeModel value-equality discipline). Compare and
  // hash the table CONTENTS.
  override def equals(other: Any): Boolean = other match {
    case that: PqAdc =>
      child == that.child && cids.length == that.cids.length &&
        cids.indices.forall(j =>
          java.util.Arrays.equals(cids(j), that.cids(j)) &&
            java.util.Arrays.equals(dots(j), that.dots(j)))
    case _ => false
  }

  override def hashCode(): Int = {
    var h = child.hashCode()
    cids.indices.foreach { j =>
      h = 31 * h + java.util.Arrays.hashCode(cids(j))
      h = 31 * h + java.util.Arrays.hashCode(dots(j))
    }
    h
  }
}

object PqAdc {

  /** Build the scoring column for ONE query vector: per subspace j,
    * table entry (cid → dot(q_j, codebook vec)) with the ascending-
    * index sequential fold; cids sorted ascending per subspace (same
    * order the oracle's codebook CTE lists them — irrelevant to the
    * sum, load-bearing for none, kept deterministic anyway).
    */
  def score(codes: Column, codebooks: IndexedSeq[Seq[(Long, Array[Double])]],
            query: Array[Double]): Column = {
    val m = codebooks.size
    require(m > 0 && query.length % m == 0,
      s"pq_adc: query dim ${query.length} not divisible by m=$m")
    val dsub = query.length / m
    val cids = new Array[Array[Long]](m)
    val dots = new Array[Array[Double]](m)
    (0 until m).foreach { j =>
      val sorted = codebooks(j).sortBy(_._1).toArray
      cids(j) = sorted.map(_._1)
      dots(j) = sorted.map { case (_, cv) =>
        require(cv.length == dsub,
          s"pq_adc: subspace $j centroid dim ${cv.length} != $dsub")
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += query(j * dsub + i) * cv(i); i += 1 }
        acc
      }
    }
    GraftSql.column(PqAdc(GraftSql.expression(codes), cids, dots))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `nearest_centroid(vec)` → long: the id of the centroid with maximal
  * cosine similarity to `vec`, ties broken by SMALLER centroid id —
  * the whole k-means / IVF assignment step as ONE map-side codegen'd
  * expression over a driver-collected centroid matrix (a plan-attached
  * reference object, not a literal — the codegen'd method calls back
  * into [[NearestCentroid.best]], so the matrix never bloats generated
  * source).
  *
  * WHY an expression and not a join: the previous formulation
  * (`crossJoin(broadcast(centroids))` + `groupBy(id).agg(first(vec),
  * max_by(cid, struct(cos, -cid)))`) carried ARRAY- and STRUCT-typed
  * aggregation buffers, which Spark's HashAggregate cannot hold in its
  * unsafe row buffer — the plan silently fell back to SortAggregate
  * over the exploded (corpus × centroids) intermediate, sorting
  * 512 M boxed rows at 8 M vectors and dying on heap (measured, round
  * 12 — the ScaleTrend embedding row found it). This expression is the
  * same argmax as a per-row loop: no crossJoin blow-up, no shuffle, no
  * aggregation at all; assignment becomes a pure scan stage.
  *
  * Semantics are bit-identical to the max_by formulation it replaces:
  *  - cosine = clamp(dot/(|a|·|b|), −1, 1) with the SAME sequential
  *    left-fold dot ([[DotProduct.fold]]) and IEEE sqrt the column
  *    expression used (so DuckDB-oracle parity is preserved);
  *  - a null / zero-magnitude / length-mismatched pairing yields null
  *    cosine, which never beats a real one (struct-max null semantics);
  *  - an ARITHMETIC NaN cosine (overflowing dot, Inf/Inf, NaN
  *    components) clamps to 1.0 and wins, because Spark's greatest()
  *    orders NaN above every double — `least(greatest(NaN, -1), 1)`
  *    = 1.0 in the column form, replicated here;
  *  - ALL-null cosines (e.g. the corpus vector itself is null or
  *    zero-magnitude) fall back to the smallest centroid id — exactly
  *    where `max_by(cid, struct(null, -cid))` landed;
  *  - equal cosines keep the smaller centroid id (ascending scan with
  *    strict improvement ≡ `ORDER BY cos DESC, cid ASC` rank 1).
  *
  * Never null: the constructor requires a non-empty centroid set.
  *
  * Not a [[StaticKernel]]: the generated code reads the per-instance
  * centroid tables.
  */
case class NearestCentroid(child: Expression, ids: Array[Long],
                           vecs: Array[Array[Double]], norms: Array[Double])
  extends UnaryExpression {

  require(ids.nonEmpty, "nearest_centroid needs at least one centroid")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid needs array<double>, got $other")
  }

  // null input must still produce the all-null fallback id, so eval is
  // overridden directly instead of the null-short-circuiting nullSafeEval
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    best(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  /** The per-row argmax loop (shared by eval and codegen). */
  def best(vec: ArrayData): Long = {
    var bestId = ids(0)
    if (vec == null) return bestId
    val selfDot = DotProduct.fold(vec, vec)
    if (selfDot == null) return bestId
    val normV = math.sqrt(selfDot.doubleValue())
    var bestCos = 0.0
    var has = false
    var i = 0
    while (i < ids.length) {
      val cos = cosineOrNull(vec, normV, i)
      if (!cos.isNaN && (!has || cos > bestCos)) {
        has = true; bestCos = cos; bestId = ids(i)
      }
      i += 1
    }
    bestId
  }

  // NaN = "null cosine" sentinel (never compares greater, never wins).
  // Distinct from an ARITHMETIC NaN (overflowing dot / Inf/Inf), which
  // the column formulation's clamp maps to 1.0 — Spark's greatest()
  // orders NaN above every double, so least(greatest(NaN, -1), 1)
  // lands on 1.0 and that centroid WINS; replicated below so the
  // bit-parity contract holds on overflow inputs too (review pass r12).
  private def cosineOrNull(vec: ArrayData, normV: Double, i: Int): Double = {
    val c = vecs(i)
    if (c == null) return Double.NaN // null/element-null centroid → null cos
    // an arithmetic-NaN norm (NaN centroid component) is NOT the null
    // sentinel: it flows into denom → NaN raw → the 1.0 clamp, exactly
    // where the legacy column form lands it
    val denom = normV * norms(i)
    if (denom == 0.0) return Double.NaN
    val n = vec.numElements()
    if (c.length != n) return Double.NaN
    var acc = 0.0
    var j = 0
    while (j < n) {
      if (vec.isNullAt(j)) return Double.NaN
      acc += vec.getDouble(j) * c(j)
      j += 1
    }
    val raw = acc / denom
    if (raw.isNaN) 1.0 // legacy clamp-NaN-to-1.0 (greatest/least ordering)
    else math.min(math.max(raw, -1.0), 1.0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val self = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |long ${ev.value} = $self.best(${c.isNull} ? null : ${c.value});
       """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {

  /** Centroid-count bound for the driver collect: past this, a flat
    * broadcast argmax is the wrong index anyway (use a coarser first
    * level / two-level IVF). 64 k × 64 dims ≈ 33 MB — comfortably
    * inside driver and reference-object budgets.
    */
  val MaxCentroids: Int = 65536

  /** Build the expression from driver-side centroids (id → vector).
    * Ids are sorted ascending internally (the tie-break order);
    * per-centroid norms are precomputed with the same fold + sqrt the
    * row-side cosine uses. A null / element-null centroid vector
    * (passed as a null array) yields null cosine for every row — it
    * can only win as the all-null smallest-id fallback — matching the
    * column formulation's null semantics; its norm slot is never read.
    */
  def nearest(vec: Column, centroids: Seq[(Long, Array[Double])]): Column = {
    require(centroids.nonEmpty, "nearest_centroid needs at least one centroid")
    require(centroids.size <= MaxCentroids,
      s"nearest_centroid: ${centroids.size} centroids exceeds $MaxCentroids " +
        "(a flat broadcast argmax is the wrong index at that scale — use a " +
        "two-level IVF)")
    val sorted = centroids.sortBy(_._1).toArray
    val vecs = sorted.map(_._2)
    val norms = vecs.map { c =>
      if (c == null) Double.NaN
      else {
        var acc = 0.0; var i = 0
        while (i < c.length) { acc += c(i) * c(i); i += 1 }
        math.sqrt(acc)
      }
    }
    GraftSql.column(NearestCentroid(GraftSql.expression(vec),
      sorted.map(_._1), vecs, norms))
  }
}

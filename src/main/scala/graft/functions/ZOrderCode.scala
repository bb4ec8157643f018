package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType}

/** `zorder_code(x, y)` → long: the Morton (Z-order) interleave of two
  * non-negative 31-bit keys — x's bit i lands at output bit 2i, y's at
  * 2i+1 — so sorting by the code clusters rows that are close in BOTH
  * dimensions into the same parquet row groups. This is the
  * multi-column clustering key behind
  * [[graft.ops.Compaction.compactClustered]]: a single-column sort
  * gives perfect min/max row-group pruning on that column and none on
  * any other, while a Z-order sort trades a little pruning on each
  * dimension for real pruning on BOTH — the standard lakehouse layout
  * for tables filtered by two independent selective predicates
  * (OPTIMIZE ... ZORDER BY in the Delta/Iceberg world; here it is just
  * an expression, usable anywhere a `Column` is).
  *
  * Scale posture: the interleave is six shift/mask steps per side
  * (magic-number bit spreading), codegen'd as a static call inside
  * whole-stage codegen — clustering a 100 TB table adds a per-row cost
  * of ~12 ALU ops to the rewrite's sort, nothing to the read path.
  *
  * Contract:
  *  - inputs are longs in [0, 2^31): out-of-range values THROW
  *    (IllegalArgumentException naming the value) rather than silently
  *    fold distant keys into the same neighborhood — range-normalizing
  *    a raw column (offset negatives, quantize doubles) is the
  *    caller's explicit step, because the normalization IS the
  *    clustering resolution decision;
  *  - null if either input is null (standard binary-expression null
  *    semantics; nulls sort first in the rewrite, i.e. one "null
  *    neighborhood" at the front of the layout);
  *  - the code of (x, y) is always in [0, 2^62) — non-negative, so
  *    long ordering equals unsigned ordering and a DuckDB oracle can
  *    replay it with plain BIGINT arithmetic (a 31-term bit
  *    comprehension — see the q118 oracle).
  */
case class ZOrderCode(left: Expression, right: Expression)
  extends BinaryExpression with StaticKernel
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_code"
  override def foldable: Boolean = left.foldable && right.foldable

  // the analyzer inserts the same lossless int->long cast the Column
  // face applies, so SQL `zorder_code(int_col, ...)` behaves like
  // ZOrderCode.zorder(col, ...) instead of failing analysis
  override def inputTypes = Seq(LongType, LongType)

  override protected def kernel = ZOrderCode
  override protected def method = "interleave"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderCode =
    copy(left = newLeft, right = newRight)
}

/** N-ary Morton interleave (3+ dimensions): dimension j of k
  * contributes its bit i to output bit `i*k + j`, with `62/k` bits
  * per dimension (k=3 → 20 bits ≈ 1 M cells/dim; k=4 → 15). The 2-D
  * case stays on [[ZOrderCode]]'s magic-mask cascade (31 bits/dim and
  * branch-free spreading); this is the general form for tables
  * filtered by three or more independent selective predicates —
  * pruning per dimension keeps weakening as k grows (each dim owns
  * 1/k of the high bits), so past k≈4 prefer hierarchical sort on the
  * dominant keys. Same contract as 2-D: per-dimension range throw
  * (scale inputs with [[ZOrderCode.scaled]] — pass `bits = 62/k`),
  * null if any input is null, codes non-negative.
  *
  * Not a [[StaticKernel]]: its `doGenCode` fills a mutable scratch
  * array held once per generated class.
  */
case class ZOrderCodeN(children: Seq[Expression]) extends Expression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_code"
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def inputTypes = Seq.fill(children.size)(LongType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size < 3 || children.size > 8)
      TypeCheckResult.TypeCheckFailure(
        s"zorder_code takes 2 (binary form) or 3-8 dimensions, got " +
          s"${children.size}")
    else super.checkInputDataTypes()

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = new Array[Long](children.size)
    var j = 0
    while (j < children.size) {
      val v = children(j).eval(input)
      if (v == null) return null
      vals(j) = v.asInstanceOf[Long]
      j += 1
    }
    ZOrderCode.interleaveN(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    // one scratch array per generated class, not per row — this sits
    // inside whole-stage codegen's per-row loop
    val arr = ctx.addMutableState("long[]", "zvals",
      v => s"$v = new long[${children.size}];")
    val fill = evals.zipWithIndex.map { case (e, i) =>
      val step =
        s"""${e.code}
           |if (${e.isNull}) { ${ev.isNull} = true; }
           |else { $arr[$i] = ${e.value}; }""".stripMargin
      // short-circuit after the first null child, matching interpreted
      // eval's early return — this sits in whole-stage codegen's
      // per-row loop
      if (i == 0) step else s"if (!${ev.isNull}) {\n$step\n}"
    }.mkString("\n")
    ev.copy(code =
      code"""boolean ${ev.isNull} = false;
            |long ${ev.value} = 0L;
            |$fill
            |if (!${ev.isNull}) {
            |  ${ev.value} = graft.functions.ZOrderCode.interleaveN($arr);
            |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZOrderCodeN =
    copy(children = newChildren)
}

object ZOrderCode {

  /** Exclusive upper bound per input dimension (31 bits). */
  final val MaxKey: Long = 1L << 31

  /** Spread the low 31 bits of `v` so bit i lands at bit 2i — the
    * magic-number halving cascade (each step doubles the gap between
    * populated bit fields). Static hot-loop target for both
    * interpreted eval and codegen.
    */
  def spread(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** The Morton code of (x, y): x at even bits, y at odd. Throws on
    * out-of-range input — see the class contract.
    */
  def interleave(x: Long, y: Long): Long = {
    if (x < 0 || x >= MaxKey || y < 0 || y >= MaxKey)
      throw new IllegalArgumentException(
        s"zorder_code: key out of range [0, $MaxKey): ($x, $y) — " +
          "range-normalize the clustering columns first (offset " +
          "negatives / quantize continuous values); the normalization " +
          "is the clustering-resolution decision and must be explicit")
    spread(x) | (spread(y) << 1)
  }

  /** Exclusive per-dimension upper bound for a k-dim code: 62/k bits. */
  def maxKeyN(dims: Int): Long = 1L << (62 / dims)

  /** Place bit i of `v` (low `62/stride` bits) at output bit
    * `i*stride` — the generic spreading loop behind [[interleaveN]].
    */
  def spreadEvery(v: Long, stride: Int): Long = {
    val bits = 62 / stride
    var out = 0L
    var i = 0
    while (i < bits) {
      out |= ((v >> i) & 1L) << (i * stride)
      i += 1
    }
    out
  }

  /** k-dim Morton code: dimension j's bit i lands at output bit
    * `i*k + j`. Throws on out-of-range input, same contract as the
    * 2-D [[interleave]]. Static hot-loop target for eval and codegen.
    */
  def interleaveN(values: Array[Long]): Long = {
    val k = values.length
    require(k >= 2 && k <= 8, s"zorder_code: 2-8 dimensions, got $k")
    val max = maxKeyN(k)
    var acc = 0L
    var j = 0
    while (j < k) {
      val v = values(j)
      if (v < 0 || v >= max)
        throw new IllegalArgumentException(
          s"zorder_code: dimension $j out of range [0, $max) for " +
            s"$k dims: $v — scale inputs (ZOrderCode.scaled with " +
            s"bits = ${62 / k}) first")
      acc |= spreadEvery(v, k) << j
      j += 1
    }
    acc
  }

  /** Column face: `zorder(x, y, ...)` with long casts applied (int
    * columns pass through losslessly; the per-dimension range contract
    * tightens with arity — 31 bits at 2 dims, 62/k at k).
    */
  def zorder(cols: Column*): Column = {
    require(cols.size >= 2 && cols.size <= 8,
      s"zorder: 2-8 dimensions, got ${cols.size}")
    GraftSql.column(build(cols.map(c => GraftSql.expression(c.cast("long")))))
  }

  /** Arity-dispatching builder of the Column face and the SQL table:
    * the binary magic-mask form at 2 args, the generic interleave at
    * 3-8.
    */
  def build(exprs: Seq[Expression]): Expression =
    if (exprs.size == 2) ZOrderCode(exprs.head, exprs(1))
    else ZOrderCodeN(exprs)

  /** Rescale a bounded column into [0, 2^bits) — the normalization
    * step that makes two dimensions of DIFFERENT domain sizes
    * interleave meaningfully. Morton codes compare bit-for-bit: a key
    * spanning 18 bits interleaved with one spanning 11 bits is
    * dominated by the wide key's high bits and the sort degenerates to
    * a 1-D sort on it (observed: partkey pruned 0.0 next to orderkey
    * until both were scaled — the q119 gate's loud-check caught it).
    * Scale BOTH dimensions into the same bit-width before
    * [[zorder]]; `bits` is the clustering resolution (20 bits ≈ 1 M
    * distinguishable cells per dimension, far finer than any row-group
    * count).
    */
  def scaled(c: Column, min: Long, max: Long, bits: Int = 20): Column = {
    require(bits >= 1 && bits <= 31, s"scaled: bits out of [1, 31]: $bits")
    require(max > min, s"scaled: empty domain [$min, $max]")
    val span = max - min // inclusive width - 1
    require(span > 0,
      s"scaled: domain [$min, $max] wider than a long — rescale upstream")
    // INTEGRAL division throughout: Column./ is double division, and a
    // 2^63-magnitude numerator loses low bits to the 53-bit mantissa —
    // the rounded-up quotient lands exactly ON the grid bound (same
    // pitfall as graft.Tables' epoch-nanos `div`)
    def idiv(num: Column, den: Long): Column = GraftSql.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftSql.expression(num),
        GraftSql.expression(org.apache.spark.sql.functions.lit(den))))
    val cells = 1L << bits
    if (span < cells) {
      // narrow domain: stretch up onto the grid. Product is bounded by
      // span * cells < cells^2 <= 2^62 — no long overflow for bits <= 31.
      idiv((c.cast("long") - min) * cells, span + 1).cast("long")
    } else {
      // wide domain: DIVIDE first (multiply-first overflows a long for
      // spans beyond 2^(63-bits) — e.g. an epoch-microsecond column).
      // width > span/cells, so (c-min)/width <= span/width < cells.
      idiv(c.cast("long") - min, span / cells + 1).cast("long")
    }
  }

  /** The sorted dictionary behind [[ranked]] for a LOW-NDV string
    * column: the column's distinct non-null values in byte order,
    * collected ONCE driver-side and bounded by `maxNdv` (a loud throw
    * past it — a dictionary that large belongs on [[hashBucket]]'s
    * stateless path instead). Real curation tables cluster on string
    * keys (source, lang, url_host); this is the explicit
    * normalization step that turns one into a Morton dimension
    * without shuffling anything: the dictionary rides the plan as a
    * literal map, so the rank lookup is map-side codegen'd work.
    *
    * Sort order is UNSIGNED UTF-8 BYTE order ([[byteOrdering]]) — the
    * order parquet writes its string min/max stats in and the order
    * DuckDB's binary collation ranks by, so the footer-audit dial and
    * the oracle's `rank() OVER (ORDER BY ...)` agree with the rank
    * dimension for EVERY string, not just ASCII (Java's native String
    * order diverges on supplementary-plane characters; ADVICE r16).
    */
  def rankDictionary(df: org.apache.spark.sql.DataFrame, column: String,
                     maxNdv: Int = 4096): Seq[String] = {
    require(maxNdv > 0, s"rankDictionary: maxNdv must be positive: $maxNdv")
    require(df.schema(column).dataType ==
        org.apache.spark.sql.types.StringType,
      s"rankDictionary: '$column' must be a string column, got " +
        s"${df.schema(column).dataType} — numeric keys feed scaled/" +
        "normalized directly")
    val vals = df.select(col(column)).na.drop().distinct()
      .limit(maxNdv + 1).collect().map(_.getString(0))
    require(vals.length <= maxNdv,
      s"rankDictionary: '$column' has more than $maxNdv distinct values " +
        "— a dictionary rank is the low-NDV normalizer; use " +
        "ZOrderCode.hashBucket for high-NDV string keys")
    vals.sorted(byteOrdering).toSeq
  }

  /** Unsigned UTF-8 byte ordering — parquet's string-stats order and
    * DuckDB's binary collation, shared by [[rankDictionary]]/[[ranked]]
    * and the string footer audits ([[graft.ops.Compaction
    * .prunableFractionString]]) so the clustering rank, the pushed
    * predicate's pruning, and the oracle's `rank()` all agree on one
    * collation for any string. Java's String order matches it on
    * ASCII but diverges on supplementary-plane code points (UTF-16
    * surrogates sort below 0xE000-block chars; bytewise UTF-8 sorts
    * them above).
    */
  val byteOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val xs = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ys = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(xs.length, ys.length)
      while (i < n) {
        val d = (xs(i) & 0xff) - (ys(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      xs.length - ys.length
    }
  }

  /** Dictionary-rank normalizer for a low-NDV string column: each
    * value maps to its 0-based rank in the (sorted, distinct)
    * `dictionary`, so equal keys cluster and the rank dimension
    * preserves the key's sort order — range predicates on the string
    * prune too, not just equality. Null stays null ([[ZOrderCode]]'s
    * null neighborhood); a value NOT in the dictionary throws at scan
    * time rather than fold distant keys together silently (the same
    * loud contract as the interleave's range check — the dictionary
    * IS the clustering-domain decision). Feed the result through
    * [[scaled]]`(_, 0, dictionary.size - 1, bits)` so the rank
    * dimension lands on the same grid as its numeric partner.
    *
    * Cost shape: the literal-map lookup (`GetMapValue`) is a LINEAR
    * scan of the dictionary per row in Spark — fine at the low NDVs
    * this normalizer is for (the [[rankDictionary]] default caps at
    * 4096; the 500-NDV 32 M-row probe rewrite was sort-dominated),
    * wrong for genuinely high-NDV keys, which should take
    * [[hashBucket]]'s O(1) stateless path instead.
    */
  def ranked(c: Column, dictionary: Seq[String]): Column = {
    require(dictionary.nonEmpty, "ranked: empty dictionary")
    val sorted = dictionary.sorted(byteOrdering)
    require(sorted == dictionary,
      "ranked: dictionary must be sorted in unsigned UTF-8 byte order " +
        "(rankDictionary returns it sorted; a scrambled dictionary " +
        "would break the oracle's rank replay silently)")
    require(dictionary.distinct.size == dictionary.size,
      "ranked: dictionary has duplicate values")
    import org.apache.spark.sql.functions._
    val m = typedLit(dictionary.zipWithIndex
      .map { case (s, i) => s -> i.toLong }.toMap)
    val hit = element_at(m, c)
    when(c.isNull, lit(null).cast("long"))
      .when(hit.isNotNull, hit)
      .otherwise(raise_error(concat(
        lit("zorder ranked: value not in dictionary: "), c)).cast("long"))
  }

  /** Stateless normalizer for HIGH-NDV string keys (url_host, doc
    * uid): the first `ceil(bits/4)` hex chars of md5, shifted down to
    * exactly `bits` — uniform over [0, 2^bits), no driver state, no
    * shuffle, map-side codegen'd. Hash order is NOT key order: equal
    * keys still co-locate (the point — equality predicates prune via
    * min/max on the bucket's neighborhood plus blooms), but range
    * predicates on the raw string do not; that trade is why the
    * low-NDV path prefers [[ranked]]. md5 makes a DuckDB oracle
    * replay bit-for-bit (`CAST('0x'||substr(md5(k),1,h) AS BIGINT)`).
    */
  def hashBucket(c: Column, bits: Int = 20): Column = {
    require(bits >= 1 && bits <= 31, s"hashBucket: bits out of [1, 31]: $bits")
    import org.apache.spark.sql.functions._
    val hexChars = (bits + 3) / 4
    val v = conv(substring(md5(c), 1, hexChars), 16, 10).cast("long")
    val excess = hexChars * 4 - bits
    if (excess == 0) v else shiftright(v, excess).cast("long")
  }

  /** Range-normalize a non-negative long column with a known inclusive
    * max into [0, 2^31) by uniform right-shift: keys keep their
    * relative order and locality, just at reduced resolution. For a
    * column whose max already fits, this is the identity.
    */
  def normalized(c: Column, maxValue: Long): Column = {
    require(maxValue >= 0, s"normalized: negative maxValue $maxValue")
    var shift = 0
    var m = maxValue
    while (m >= MaxKey) { m >>= 1; shift += 1 }
    if (shift == 0) c.cast("long")
    else org.apache.spark.sql.functions.shiftright(c.cast("long"), shift)
      .cast("long")
  }
}

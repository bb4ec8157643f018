package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native token-window fingerprint expressions — the hot loops of
  * substring-level exact dedup ([[graft.ext.SubstringDedup]]): the
  * public 50-token-window method removes *repeated long substrings
  * across documents* (the suffix-array dedup of "Deduplicating
  * Training Data Makes Language Models Better"; document-level exact +
  * MinHash/LSH dedup is `ext/Dedup`'s family — this is the
  * sub-document one it doesn't cover).
  *
  * Both stay inside whole-stage codegen as static calls (the
  * `GramOps` lesson: higher-order `transform`/`filter` compositions
  * are CodegenFallback and cost an interpreted expression-tree walk
  * per element).
  *
  * Hash arithmetic (shared contract with the DuckDB oracle, which
  * replays it bit-for-bit in BIGINT): the window fingerprint is TWO
  * independent 31-bit polynomial folds packed into one 62-bit long —
  * `wh = w1 * 2^31 + w2`, where for lane j ∈ {1, 2}:
  *  - token hash `t_j` = `fold(chars, 0, (h, c) => (h * m_j + c)
  *    mod 2^31-1)` with char multipliers m_1 = 31 (q41's
  *    oracle-portable fold) and m_2 = 131;
  *  - window hash `w_j` over the k token hashes =
  *    `fold(t_j, 0, (h, t) => (h * B_j + t) mod 2^31-1)` with window
  *    bases B_1 = 1000003, B_2 = 999983.
  * WHY two lanes: a single 31-bit fingerprint is sound at gate scale
  * but BIRTHDAY-collides systematically at corpus scale — at 8 M
  * docs (~10^8 windows) the expected colliding pairs are ~10^6, and
  * the first ScaleTrend run measured the damage: ~19 M tokens
  * scrubbed spuriously. Two independent lanes put the per-pair odds
  * at ~2^-62 (expected collisions at 10^8 windows: ~3·10^-3) while
  * every intermediate stays BIGINT-replayable: per-lane bound
  * (M-1)·B < 2^51, packed bound < 2^62.
  * The implementation computes windows by ROLLING update — O(1) per
  * window after the first instead of O(k) — which is an algebraic
  * rearrangement mod M of the fold, so the values are identical; the
  * oracle replays the plain folds per window (O(n·k) at gate scale,
  * irrelevant there).
  *
  * Tokenization is [[GramOps.tokenize]]: split on single spaces,
  * empty tokens kept — identical to `split(text, " ")` and DuckDB's
  * `string_split(text, ' ')`, and join-back with ' ' round-trips the
  * original text exactly.
  */
object WindowHashOps {

  /** Lane window-fold bases: each small enough that (M-1)*B fits a
    * long/BIGINT, large (> M^(1/2)) enough that distinct windows
    * rarely collide per lane — and a collision only merges two spans
    * CONSISTENTLY on both engines (the packed hash IS the equality
    * relation on both sides).
    */
  final val Base: Long = 1000003L
  final val Base2: Long = 999983L

  /** Lane-2 char multiplier (lane 1 is RollingHash's 31). */
  final val CharMul2: Long = 131L

  private final val M = RollingHash.Modulus // 2^31 - 1

  private def tokenHash(tok: String, mul: Long): Long = {
    var h = 0L
    var i = 0
    while (i < tok.length) {
      h = (h * mul + tok.charAt(i)) % M
      i += 1
    }
    h
  }

  /** All k-token window fingerprints of `s` in token order (index i =
    * the window starting at token i; value = the packed two-lane
    * 62-bit code); empty array when the document has fewer than k
    * tokens. One pass: 2n token hashes + rolling updates.
    */
  def windowHashes(s: UTF8String, k: Int): ArrayData = {
    val toks = GramOps.tokenize(s)
    val n = toks.length
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val t1 = new Array[Long](n)
    val t2 = new Array[Long](n)
    var i = 0
    while (i < n) {
      t1(i) = tokenHash(toks(i), 31L)
      t2(i) = tokenHash(toks(i), CharMul2)
      i += 1
    }
    // pow_j = B_j^(k-1) mod M — the weight the leaving token carries
    var pow1 = 1L; var pow2 = 1L
    i = 1
    while (i < k) { pow1 = (pow1 * Base) % M; pow2 = (pow2 * Base2) % M; i += 1 }
    val out = new Array[Any](m)
    var h1 = 0L; var h2 = 0L
    i = 0
    while (i < k) {
      h1 = (h1 * Base + t1(i)) % M
      h2 = (h2 * Base2 + t2(i)) % M
      i += 1
    }
    out(0) = (h1 << 31) + h2
    var p = 1
    while (p < m) {
      var x1 = (h1 - (t1(p - 1) * pow1) % M) % M
      if (x1 < 0) x1 += M
      h1 = (x1 * Base + t1(p + k - 1)) % M
      var x2 = (h2 - (t2(p - 1) * pow2) % M) % M
      if (x2 < 0) x2 += M
      h2 = (x2 * Base2 + t2(p + k - 1)) % M
      out(p) = (h1 << 31) + h2
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Remove every token covered by any window `[s, s+k)` for a start
    * in `starts`, and re-join the survivors with ' ' — ONE linear
    * merge-sweep over (tokens, sorted starts), O(n + |starts|), no
    * per-token span scan. Returns (clean_text, n_tokens,
    * removed_tokens). `starts` need not be sorted or deduped (a
    * defensive sort keeps the contract order-free — shuffles upstream
    * must not change the output).
    */
  def removeSpans(s: UTF8String, starts: ArrayData, k: Int): InternalRow = {
    val toks = GramOps.tokenize(s)
    val n = toks.length
    val m = starts.numElements()
    val st = new Array[Long](m)
    var i = 0
    while (i < m) { st(i) = starts.getLong(i); i += 1 }
    java.util.Arrays.sort(st)
    val sb = new java.lang.StringBuilder
    var kept = 0
    var coveredUntil = -1L // last token index covered by any seen span
    var j = 0
    i = 0
    while (i < n) {
      while (j < m && st(j) <= i) {
        val end = st(j) + k - 1
        if (end > coveredUntil) coveredUntil = end
        j += 1
      }
      if (i > coveredUntil) {
        if (kept > 0) sb.append(' ')
        sb.append(toks(i))
        kept += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), n.toLong, (n - kept).toLong))
  }
}

/** `token_window_hashes(text, k)` → array<long> of the k-token window
  * fingerprints in position order.
  */
case class TokenWindowHashes(child: Expression, k: Int) extends UnaryExpression
    with StaticKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_window_hashes"
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string argument, got ${child.dataType}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override protected def kernel = WindowHashOps
  override protected def method = "windowHashes"
  override protected def constants = Seq(Literal(k))

  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashes =
    copy(child = newChild)
}

/** `remove_token_spans(text, starts, k)` → struct(clean_text string,
  * n_tokens long, removed_tokens long): the span-removal sweep of
  * [[WindowHashOps.removeSpans]] as one codegen'd expression.
  */
case class RemoveTokenSpans(left: Expression, right: Expression, k: Int)
  extends BinaryExpression with StaticKernel {

  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("removed_tokens", LongType, nullable = false)))
  override def prettyName: String = "remove_token_spans"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (string, array<long>), got ${left.dataType} first")
    else right.dataType match {
      case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case _ if k < 1 =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1, got $k")
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (string, array<long>), got $other second")
    }

  override protected def kernel = WindowHashOps
  override protected def method = "removeSpans"
  override protected def constants = Seq(Literal(k))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveTokenSpans =
    copy(left = newLeft, right = newRight)
}

object WindowHashFunctions {

  /** Column faces (no registry needed). */
  def tokenWindowHashes(text: Column, k: Int): Column =
    GraftSql.column(TokenWindowHashes(GraftSql.expression(text), k))

  def removeTokenSpans(text: Column, starts: Column, k: Int): Column =
    GraftSql.column(RemoveTokenSpans(
      GraftSql.expression(text), GraftSql.expression(starts), k))
}

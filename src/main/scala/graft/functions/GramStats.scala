package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram expressions — the hot loop of the text-quality
  * family (q54 vocab, q55 decontamination, q56 repetition; north-star
  * ✚ over the reference's text handling, `utils/io_helpers.py:5-9`).
  *
  * The previous implementation composed `transform(sequence(...))`
  * higher-order functions, which are CodegenFallback in Spark — every
  * gram cost an interpreted expression-tree walk (measured: q56 at
  * sf0.1 spent ~100 s on 32 cores building 3-gram arrays twice). These
  * expressions do one pass per document inside whole-stage codegen via
  * a static call: tokenize once, emit grams (or just their counts)
  * with zero per-gram expression dispatch.
  *
  * Tokenization contract: split on single spaces, empty tokens kept —
  * identical to Spark's `split(text, " ")` (regex, limit -1) and
  * DuckDB's `string_split(text, ' ')`, so oracle parity is exact.
  * Grams are the '_'-joined token windows, matching the oracle's
  * `w[i]||'_'||w[i+1]` shape (distinctness is over the joined string,
  * collisions-by-design identical on both engines).
  */
object GramOps {

  /** Split on ' ' keeping empty tokens (== split(text," ") limit -1). */
  def tokenize(s: UTF8String): Array[String] = {
    val str = s.toString
    var count = 1
    var i = 0
    while (i < str.length) { if (str.charAt(i) == ' ') count += 1; i += 1 }
    val out = new Array[String](count)
    var start = 0
    var idx = 0
    i = 0
    while (i < str.length) {
      if (str.charAt(i) == ' ') {
        out(idx) = str.substring(start, i); idx += 1; start = i + 1
      }
      i += 1
    }
    out(idx) = str.substring(start)
    out
  }

  private def gram(toks: Array[String], i: Int, n: Int, sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append('_')
      sb.append(toks(i + k))
      k += 1
    }
    sb.toString
  }

  /** All '_'-joined n-grams, duplicates kept; empty array when the
    * document has fewer than n tokens.
    */
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(s)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      out(i) = UTF8String.fromString(gram(toks, i, n, sb))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** (total, distinct) n-gram counts in ONE pass — q56's repetition
    * signal without materializing the gram array at all.
    */
  def stats(s: UTF8String, n: Int): InternalRow = {
    val toks = tokenize(s)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericInternalRow(Array[Any](0L, 0L))
    val seen = new java.util.HashSet[String](math.min(m * 2, 1 << 16))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      seen.add(gram(toks, i, n, sb))
      i += 1
    }
    new GenericInternalRow(Array[Any](m.toLong, seen.size.toLong))
  }

  /** (total_grams, distinct_grams, top_gram_chars, dup_gram_chars) in
    * ONE tokenize+count pass — the Gopher repetition-rule signals
    * ([[graft.ext.RepetitionRules]]):
    *
    *   - `top_gram_chars` = characters covered by the most frequent
    *     n-gram = maxCount × len(gram). Count ties resolve to the
    *     LONGEST tied gram — the returned product is then unique, so
    *     no further tie-break is needed (the value, not the winning
    *     gram, is the signal).
    *   - `dup_gram_chars` = Σ over grams occurring ≥ 2 times of
    *     count × len(gram) — the published occurrence-count coverage
    *     form (positional-union coverage would need per-position
    *     bookkeeping; the occurrence form is what the public
    *     reimplementations compute and is exactly SQL-replayable).
    *
    * Lengths are code POINTS (DuckDB `length()` semantics), and the
    * '_'-joined gram is char-for-char as long as the space-joined
    * text window it came from, so the fractions match the published
    * "fraction of characters" intent.
    */
  def repStats(s: UTF8String, n: Int): InternalRow = {
    val toks = tokenize(s)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L))
    val counts =
      new java.util.HashMap[String, Integer](math.min(m * 2, 1 << 16))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      val g = gram(toks, i, n, sb)
      val prev = counts.get(g)
      counts.put(g, if (prev == null) 1 else prev.intValue + 1)
      i += 1
    }
    var maxCount = 0
    var top = 0L
    var dup = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.intValue
      val g = e.getKey
      val chars = c.toLong * g.codePointCount(0, g.length)
      if (c > maxCount) { maxCount = c; top = chars }
      else if (c == maxCount && chars > top) top = chars
      if (c >= 2) dup += chars
    }
    new GenericInternalRow(Array[Any](m.toLong, counts.size.toLong, top, dup))
  }
}

private[functions] trait GramExpr extends UnaryExpression with StaticKernel {
  def n: Int
  override protected def kernel = GramOps
  override protected def constants = Seq(Literal(n))
  override def foldable: Boolean = child.foldable
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string argument, got ${child.dataType}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs n >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess
}

/** `word_ngrams(text, n)` → array<string> of '_'-joined grams. */
case class WordNGrams(child: Expression, n: Int) extends GramExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def method = "ngrams"

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

/** `gram_stats(text, n)` → struct(total_grams long, distinct_grams
  * long) — both counts in one tokenize pass, no gram array built.
  */
case class GramStats(child: Expression, n: Int) extends GramExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("total_grams", LongType, nullable = false),
    StructField("distinct_grams", LongType, nullable = false)))
  override def prettyName: String = "gram_stats"

  override protected def method = "stats"

  override protected def withNewChildInternal(newChild: Expression): GramStats =
    copy(child = newChild)
}

/** `gram_rep_stats(text, n)` → struct(total_grams, distinct_grams,
  * top_gram_chars, dup_gram_chars) — the Gopher repetition signals in
  * one tokenize+count pass, no gram array built.
  */
case class GramRepStats(child: Expression, n: Int) extends GramExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("total_grams", LongType, nullable = false),
    StructField("distinct_grams", LongType, nullable = false),
    StructField("top_gram_chars", LongType, nullable = false),
    StructField("dup_gram_chars", LongType, nullable = false)))
  override def prettyName: String = "gram_rep_stats"

  override protected def method = "repStats"

  override protected def withNewChildInternal(newChild: Expression): GramRepStats =
    copy(child = newChild)
}

object GramFunctions {

  /** Column-level entry points (no registry needed). */
  def wordNgrams(text: Column, n: Int): Column =
    GraftSql.column(WordNGrams(GraftSql.expression(text), n))

  def gramStats(text: Column, n: Int): Column =
    GraftSql.column(GramStats(GraftSql.expression(text), n))

  def gramRepStats(text: Column, n: Int): Column =
    GraftSql.column(GramRepStats(GraftSql.expression(text), n))
}

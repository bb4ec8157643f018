package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Vocabulary-scale BPE model: the ranked merge table as a
  * plan-attached reference object (the [[NearestCentroid]] pattern —
  * the driver artifact rides the plan; per-row work is a tight JVM
  * loop), running the REFERENCE min-rank merge loop per word. It is
  * the one BPE kernel: [[graft.ext.BpeTokenizer]] runs it in word mode
  * on the small oracle-replayable tables, and production tables
  * (GPT-2-class, 32 k–100 k merges) use it directly. The table is a
  * hash map, so plan size is O(1) in the vocabulary.
  *
  * Semantics (the loop every public BPE implementation runs): a word
  * starts as its code-point sequence; repeatedly find the
  * LOWEST-RANKED adjacent pair present and merge ALL its occurrences
  * left-to-right non-overlapping; stop when no adjacent pair is in
  * the table. BpeSegmentSpec pins this equal to an independent
  * min-rank reference, to the oracle's rank-sequential replace chain
  * on consistent tables (the proof that the two agree is in
  * BpeTokenizer's scaladoc) and to hand-derived segmentations on the
  * boundary cases the r17 bug got wrong.
  *
  * Two pretokenization modes:
  *  - `byteLevel = false`: words are the text split on single spaces
  *    (empty words dropped) — the oracle's word stream,
  *    `list_filter(string_split(text, ' '), x -> x <> '')`; the base
  *    alphabet is code points.
  *  - `byteLevel = true`: words are `' ?[^ ]+'` matches (each word
  *    carries its preceding space, the GPT-2 pretokenizer shape for
  *    the space-only boundary), and the base alphabet is the word's
  *    UTF-8 BYTES mapped through the printable byte↔char bijection
  *    ([[BpeModel.byteToChar]]) — so CJK / emoji / no-whitespace text
  *    segments into byte-level subwords instead of one giant opaque
  *    "word", and segmentation stays a pure function of bytes that a
  *    SQL oracle can replay (hex-expand + 256-row mapping table).
  *
  * A per-thread LRU memo caches word → token-count/segmentation:
  * natural-language corpora repeat words heavily (Zipf), so at 8 M
  * docs the loop runs once per DISTINCT word per executor thread, not
  * once per occurrence.
  */
final class BpeModel(val merges: Seq[(String, String)],
                     val byteLevel: Boolean,
                     val pretokenRegex: Option[String] = None)
  extends Serializable {
  // An EMPTY table is legal (unlike BpeTokenizer's): segmentation is
  // then the bare base alphabet — the trainer's iteration-0 state.
  require(merges.size <= BpeModel.MaxMerges,
    s"BpeModel: ${merges.size} merges exceeds ${BpeModel.MaxMerges}")

  /** rank lookup keyed `left + '\u0000' + right` (symbols never
    * contain NUL: guarded below).
    */
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(l.nonEmpty && r.nonEmpty, s"BpeModel: empty side in merge $i")
      require(!l.contains("\u0000") && !r.contains("\u0000"),
        s"BpeModel: merge $i contains NUL")
      m.putIfAbsent(l + "\u0000" + r, i)
    }
    m
  }

  @transient private lazy val mergeArr: Array[(String, String)] =
    merges.toArray

  private def rankOf(l: String, r: String): Int = {
    val v = rank.get(l + "\u0000" + r)
    if (v == null) Int.MaxValue else v.intValue()
  }

  /** The reference min-rank loop over an initial symbol sequence. */
  private def mergeLoop(init: Array[String]): Array[String] = {
    var parts = init
    var continue = parts.length > 1
    while (continue) {
      var best = Int.MaxValue
      var i = 0
      while (i < parts.length - 1) {
        val r = rankOf(parts(i), parts(i + 1))
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        val (l, r) = mergeArr(best)
        val out = new Array[String](parts.length)
        var n = 0
        var j = 0
        while (j < parts.length) {
          if (j < parts.length - 1 && parts(j) == l && parts(j + 1) == r) {
            out(n) = l + r; n += 1; j += 2
          } else {
            out(n) = parts(j); n += 1; j += 1
          }
        }
        parts = java.util.Arrays.copyOf(out, n)
        if (n < 2) continue = false
      }
    }
    parts
  }

  private def baseSymbols(word: String): Array[String] =
    if (byteLevel) {
      val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new Array[String](bytes.length)
      var i = 0
      while (i < bytes.length) {
        out(i) = BpeModel.byteStr(bytes(i) & 0xff); i += 1
      }
      out
    } else {
      val n = word.codePointCount(0, word.length)
      val out = new Array[String](n)
      var i = 0
      var ci = 0
      while (i < n) {
        val cp = word.codePointAt(ci)
        out(i) = new String(Character.toChars(cp))
        ci += Character.charCount(cp)
        i += 1
      }
      out
    }

  // Per-thread LRU word memo (the expression object is one per plan,
  // shared across executor threads — ThreadLocal keeps it lock-free).
  @transient private lazy val memo
      : ThreadLocal[java.util.LinkedHashMap[String, Array[String]]] =
    ThreadLocal.withInitial { () =>
      new java.util.LinkedHashMap[String, Array[String]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[String]]): Boolean =
          size() > BpeModel.MemoSize
      }
    }

  /** One pretokenized word → its subword tokens. */
  def segmentWord(word: String): Array[String] = {
    val m = memo.get()
    val hit = m.get(word)
    if (hit != null) hit
    else {
      val toks = mergeLoop(baseSymbols(word))
      m.put(word, toks)
      toks
    }
  }

  // custom pretokenizer, compiled once per deserialized model.
  // RESTRICTED to the java.regex ∩ RE2 subset by convention (the q98
  // portability rule): an oracle replays the same pattern through
  // regexp_extract_all, so no lookaround/backreferences.
  @transient private lazy val pretokenPattern
      : Option[java.util.regex.Pattern] =
    pretokenRegex.map(java.util.regex.Pattern.compile)

  /** Pretokenize a document into words (mode-dependent, see class
    * doc; an explicit `pretokenRegex` — e.g.
    * [[BpeModel.Gpt2ishPretokenizer]] — overrides both defaults).
    * Word mode is `filter(split(text, " "), _ =!= "")`.
    */
  def preTokenize(text: String): Array[String] = pretokenPattern match {
    case Some(p) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val mt = p.matcher(text)
      while (mt.find()) out += mt.group()
      out.toArray
    case None if byteLevel =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val mt = BpeModel.ByteLevelWord.matcher(text)
      while (mt.find()) out += mt.group()
      out.toArray
    case None => text.split(" ", -1).filter(_.nonEmpty)
  }

  def tokensOf(text: String): Array[String] = {
    val words = preTokenize(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < words.length) {
      val t = segmentWord(words(i))
      var j = 0
      while (j < t.length) { out += t(j); j += 1 }
      i += 1
    }
    out.toArray
  }

  /** Pretokenized words in the model's WORKING alphabet: raw words in
    * code-point mode; byte-mapped strings in byte mode (so a trainer
    * vocabulary built from these re-segments in plain word mode).
    */
  def wordsOf(text: String): Array[String] = {
    val ws = preTokenize(text)
    if (!byteLevel) ws
    else ws.map { w =>
      val bs = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val sb = new java.lang.StringBuilder(bs.length)
      var i = 0
      while (i < bs.length) {
        sb.append(BpeModel.byteToChar(bs(i) & 0xff)); i += 1
      }
      sb.toString
    }
  }

  def countOf(text: String): Long = {
    val words = preTokenize(text)
    var acc = 0L
    var i = 0
    while (i < words.length) { acc += segmentWord(words(i)).length; i += 1 }
    acc
  }

  // Value equality on the model definition (expression trees compare
  // by case-class equality; the transient lookups don't participate).
  override def equals(other: Any): Boolean = other match {
    case o: BpeModel => o.merges == merges && o.byteLevel == byteLevel &&
      o.pretokenRegex == pretokenRegex
    case _ => false
  }
  override def hashCode(): Int =
    (merges, byteLevel, pretokenRegex).hashCode()
}

object BpeModel {

  /** Production ceiling — GPT-2-class tables are 50 k; 256 k leaves
    * headroom for byte-level 100 k-merge vocabularies.
    */
  val MaxMerges: Int = 262144

  /** Per-thread word-memo entries (tokens arrays are tiny). */
  val MemoSize: Int = 65536

  /** GPT-2's printable byte↔char bijection (public knowledge —
    * bytes_to_unicode in the released encoder): the 188 bytes that
    * are already printable non-space characters map to themselves
    * ('!'..'~', '¡'..'¬', '®'..'ÿ'); the other 68 (controls, space,
    * 0x7f–0xa0, 0xad) map to U+0100 + running index. Every byte gets
    * a distinct printable char, so byte-level symbols are plain
    * strings a SQL oracle can carry and compare.
    */
  val byteToChar: Array[Char] = {
    val self = (('!' to '~') ++ ('¡' to '¬') ++
      ('®' to 'ÿ')).map(_.toInt).toSet
    val out = new Array[Char](256)
    var next = 256
    var b = 0
    while (b < 256) {
      if (self.contains(b)) out(b) = b.toChar
      else { out(b) = next.toChar; next += 1 }
      b += 1
    }
    out
  }

  private val byteStrs: Array[String] = byteToChar.map(_.toString)

  def byteStr(b: Int): String = byteStrs(b)

  /** Byte-level pretokenizer: each word carries its preceding space
    * (GPT-2's space-attachment shape restricted to the 0x20 boundary,
    * so the oracle can replay it with one portable regex).
    */
  private[functions] val ByteLevelWord =
    java.util.regex.Pattern.compile(" ?[^ ]+")

  /** GPT-2's published pretokenizer, restricted to the
    * java.regex ∩ RE2 subset: English contractions split off, then
    * space-attached letter runs / digit runs / other runs, then
    * whitespace runs. ONE documented deviation from the original —
    * the `\s+(?!\S)` lookahead (keep the last space of a gap with the
    * following word) is dropped because RE2 has no lookaround, so a
    * multi-space gap stays one whitespace token instead of splitting;
    * every match class else is verbatim. Total-coverage: the four
    * classes partition any text, so token bytes reassemble the
    * document exactly.
    *
    * Whitespace is the EXPLICIT class `[ \t\n\x0B\f\r]` — exactly
    * java.regex's `\s` — rather than the `\s` shorthand, because
    * RE2's `\s` omits \x0B (vertical tab): the shorthand would make
    * the Spark face and the DuckDB oracle replay diverge on text
    * containing \x0B (the q98 portability rule: spell out any class
    * whose shorthand differs between the engines).
    */
  val Gpt2ishPretokenizer: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+"

  /** GPT-2's published pretokenizer EXACT mode — the `\s+(?!\S)`
    * lookahead restored (keep the LAST space of a multi-space gap
    * attached to the following word; "a  b" → ["a", " ", " b"] where
    * the portable mode yields ["a", "  ", "b"]). java.regex supports
    * the lookahead; RE2 does not, so this preset is NATIVE-ONLY — no
    * SQL oracle can replay it (BpeSegmentSpec pins it against a
    * hand-computed battery instead; q150 keeps gating the portable
    * face). Whitespace stays the explicit java-\s class, same as the
    * portable preset.
    */
  val Gpt2ExactPretokenizer: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+" +
      "|[ \\t\\n\\x0B\\f\\r]+(?![^ \\t\\n\\x0B\\f\\r])" +
      "|[ \\t\\n\\x0B\\f\\r]+"
}

/** `bpe_tokens(text)` → array<string>: per-document subword tokens
  * under a vocabulary-scale model. Null text → null.
  *
  * Not a [[StaticKernel]] (nor are [[BpeWords]], [[BpeTokenCount]]):
  * its generated code calls back into the model reference, which keeps
  * a per-thread memo.
  */
case class BpeSegment(child: Expression, model: BpeModel)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens needs string, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    tokensData(input.asInstanceOf[UTF8String])

  /** Shared by eval and codegen. */
  def tokensData(text: UTF8String): GenericArrayData = {
    val toks = model.tokensOf(text.toString)
    val arr = new Array[AnyRef](toks.length)
    var i = 0
    while (i < toks.length) {
      arr(i) = UTF8String.fromString(toks(i)); i += 1
    }
    new GenericArrayData(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeSegment", this,
      classOf[BpeSegment].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.tokensData($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegment =
    copy(child = newChild)
}

/** `bpe_words(text)` → array<string>: the model's pretokenized words
  * in its working alphabet (raw words / byte-mapped strings) — the
  * trainer's vocabulary unit. Null text → null. Not a
  * [[StaticKernel]]: the call needs the model reference and its
  * per-thread memo.
  */
case class BpeWords(child: Expression, model: BpeModel)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_words"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_words needs string, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    wordsData(input.asInstanceOf[UTF8String])

  /** Shared by eval and codegen. */
  def wordsData(text: UTF8String): GenericArrayData = {
    val ws = model.wordsOf(text.toString)
    val arr = new Array[AnyRef](ws.length)
    var i = 0
    while (i < ws.length) { arr(i) = UTF8String.fromString(ws(i)); i += 1 }
    new GenericArrayData(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeWords", this,
      classOf[BpeWords].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.wordsData($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeWords =
    copy(child = newChild)
}

/** `bpe_token_count(text)` → long: the token count without
  * materializing the array (the budgeting hot path). Null text → null.
  * Not a [[StaticKernel]]: the call needs the model reference and its
  * per-thread memo.
  */
case class BpeTokenCount(child: Expression, model: BpeModel)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count needs string, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    countOf(input.asInstanceOf[UTF8String])

  /** Shared by eval and codegen. */
  def countOf(text: UTF8String): Long = model.countOf(text.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeCount", this,
      classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.countOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeSegment {

  /** Column faces. `byteLevel = false` is the code-point word mode
    * [[graft.ext.BpeTokenizer]] runs; `byteLevel = true` is the
    * production byte-alphabet mode.
    */
  def tokens(text: Column, merges: Seq[(String, String)],
             byteLevel: Boolean = false,
             pretokenRegex: Option[String] = None): Column =
    GraftSql.column(BpeSegment(GraftSql.expression(text),
      new BpeModel(merges, byteLevel, pretokenRegex)))

  def tokenCount(text: Column, merges: Seq[(String, String)],
                 byteLevel: Boolean = false,
                 pretokenRegex: Option[String] = None): Column =
    GraftSql.column(BpeTokenCount(GraftSql.expression(text),
      new BpeModel(merges, byteLevel, pretokenRegex)))

  /** Pretokenized words in the working alphabet (trainer vocab). */
  def words(text: Column, byteLevel: Boolean = false,
            pretokenRegex: Option[String] = None): Column =
    GraftSql.column(BpeWords(GraftSql.expression(text),
      new BpeModel(Nil, byteLevel, pretokenRegex)))
}

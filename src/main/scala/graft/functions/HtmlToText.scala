package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML → text extraction (north-star ✚) — the missing link inside
  * the crawl seam: WARC response bodies are HTML, and every published
  * curation pipeline (C4, RefinedWeb) strips tags/scripts/styles
  * BEFORE any quality signal; run the q136 operators on raw markup
  * and every downstream statistic (token counts, quality thresholds,
  * dedup keys) is skewed by tag soup.
  *
  * Pure-JVM single-pass tolerant lexer — no external parser, no DOM
  * (a 100 TB extractor is a map-side scan, not a tree build):
  *
  *  - `<script>`/`<style>` content is ELIDED to the matching
  *    case-insensitive close tag (their content is CDATA-like: a
  *    `<p>` inside confuses neither the elision nor the output);
  *  - comments `<!-- … -->`, doctype/`<!…>`, and `<?…?>` processing
  *    instructions are elided (an unterminated comment elides to
  *    EOF — the tolerant reading of an unclosed construct);
  *  - every other tag is dropped; tag attributes are scanned
  *    QUOTE-AWARE, so `href="q?a>b"` does not end the tag early;
  *  - BLOCK-level tags (open or close: p, div, br, li, h1–h6, tr,
  *    title, … — [[HtmlText.BlockTags]]) are line boundaries; inline
  *    tags (a, b, span, em, …) contribute nothing;
  *  - character references are decoded in text: named
  *    (`&amp; &lt; &gt; &quot; &apos;`, plus `&nbsp;` → plain space),
  *    decimal `&#65;` and hex `&#x41;`; an invalid reference is kept
  *    literally (tolerant, never throws);
  *  - a stray `<` not followed by `[A-Za-z]`, `/`, `!` or `?` is
  *    literal text (`a < b` survives un-eaten);
  *  - within a line, runs of `[ \t\n\x0B\f\r]` collapse to one space
  *    and the line is trimmed (HTML whitespace collapsing, restricted
  *    to the java∩RE2-portable class so the oracle can replay it);
  *    empty lines are dropped; lines join with `\n`.
  *
  * The output is deterministic text — same bytes on every engine —
  * so the q151 gate can build HTML from `documents.text` with a known
  * template and the DuckDB oracle can state the expected extraction
  * relationally (entity round-trip included: the builder escapes
  * `& < >`, the extractor decodes them back).
  *
  * Scale shape: one codegen'd expression call per document — fuses
  * into the scan that reads the body, no UDF, no shuffle, O(doc)
  * memory.
  */
object HtmlText {

  /** Tags whose open/close is a line boundary (HTML block-level
    * elements + `br`/`hr` + table/list structure + `title`).
    */
  val BlockTags: Set[String] = Set(
    "address", "article", "aside", "blockquote", "body", "br",
    "caption", "dd", "details", "dialog", "div", "dl", "dt",
    "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup",
    "hr", "html", "li", "main", "nav", "ol", "option", "p", "pre",
    "section", "summary", "table", "tbody", "td", "tfoot", "th",
    "thead", "title", "tr", "ul")

  /** Tags whose CONTENT is elided (raw-text elements). */
  val RawTextTags: Set[String] = Set("script", "style")

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ")

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
      c == '\f' || c == '\r'

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9')

  /** Index just past the tag's unquoted '>', or end of input. */
  private def skipTagFrom(html: String, from: Int): Int = {
    val n = html.length
    var i = from
    var quote: Char = 0
    while (i < n) {
      val c = html.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i + 1
      i += 1
    }
    n
  }

  /** Lower-cased tag name starting at `from`. */
  private def tagNameAt(html: String, from: Int): String = {
    val n = html.length
    var i = from
    val sb = new java.lang.StringBuilder
    while (i < n && isNameChar(html.charAt(i))) {
      sb.append(Character.toLowerCase(html.charAt(i))); i += 1
    }
    sb.toString
  }

  /** Index just past `</name …>` (case-insensitive), or end. */
  private def rawTextEnd(html: String, from: Int, name: String): Int = {
    val n = html.length
    var i = from
    val target = "</" + name
    while (i < n) {
      if (html.charAt(i) == '<' && i + target.length <= n &&
          html.regionMatches(true, i, target, 0, target.length)) {
        val after = i + target.length
        if (after >= n || isWs(html.charAt(after)) ||
            html.charAt(after) == '>' || html.charAt(after) == '/')
          return skipTagFrom(html, after)
      }
      i += 1
    }
    n
  }

  /** Parse a character reference at `amp` (index of '&'): returns the
    * decoded string and the index just past it, or null when invalid
    * (caller keeps '&' literally). ONE definition of the entity
    * grammar — the text path and the attribute decoder both use it.
    */
  private def parseEntity(s: String, amp: Int): (String, Int) = {
    val n = s.length
    var i = amp + 1
    if (i < n && s.charAt(i) == '#') {
      i += 1
      val hex = i < n && (s.charAt(i) == 'x' || s.charAt(i) == 'X')
      if (hex) i += 1
      val start = i
      var cp = 0L
      while (i < n && i - start < 7 && {
        val c = s.charAt(i)
        if (hex) (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F')
        else c >= '0' && c <= '9'
      }) {
        val c = s.charAt(i)
        val d = if (c <= '9') c - '0'
                else (Character.toLowerCase(c) - 'a') + 10
        cp = cp * (if (hex) 16 else 10) + d
        i += 1
      }
      if (i > start && i < n && s.charAt(i) == ';' &&
          cp >= 1 && cp <= 0x10FFFF &&
          !(cp >= 0xD800 && cp <= 0xDFFF))
        (new String(Character.toChars(cp.toInt)), i + 1)
      else null
    } else {
      val start = i
      while (i < n && i - start < 8 && Character.isLetter(s.charAt(i)))
        i += 1
      if (i > start && i < n && s.charAt(i) == ';')
        NamedEntities.get(s.substring(start, i)) match {
          case Some(d) => (d, i + 1)
          case None => null
        }
      else null
    }
  }

  /** Decode character references in an attribute value (same entity
    * grammar as text; invalid references stay literal).
    */
  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') parseEntity(s, i) match {
        case null => out.append('&'); i += 1
        case (d, next) => out.append(d); i = next
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Extract text from `html` under the contract above. */
  def extract(html: String): String = {
    val n = html.length
    val out = new java.lang.StringBuilder
    val line = new java.lang.StringBuilder
    var pendingSpace = false

    def emit(c: Char): Unit =
      if (isWs(c)) { if (line.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { line.append(' '); pendingSpace = false }
        line.append(c)
      }

    def emitCodePoint(cp: Int): Unit =
      if (cp <= 0xFFFF) emit(cp.toChar)
      else {
        // supplementary code points are never whitespace in the
        // portable class — append directly (with any pending space)
        if (pendingSpace) { line.append(' '); pendingSpace = false }
        line.appendCodePoint(cp)
      }

    def flush(): Unit = {
      if (line.length > 0) {
        if (out.length > 0) out.append('\n')
        out.append(line)
        line.setLength(0)
      }
      pendingSpace = false
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.regionMatches(i, "<!--", 0, 4)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else i = skipTagFrom(html, i + 2)
        } else if (c1 == '?') i = skipTagFrom(html, i + 2)
        else if (c1 == '/') {
          if (i + 2 < n && Character.isLetter(html.charAt(i + 2))) {
            val name = tagNameAt(html, i + 2)
            i = skipTagFrom(html, i + 2)
            if (BlockTags.contains(name)) flush()
          } else { emit('<'); i += 1 }
        } else if (Character.isLetter(c1)) {
          val name = tagNameAt(html, i + 1)
          i = skipTagFrom(html, i + 1)
          if (RawTextTags.contains(name)) i = rawTextEnd(html, i, name)
          if (BlockTags.contains(name)) flush()
        } else { emit('<'); i += 1 }
      } else if (c == '&') {
        parseEntity(html, i) match {
          case null => emit('&'); i += 1
          case (d, next) => d.foreach(emit); i = next
        }
      } else { emit(c); i += 1 }
    }
    flush()
    out.toString
  }

  /** Per-BLOCK extraction with link-char counts — the input the
    * boilerplate classifier ([[graft.ext.Boilerplate]]) needs: the
    * SAME lexer and line semantics as [[extract]] (block tags are
    * line boundaries, whitespace collapses, entities decode, raw-text
    * elements and comments elide), but each nonempty line is emitted
    * as `(text, link_chars)` where `link_chars` counts the characters
    * of the line that were emitted while inside an `<a>…</a>` run
    * (a collapsed space is attributed to the anchor state at the
    * moment it is appended — i.e. to the character that follows it).
    * `extract(html)` ≡ `blocks(html).map(_._1).mkString("\n")`,
    * pinned executably over the extraction battery (BoilerplateSpec).
    * The lexer loop is deliberately a SECOND COPY of [[extract]]'s
    * rather than a shared callback-parameterized one: extract is the
    * measured 0.57 G chars/s hot path (BASELINE §HTML→text) and stays
    * allocation-free per line, while this face pays the per-block
    * tuple; the equivalence pin is what keeps the copies honest.
    */
  def blocks(html: String): Array[(String, Int)] = {
    val n = html.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val line = new java.lang.StringBuilder
    var linkChars = 0
    var anchorDepth = 0
    var pendingSpace = false

    def emit(c: Char): Unit =
      if (isWs(c)) { if (line.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) {
          line.append(' ')
          if (anchorDepth > 0) linkChars += 1
          pendingSpace = false
        }
        line.append(c)
        if (anchorDepth > 0) linkChars += 1
      }

    def emitCodePoint(cp: Int): Unit =
      if (cp <= 0xFFFF) emit(cp.toChar)
      else {
        if (pendingSpace) {
          line.append(' ')
          if (anchorDepth > 0) linkChars += 1
          pendingSpace = false
        }
        line.appendCodePoint(cp)
        if (anchorDepth > 0) linkChars += Character.charCount(cp)
      }

    def flush(): Unit = {
      if (line.length > 0) {
        out += ((line.toString, linkChars))
        line.setLength(0)
      }
      linkChars = 0
      pendingSpace = false
      // block boundaries are where link density is measured (the
      // jusText contract): an anchor left open across a flush — nav
      // markup routinely never closes its <a> — must not poison every
      // following block's chars into link chars (ADVICE r20; the
      // re-open cap above bounds depth, not the leak)
      anchorDepth = 0
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.regionMatches(i, "<!--", 0, 4)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else i = skipTagFrom(html, i + 2)
        } else if (c1 == '?') i = skipTagFrom(html, i + 2)
        else if (c1 == '/') {
          if (i + 2 < n && Character.isLetter(html.charAt(i + 2))) {
            val name = tagNameAt(html, i + 2)
            i = skipTagFrom(html, i + 2)
            if (name == "a" && anchorDepth > 0) anchorDepth -= 1
            if (BlockTags.contains(name)) flush()
          } else { emit('<'); i += 1 }
        } else if (Character.isLetter(c1)) {
          val name = tagNameAt(html, i + 1)
          i = skipTagFrom(html, i + 1)
          // HTML5 no-nested-anchors rule: an <a> open while one is
          // open implicitly closes it, so depth never exceeds 1 — an
          // unclosed anchor in nav markup must not poison the rest of
          // the document into link chars
          if (name == "a") anchorDepth = 1
          if (RawTextTags.contains(name)) i = rawTextEnd(html, i, name)
          if (BlockTags.contains(name)) flush()
        } else { emit('<'); i += 1 }
      } else if (c == '&') {
        parseEntity(html, i) match {
          case null => emit('&'); i += 1
          case (d, next) =>
            var j = 0
            while (j < d.length) {
              val ch = d.charAt(j)
              if (Character.isHighSurrogate(ch) && j + 1 < d.length)
                { emitCodePoint(d.codePointAt(j)); j += 2 }
              else { emit(ch); j += 1 }
            }
            i = next
        }
      } else { emit(c); i += 1 }
    }
    flush()
    out.toArray
  }

  def blocksU(html: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      blocks(html.toString).map { case (text, lc) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](UTF8String.fromString(text), lc))
      }: Array[Any])

  /** Extracted `<a href>` targets in document order — the crawl
    * FRONTIER seam (URL discovery): same tolerant lexer, but instead
    * of text it captures the href attribute of every anchor OPEN tag,
    * entity-decoded (hrefs routinely carry `&amp;`). Links inside
    * elided regions (script/style content, comments, doctype/PI) are
    * NOT extracted — boilerplate markup must not mint frontier URLs.
    * Unquoted, single- and double-quoted attribute values all parse;
    * anchors without an href contribute nothing. No URL resolution
    * here — relative links stay relative (resolution needs the base
    * URL, a join-side concern; [[graft.ext.UrlOps]] normalizes).
    */
  def links(html: String): Array[String] = {
    val n = html.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.regionMatches(i, "<!--", 0, 4)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else i = skipTagFrom(html, i + 2)
        } else if (c1 == '?') i = skipTagFrom(html, i + 2)
        else if (c1 == '/') i =
          if (i + 2 < n && Character.isLetter(html.charAt(i + 2)))
            skipTagFrom(html, i + 2)
          else i + 1
        else if (Character.isLetter(c1)) {
          val name = tagNameAt(html, i + 1)
          if (name == "a") {
            val (href, next) = findHref(html, i + 1 + name.length)
            if (href != null) out += decodeEntities(href)
            i = next
          } else {
            i = skipTagFrom(html, i + 1)
            if (RawTextTags.contains(name)) i = rawTextEnd(html, i, name)
          }
        } else i += 1
      } else i += 1
    }
    out.toArray
  }

  /** Scan a tag's attributes from `from` (just past the tag name) to
    * its unquoted '>': returns (href value or null, index past tag).
    * Quoted values may contain '>' and whitespace; bare values end at
    * whitespace or '>'.
    */
  private def findHref(html: String, from: Int): (String, Int) = {
    val n = html.length
    var i = from
    var href: String = null
    while (i < n) {
      while (i < n && isWs(html.charAt(i))) i += 1
      if (i >= n) return (href, n)
      val c = html.charAt(i)
      if (c == '>') return (href, i + 1)
      if (c == '/' || c == '=') { i += 1 }
      else {
        val nameStart = i
        while (i < n && !isWs(html.charAt(i)) && html.charAt(i) != '=' &&
               html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
        val name = html.substring(nameStart, i)
        while (i < n && isWs(html.charAt(i))) i += 1
        var value: String = null
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && isWs(html.charAt(i))) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            val vStart = i + 1
            i += 1
            while (i < n && html.charAt(i) != q) i += 1
            value = html.substring(vStart, math.min(i, n))
            if (i < n) i += 1
          } else {
            val vStart = i
            while (i < n && !isWs(html.charAt(i)) && html.charAt(i) != '>')
              i += 1
            value = html.substring(vStart, i)
          }
        }
        if (href == null && name.equalsIgnoreCase("href") && value != null)
          href = value
      }
    }
    (href, n)
  }

  def extractU(html: UTF8String): UTF8String =
    UTF8String.fromString(extract(html.toString))

  def linksU(html: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      links(html.toString).map(UTF8String.fromString): Array[Any])
}

/** `html_to_text(html)` → string: the extracted text (see
  * [[HtmlText]]). Null html → null.
  */
case class HtmlToText(child: Expression) extends UnaryExpression
    with StaticKernel {

  override def dataType: DataType = StringType
  override def prettyName: String = "html_to_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"html_to_text needs string, got $other")
  }

  override protected def kernel = HtmlText
  override protected def method = "extractU"

  override protected def withNewChildInternal(newChild: Expression): HtmlToText =
    copy(child = newChild)
}

/** `html_links(html)` → array<string>: href targets of anchor tags in
  * document order (see [[HtmlText.links]]). Null html → null.
  */
case class HtmlLinks(child: Expression) extends UnaryExpression
    with StaticKernel {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "html_links"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"html_links needs string, got $other")
  }

  override protected def kernel = HtmlText
  override protected def method = "linksU"

  override protected def withNewChildInternal(newChild: Expression): HtmlLinks =
    copy(child = newChild)
}

/** `html_blocks(html)` → array<struct<text string, link_chars int>>:
  * per-block extraction with link-char counts (see
  * [[HtmlText.blocks]]). Null html → null.
  */
case class HtmlBlocks(child: Expression) extends UnaryExpression
    with StaticKernel {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text", StringType,
          nullable = false),
        org.apache.spark.sql.types.StructField("link_chars",
          org.apache.spark.sql.types.IntegerType, nullable = false))),
      containsNull = false)
  override def prettyName: String = "html_blocks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"html_blocks needs string, got $other")
  }

  override protected def kernel = HtmlText
  override protected def method = "blocksU"

  override protected def withNewChildInternal(newChild: Expression): HtmlBlocks =
    copy(child = newChild)
}

object HtmlToTextFunctions {

  /** Column-level entry points. */
  def htmlToText(html: Column): Column =
    GraftSql.column(HtmlToText(GraftSql.expression(html)))

  def htmlLinks(html: Column): Column =
    GraftSql.column(HtmlLinks(GraftSql.expression(html)))

  def htmlBlocks(html: Column): Column =
    GraftSql.column(HtmlBlocks(GraftSql.expression(html)))
}

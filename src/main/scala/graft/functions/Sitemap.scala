package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** sitemaps.org XML parsing — the crawl frontier's OTHER seed source
  * (robots.txt `Sitemap:` lines point here; the REP makes them
  * group-independent, [[RobotsRules.sitemaps]]): a `<urlset>` lists
  * page URLs with optional `<lastmod>`/`<priority>`, a
  * `<sitemapindex>` lists further sitemap URLs to recurse. Like the
  * HTML extractor this is a single-pass TOLERANT scanner, not an XML
  * library: real-web sitemaps carry namespace prefixes, comments,
  * CDATA, stray whitespace and truncation, and a seed pass must
  * mine what it can rather than reject the file. Handled: comments
  * (elided), CDATA sections (taken verbatim), the five XML named
  * entities + numeric character references, namespace-prefixed tag
  * names (matched by local name), whitespace-trimmed element text,
  * first-occurrence-wins for repeated children, entries without a
  * `<loc>` dropped.
  *
  * Scale shape: one codegen'd expression call per fetched sitemap
  * body — parsing fuses into the scan that reads the fetch results,
  * exactly like [[HtmlToText]]; the per-host fan-out to entries is
  * the ordinary `explode`.
  */
object Sitemap {

  /** One parsed entry: `kind` is "url" (a page, from `<urlset>`) or
    * "sitemap" (a nested sitemap, from `<sitemapindex>`); `lastmod` /
    * `priority` are the raw trimmed strings ("" when absent) — date
    * parsing is a downstream concern.
    */
  final case class Entry(kind: String, loc: String, lastmod: String,
                         priority: String)

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** XML's five named entities; numeric refs handled separately. */
  private def named(name: String): String = name match {
    case "amp"  => "&"
    case "lt"   => "<"
    case "gt"   => ">"
    case "quot" => "\""
    case "apos" => "'"
    case _      => null
  }

  /** Decode entities in element text (already CDATA-spliced). */
  private def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i + 1 && semi - i <= 12) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try { out.appendCodePoint(Integer.parseInt(body.substring(2), 16)); i = semi + 1 }
            catch { case _: Exception => out.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try { out.appendCodePoint(Integer.parseInt(body.substring(1))); i = semi + 1 }
            catch { case _: Exception => out.append(c); i += 1 }
          } else {
            val d = named(body)
            if (d != null) { out.append(d); i = semi + 1 }
            else { out.append(c); i += 1 }
          }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Local tag name at `from` (after '<' or '</'), lowercased,
    * namespace prefix stripped.
    */
  private def localNameAt(xml: String, from: Int): String = {
    var i = from
    val sb = new java.lang.StringBuilder
    while (i < xml.length && xml.charAt(i) != '>' && !isWs(xml.charAt(i)) &&
        xml.charAt(i) != '/') {
      sb.append(Character.toLowerCase(xml.charAt(i)))
      i += 1
    }
    val s = sb.toString
    val colon = s.indexOf(':')
    if (colon >= 0) s.substring(colon + 1) else s
  }

  /** Quote-aware tag skip (same contract as the HTML lexer's): an
    * unescaped '>' inside a quoted attribute value is legal XML and
    * must not terminate the tag.
    */
  private def skipTag(xml: String, from: Int): Int = {
    var i = from
    var quote: Char = 0
    while (i < xml.length) {
      val c = xml.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i + 1
      i += 1
    }
    i
  }

  /** Parse a sitemap document into its entries, document order. */
  def entries(xml: String): Array[Entry] = {
    val n = xml.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var kind: String = null          // inside <url> / <sitemap>
    var loc, lastmod, priority = ""
    var field: String = null         // inside <loc>/<lastmod>/<priority>
    // `text` holds the current run of ORDINARY character data (entity-
    // decoded when the run closes); `value` the assembled element text
    // with CDATA runs spliced in VERBATIM — decoding a CDATA section
    // would break the one thing CDATA exists to protect
    val text = new java.lang.StringBuilder
    val value = new java.lang.StringBuilder

    def flushRun(): Unit =
      if (text.length > 0) { value.append(decode(text.toString)); text.setLength(0) }

    def closeField(): Unit = {
      if (field != null) {
        flushRun()
        val v = value.toString.trim
        field match {
          case "loc"      => if (loc.isEmpty) loc = v
          case "lastmod"  => if (lastmod.isEmpty) lastmod = v
          case "priority" => if (priority.isEmpty) priority = v
        }
      }
      field = null
      text.setLength(0)
      value.setLength(0)
    }
    def closeEntry(): Unit = {
      closeField()
      if (kind != null && loc.nonEmpty)
        out += Entry(kind, loc, lastmod, priority)
      kind = null; loc = ""; lastmod = ""; priority = ""
    }

    var i = 0
    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        if (xml.regionMatches(i, "<!--", 0, 4)) {
          val end = xml.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (xml.regionMatches(i, "<![CDATA[", 0, 9)) {
          val end = xml.indexOf("]]>", i + 9)
          val stop = if (end < 0) n else end
          if (field != null) { flushRun(); value.append(xml, i + 9, stop) }
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (xml.charAt(i + 1) == '?' ||
            xml.charAt(i + 1) == '!')) {
          i = skipTag(xml, i + 2)
        } else if (i + 1 < n && xml.charAt(i + 1) == '/') {
          val name = localNameAt(xml, i + 2)
          i = skipTag(xml, i + 2)
          name match {
            case "url" | "sitemap"              => closeEntry()
            case "loc" | "lastmod" | "priority" => closeField()
            case _                              => ()
          }
        } else if (i + 1 < n && Character.isLetter(xml.charAt(i + 1))) {
          val name = localNameAt(xml, i + 1)
          val e = skipTag(xml, i + 1)
          val selfClosing = e - 2 >= i && e - 2 < n && xml.charAt(e - 2) == '/'
          i = e
          name match {
            case "url" | "sitemap" =>
              closeEntry() // tolerate a missing close before the next open
              if (!selfClosing) kind = name
            case "loc" | "lastmod" | "priority" if kind != null =>
              closeField()
              if (!selfClosing) field = name
            case _ => ()
          }
        } else { if (field != null) text.append(c); i += 1 }
      } else {
        if (field != null) text.append(c)
        i += 1
      }
    }
    closeEntry() // tolerate truncation mid-entry
    out.toArray
  }

  /** The [[SitemapEntries]] kernel. */
  def entriesArrayData(xml: UTF8String): ArrayData =
    new GenericArrayData(entries(xml.toString).map { e =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.kind), UTF8String.fromString(e.loc),
        UTF8String.fromString(e.lastmod),
        UTF8String.fromString(e.priority)))
    }: Array[Any])
}

/** `sitemap_entries(xml)` → array<struct<kind, loc, lastmod,
  * priority>> (see [[Sitemap.entries]]). Null xml → null.
  */
case class SitemapEntries(child: Expression) extends UnaryExpression
    with StaticKernel {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("loc", StringType, nullable = false),
    StructField("lastmod", StringType, nullable = false),
    StructField("priority", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "sitemap_entries"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sitemap_entries needs string, got $other")
  }

  override protected def kernel = Sitemap
  override protected def method = "entriesArrayData"

  override protected def withNewChildInternal(
      newChild: Expression): SitemapEntries = copy(child = newChild)
}

object SitemapFunctions {

  /** Column-level entry point. */
  def sitemapEntries(xml: Column): Column =
    GraftSql.column(SitemapEntries(GraftSql.expression(xml)))
}

package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC 3986 reference resolution (north-star ✚) — the step between
  * link EXTRACTION ([[HtmlText.links]], which deliberately passes
  * relative hrefs through untouched) and frontier NORMALIZATION
  * ([[graft.ext.UrlOps.normalizeUrl]]): a crawler that skips it mints
  * wrong frontier keys for every `../x`, `./x`, bare-relative,
  * absolute-path and network-path link on the web — which is MOST
  * anchor targets on real pages.
  *
  * Implements §5.2 of the RFC exactly (strict variant — a reference
  * carrying the base's own scheme is still treated as absolute),
  * including:
  *  - §5.2.3 path merge (base-with-authority-and-empty-path ⇒
  *    `/` + ref path; else replace the base path's last segment);
  *  - §5.2.4 remove_dot_segments, applied to the merged path AND to
  *    absolute references' own paths (the RFC's abnormal examples:
  *    over-popping `../` at the root is absorbed, `.`/`..` only count
  *    as dot segments when they are a WHOLE segment — `g.`, `..g`
  *    pass through);
  *  - query/fragment inheritance rules (empty reference keeps the
  *    base query; `?y` replaces it; the fragment is always the
  *    reference's own).
  *
  * The entire §5.4 example battery (normal + abnormal) is pinned in
  * UrlResolveSpec. ASCII URLs by design — same stance as
  * [[graft.ext.UrlOps]] (IDN/percent-decoding out of scope).
  *
  * Scale shape: one codegen'd expression call per link — fuses into
  * the projection that explodes `html_links`, no UDF boxing, no
  * shuffle, O(url) memory. The oracle replays the merge relationally
  * and dot-segment removal as a fixed-point recursive CTE (q161).
  */
object UrlResolve {

  /** null fields = "not defined" in the RFC sense; an empty string is
    * defined-but-empty (e.g. `?` with nothing after it).
    */
  private final case class Parts(scheme: String, authority: String,
                                 path: String, query: String,
                                 fragment: String)

  private def isSchemeChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'

  private def parse(uri: String): Parts = {
    var rest = uri
    var fragment: String = null
    val h = rest.indexOf('#')
    if (h >= 0) { fragment = rest.substring(h + 1); rest = rest.substring(0, h) }
    var scheme: String = null
    // scheme ends at the first ':' and must precede any '/' or '?';
    // its first char is a letter and the rest scheme chars — else the
    // ':' belongs to the path (e.g. "./a:b") and no scheme is present
    val c = rest.indexOf(':')
    if (c > 0) {
      val stop = rest.indexWhere(ch => ch == '/' || ch == '?')
      val head = rest.substring(0, c)
      if ((stop < 0 || c < stop) && head.charAt(0).isLetter &&
          head.forall(isSchemeChar)) {
        scheme = head.toLowerCase
        rest = rest.substring(c + 1)
      }
    }
    var authority: String = null
    if (rest.startsWith("//")) {
      var i = 2
      while (i < rest.length && rest.charAt(i) != '/' &&
             rest.charAt(i) != '?') i += 1
      authority = rest.substring(2, i)
      rest = rest.substring(i)
    }
    var query: String = null
    val q = rest.indexOf('?')
    if (q >= 0) { query = rest.substring(q + 1); rest = rest.substring(0, q) }
    Parts(scheme, authority, rest, query, fragment)
  }

  /** §5.2.4 — remove `.` / `..` segments the way a filesystem-free
    * URI consumer must: `..` pops the last emitted segment, a `..`
    * with nothing to pop is absorbed, and `.`/`..` are only special
    * as complete segments.
    */
  def removeDotSegments(path: String): String = {
    val out = new java.lang.StringBuilder
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../") || in == "/..") {
        in = "/" + (if (in == "/..") "" else in.substring(4))
        val i = out.lastIndexOf("/")
        out.setLength(if (i < 0) 0 else i)
      }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.charAt(0) == '/') 1 else 0
        val next = in.indexOf('/', start)
        if (next < 0) { out.append(in); in = "" }
        else { out.append(in, 0, next); in = in.substring(next) }
      }
    }
    out.toString
  }

  /** §5.2.3 — merge a relative path into the base. */
  private def merge(base: Parts, refPath: String): String =
    if (base.authority != null && base.path.isEmpty) "/" + refPath
    else {
      val i = base.path.lastIndexOf('/')
      if (i < 0) refPath else base.path.substring(0, i + 1) + refPath
    }

  /** §5.2.2 transform + §5.3 recomposition. */
  def resolve(base: String, ref: String): String = {
    val b = parse(base)
    val r = parse(ref)
    val t =
      if (r.scheme != null)
        r.copy(path = removeDotSegments(r.path))
      else if (r.authority != null)
        r.copy(scheme = b.scheme, path = removeDotSegments(r.path))
      else if (r.path.isEmpty)
        b.copy(query = if (r.query != null) r.query else b.query,
          fragment = r.fragment)
      else if (r.path.startsWith("/"))
        Parts(b.scheme, b.authority, removeDotSegments(r.path),
          r.query, r.fragment)
      else
        Parts(b.scheme, b.authority, removeDotSegments(merge(b, r.path)),
          r.query, r.fragment)
    val sb = new java.lang.StringBuilder
    if (t.scheme != null) { sb.append(t.scheme); sb.append(':') }
    if (t.authority != null) { sb.append("//"); sb.append(t.authority) }
    sb.append(t.path)
    if (t.query != null) { sb.append('?'); sb.append(t.query) }
    if (t.fragment != null) { sb.append('#'); sb.append(t.fragment) }
    sb.toString
  }

  def resolveU(base: UTF8String, ref: UTF8String): UTF8String =
    UTF8String.fromString(resolve(base.toString, ref.toString))
}

/** `resolve_url(base, href)` → string: RFC 3986 §5.2 reference
  * resolution (see [[UrlResolve]]). Null in either input → null.
  */
case class ResolveUrlExpr(left: Expression, right: Expression)
  extends BinaryExpression with StaticKernel {

  override def dataType: DataType = StringType
  override def prettyName: String = "resolve_url"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"resolve_url needs (string, string), got $other")
    }

  override protected def kernel = UrlResolve
  override protected def method = "resolveU"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResolveUrlExpr =
    copy(left = newLeft, right = newRight)
}

object ResolveUrlFunctions {

  /** Column-level entry point. */
  def resolveUrl(base: Column, href: Column): Column =
    GraftSql.column(ResolveUrlExpr(
      GraftSql.expression(base), GraftSql.expression(href)))
}

package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt parsing (REP, RFC 9309 restricted to the prefix-rule
  * subset) — the crawl POLITENESS seam: a fetcher must not request
  * paths the host's robots.txt disallows for its user agent. At
  * corpus scale robots files are one PER HOST (potentially millions),
  * so parsing is a map-side EXPRESSION over a (host, robots_txt)
  * frame, not driver work; the allow/disallow election over URLs is
  * a broadcast join + one aggregation ([[graft.ext.Robots]]).
  *
  * Grammar handled (the deployed-web subset, tolerantly):
  *  - `field: value` lines; field names case-insensitive; `#` starts
  *    a comment; blank/malformed lines are skipped;
  *  - consecutive `User-agent` lines share one group; a `User-agent`
  *    line AFTER rules starts a new group; rules before any group are
  *    ignored (RFC: rules outside a group have no effect);
  *  - group selection for an agent: groups whose product token
  *    equals the agent case-insensitively (all of them — RFC says
  *    combine); else the `*` groups; else no rules (everything
  *    allowed);
  *  - `Allow`/`Disallow` values are PATH PATTERNS; an empty value is
  *    "no restriction" and contributes no rule (the traditional
  *    `Disallow:` = allow-all reading). A pattern without `*`/`$` is
  *    a plain path prefix; `*` matches any character run (including
  *    empty) and a trailing `$` anchors the match to the path's end
  *    ([[repMatches]] — the RFC 9309 wildcard grammar);
  *  - decision ([[graft.ext.Robots]]): the most specific matching
  *    rule wins, specificity = the pattern's OCTET LENGTH (the RFC's
  *    most-octets rule, counting `*`/`$` — the deterministic reading
  *    the common implementations use); on a length tie Allow wins;
  *    no matching rule ⇒ allowed.
  */
object RobotsRules {

  /** Parsed prefix rules of `content` for `agent`: (allow, prefix)
    * pairs in file order.
    */
  def rulesFor(content: String, agent: String): Array[(Boolean, String)] = {
    final case class Group(agents: List[String],
                           rules: List[(Boolean, String)])
    var groups = List.empty[Group]
    var curAgents = List.empty[String]
    var curRules = List.empty[(Boolean, String)]
    var inRules = false
    var open = false
    def flush(): Unit = {
      if (open) groups = Group(curAgents.reverse, curRules.reverse) :: groups
      curAgents = Nil; curRules = Nil; inRules = false; open = false
    }
    content.split("\r?\n", -1).foreach { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h < 0) raw else raw.substring(0, h)
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (line.nonEmpty && colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (inRules) flush()
            open = true
            curAgents = value.toLowerCase :: curAgents
          case "allow" | "disallow" if open =>
            inRules = true
            if (value.nonEmpty)
              curRules = (field == "allow", value) :: curRules
          case _ => () // crawl-delay, sitemap, unknown fields: skipped
        }
      }
    }
    flush()
    val all = groups.reverse
    val a = agent.toLowerCase
    val exact = all.filter(_.agents.contains(a))
    val chosen = if (exact.nonEmpty) exact
                 else all.filter(_.agents.contains("*"))
    chosen.flatMap(_.rules).toArray
  }

  /** `Sitemap:` URLs of the file — group-independent per the REP
    * (they seed the frontier regardless of agent).
    */
  def sitemaps(content: String): Array[String] =
    content.split("\r?\n", -1).flatMap { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h < 0) raw else raw.substring(0, h)
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (colon > 0 &&
          line.substring(0, colon).trim.equalsIgnoreCase("sitemap")) {
        val v = line.substring(colon + 1).trim
        if (v.nonEmpty) Some(v) else None
      } else None
    }

  /** The `Crawl-delay` (whole seconds) of the group matched exactly
    * like [[rulesFor]]'s selection — the politeness pacing knob; None
    * when no matched group carries one (or the value is not a
    * non-negative integer). When several matched groups carry one,
    * the smallest wins (most conservative).
    */
  def crawlDelay(content: String, agent: String): Option[Long] = {
    // a second small pass with the same group grammar as rulesFor
    var curAgents = List.empty[String]
    var inRules = false
    var open = false
    var groups = List.empty[(List[String], List[Long])]
    var curDelays = List.empty[Long]
    def flush(): Unit = {
      if (open) groups = (curAgents.reverse, curDelays.reverse) :: groups
      curAgents = Nil; curDelays = Nil; inRules = false; open = false
    }
    content.split("\r?\n", -1).foreach { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h < 0) raw else raw.substring(0, h)
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (line.nonEmpty && colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (inRules) flush()
            open = true
            curAgents = value.toLowerCase :: curAgents
          case "allow" | "disallow" if open => inRules = true
          case "crawl-delay" if open =>
            // does NOT set inRules: rulesFor skips Crawl-delay via its
            // catch-all, so a User-agent line after one JOINS the open
            // group there — group membership must agree between the
            // two passes (pinned in RobotsRulesSpec)
            value.toLongOption.filter(_ >= 0)
              .foreach(d => curDelays = d :: curDelays)
          case _ => ()
        }
      }
    }
    flush()
    val all = groups.reverse
    val a = agent.toLowerCase
    val exact = all.filter(_._1.contains(a))
    val chosen = if (exact.nonEmpty) exact else all.filter(_._1.contains("*"))
    chosen.flatMap(_._2) match {
      case Nil => None
      case ds => Some(ds.min)
    }
  }

  /** RFC 9309 rule match: does `pattern` match `path`? Without a
    * trailing `$` the pattern must match a PREFIX of the path (the
    * traditional prefix rule, generalized); with one, the match must
    * consume the whole path. `*` matches any character run, empty
    * included. No regex machinery — a linear scan with leftmost
    * placement of each literal chunk (leftmost is complete for
    * existence: a `*` absorbs anything a later placement would).
    */
  def repMatches(path: String, pattern: String): Boolean = {
    val anchored = pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '$'
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val segs = pat.split("\\*", -1)
    if (!path.startsWith(segs(0))) return false
    var pos = segs(0).length
    if (segs.length == 1) return !anchored || pos == path.length
    var i = 1
    while (i < segs.length - 1) {
      val s = segs(i)
      if (s.nonEmpty) {
        val idx = path.indexOf(s, pos)
        if (idx < 0) return false
        pos = idx + s.length
      }
      i += 1
    }
    val last = segs(segs.length - 1)
    if (anchored) path.length - last.length >= pos && path.endsWith(last)
    else last.isEmpty || path.indexOf(last, pos) >= 0
  }

  // byte-level pattern[s, e) occurrence search in path[from, ...) —
  // returns the byte index or -1. Exact on UTF-8: a valid UTF-8
  // needle can only byte-match at codepoint boundaries.
  private def byteIndexOf(path: UTF8String, from: Int,
                          pattern: UTF8String, s: Int, e: Int): Int = {
    val n = e - s
    val limit = path.numBytes - n
    var i = from
    while (i <= limit) {
      var j = 0
      while (j < n && path.getByte(i + j) == pattern.getByte(s + j)) j += 1
      if (j == n) return i
      i += 1
    }
    -1
  }

  /** [[repMatches]] over UTF8String, allocation-free — the wildcard
    * election's join condition evaluates it O(urls × rules) times, and
    * the String face materialized two java.lang.String copies per
    * probe (ADVICE r20). Byte-level is exact: `*` and `$` are ASCII
    * (never UTF-8 continuation bytes), literal-chunk byte equality ≡
    * char equality on valid UTF-8, and all positions are compared in
    * one consistent unit. Pinned equal to the String face by the
    * RobotsSpec property sweep.
    */
  def repMatches(path: UTF8String, pattern: UTF8String): Boolean = {
    val pn = pattern.numBytes
    val anchored = pn > 0 && pattern.getByte(pn - 1) == '$'.toByte
    val patEnd = if (anchored) pn - 1 else pn
    val plen = path.numBytes
    val star = '*'.toByte
    // first segment: pattern[0, s1)
    var s1 = 0
    while (s1 < patEnd && pattern.getByte(s1) != star) s1 += 1
    if (s1 > plen) return false
    var k = 0
    while (k < s1) {
      if (path.getByte(k) != pattern.getByte(k)) return false
      k += 1
    }
    var pos = s1
    if (s1 == patEnd) return !anchored || pos == plen
    // middle segments between stars; the segment after the LAST star
    // is handled by the anchored/unanchored tail below
    var segStart = s1 + 1
    var lastStart = -1
    while (lastStart < 0) {
      var idx = segStart
      while (idx < patEnd && pattern.getByte(idx) != star) idx += 1
      if (idx == patEnd) lastStart = segStart
      else {
        if (idx > segStart) {
          val i = byteIndexOf(path, pos, pattern, segStart, idx)
          if (i < 0) return false
          pos = i + (idx - segStart)
        }
        segStart = idx + 1
      }
    }
    val lastLen = patEnd - lastStart
    if (anchored) {
      if (plen - lastLen < pos) return false
      var j = 0
      while (j < lastLen) {
        if (path.getByte(plen - lastLen + j) != pattern.getByte(lastStart + j))
          return false
        j += 1
      }
      true
    } else lastLen == 0 || byteIndexOf(path, pos, pattern, lastStart, patEnd) >= 0
  }

  /** The [[RobotsRulesExpr]] kernel. */
  def rulesArrayData(content: UTF8String, agent: UTF8String): ArrayData =
    new GenericArrayData(rulesFor(content.toString, agent.toString).map {
      case (allow, prefix) => new GenericInternalRow(
        Array[Any](allow, UTF8String.fromString(prefix)))
    }: Array[Any])

  /** The [[RobotsCrawlDelayExpr]] kernel: the delay, or null when none
    * applies (an absent delay is a data outcome, not a null input).
    */
  def crawlDelayOrNull(content: UTF8String, agent: UTF8String): java.lang.Long =
    crawlDelay(content.toString, agent.toString) match {
      case Some(d) => d
      case None    => null
    }
}

/** `robots_rules(txt)` → array<struct<allow boolean, prefix string>>:
  * the prefix rules applying to `agent` (see [[RobotsRules]]). Null
  * text → null.
  */
case class RobotsRulesExpr(child: Expression, agent: String)
  extends UnaryExpression with StaticKernel {

  require(agent.nonEmpty && agent == agent.toLowerCase &&
      !agent.contains(" "),
    s"robots_rules: agent '$agent' must be a non-empty lower-case token")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("allow", BooleanType, nullable = false),
    StructField("prefix", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "robots_rules"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"robots_rules needs string, got $other")
  }

  override protected def kernel = RobotsRules
  override protected def method = "rulesArrayData"
  override protected def constants = Seq(Literal(agent))

  override protected def withNewChildInternal(
      newChild: Expression): RobotsRulesExpr = copy(child = newChild)
}

/** `robots_match(path, pattern)` → boolean: RFC 9309 wildcard rule
  * match (see [[RobotsRules.repMatches]]). Null in either → null.
  */
case class RobotsMatchExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with StaticKernel {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "robots_match"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"robots_match needs (string, string), got $other")
    }

  // resolves to the UTF8String overload — allocation-free in the
  // join-condition hot path (O(urls × rules) probes; ADVICE r20)
  override protected def kernel = RobotsRules
  override protected def method = "repMatches"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsMatchExpr =
    copy(left = newLeft, right = newRight)
}

/** `robots_crawl_delay(txt)` → bigint: the Crawl-delay seconds of the
  * group matched for `agent` (see [[RobotsRules.crawlDelay]] — the
  * smallest of the matched groups' delays). Null text, no matched
  * group, or no delay line → null.
  */
case class RobotsCrawlDelayExpr(child: Expression, agent: String)
  extends UnaryExpression with StaticKernel {

  require(agent.nonEmpty && agent == agent.toLowerCase &&
      !agent.contains(" "),
    s"robots_crawl_delay: agent '$agent' must be a non-empty " +
      "lower-case token")

  override def dataType: DataType = LongType
  override def prettyName: String = "robots_crawl_delay"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"robots_crawl_delay needs string, got $other")
  }

  override def nullable: Boolean = true
  override protected def kernel = RobotsRules
  override protected def method = "crawlDelayOrNull"
  override protected def constants = Seq(Literal(agent))

  override protected def withNewChildInternal(
      newChild: Expression): RobotsCrawlDelayExpr = copy(child = newChild)
}

object RobotsFunctions {

  /** Column-level entry point (agent must be a lower-case token). */
  def robotsRules(robotsTxt: Column, agent: String): Column =
    GraftSql.column(RobotsRulesExpr(GraftSql.expression(robotsTxt), agent))

  /** Column-level RFC 9309 wildcard rule match. */
  def robotsMatch(path: Column, pattern: Column): Column =
    GraftSql.column(RobotsMatchExpr(
      GraftSql.expression(path), GraftSql.expression(pattern)))

  /** Column-level Crawl-delay extraction (nullable seconds). */
  def robotsCrawlDelay(robotsTxt: Column, agent: String): Column =
    GraftSql.column(RobotsCrawlDelayExpr(
      GraftSql.expression(robotsTxt), agent))
}

package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star ✚ extensions over the reference's text handling,
  * `utils/io_helpers.py:5-9`, `utils/exporters.py:34-52`).
  *
  * Everything here is a pure `Column` combinator over Spark built-ins —
  * whole-stage-codegen'd, no UDFs, no shuffles. At 100 TB these run
  * map-side at scan speed; only the consuming aggregation shuffles.
  */
object TextStats {

  /** Whitespace tokens, duplicates kept. */
  def wsTokens(text: Column): Column = split(text, " ")

  /** BPE-ish tokens: letter runs, digit runs, single other-glyphs —
    * the standard pre-tokenizer shape (letters|digits|punct).
    */
  def bpeTokens(text: Column): Column =
    call_function("regexp_extract_all", lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Count of punctuation/symbol glyphs (anything outside [a-z0-9 ]). */
  def punctCount(text: Column): Column =
    size(call_function("regexp_extract_all", lower(text),
      lit("[^a-z0-9 ]"), lit(0)))

  /** Occurrences of any of `markers` among the whitespace tokens
    * (duplicates counted — an occurrence count, not a distinct count).
    */
  def markerHits(text: Column, markers: Seq[String]): Column =
    markerHitsIn(wsTokens(lower(text)), markers)

  /** Same, over an already-tokenized column — tokenize once, score
    * many. Native [[graft.functions.MarkerHits]]: the lexicon is a
    * hash set probed once per token inside codegen (the
    * `size(filter(tokens, isin(...)))` HOF it replaces evaluated an
    * interpreted isin chain per token per lexicon).
    */
  def markerHitsIn(tokens: Column, markers: Seq[String]): Column =
    graft.functions.MinHashFunctions.markerHits(tokens, markers)

  /** Language marker lexicons (standard function-word lists). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Marker-hit score per language, as named columns `score_<lang>`. */
  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (l, ws) => (s"score_$l", markerHits(text, ws)) }

  /** Heuristic language ID: argmax of the marker scores with a fixed
    * precedence (en > de > es > fr > zh) on ties; 'und' when no marker
    * hits at all. Integer comparisons only → deterministic across
    * engines and partitionings.
    */
  def langId(scores: Map[String, Column]): Column = {
    val en = scores("score_en"); val de = scores("score_de")
    val es = scores("score_es"); val fr = scores("score_fr")
    val zh = scores("score_zh")
    when(en === 0 && de === 0 && es === 0 && fr === 0 && zh === 0, "und")
      .when(en >= de && en >= es && en >= fr && en >= zh, "en")
      .when(de >= es && de >= fr && de >= zh, "de")
      .when(es >= fr && es >= zh, "es")
      .when(fr >= zh, "fr")
      .otherwise("zh")
  }

  /** Document fingerprint: md5 of the casefolded, punctuation-stripped,
    * whitespace-collapsed text — the canonical normalize-then-hash
    * dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Word n-grams WITH duplicates (occurrence counting — contrast
    * [[graft.ext.Dedup.shingles]], which dedups for set semantics).
    *
    * Delegates to the native [[graft.functions.WordNGrams]] expression:
    * the higher-order `transform(sequence(...))` formulation this
    * replaces is CodegenFallback in Spark and cost an interpreted
    * expression-tree walk per gram (~100 s for q56 at sf0.1).
    * Tokenization contract unchanged: split on ' ', empties kept,
    * '_'-joined windows, empty array below n tokens.
    */
  def ngrams(text: Column, n: Int): Column =
    graft.functions.GramFunctions.wordNgrams(text, n)

  /** PII scrub patterns — deliberately restricted to syntax both
    * java.util.regex and RE2-class engines interpret identically
    * (char classes, bounded repetition, `\b`, `\d`; no lookaround, no
    * backrefs), so a SQL oracle replays scrub and counts exactly.
    * Production deployments extend the battery (IBANs, SSNs, keys) —
    * each added pattern is one more [[redactPii]] layer with the same
    * contract.
    *
    * Precision note: the IPv4 octets are range-checked (0–255), but a
    * syntactically valid dotted quad that is actually a version
    * string ("upgraded from 3.5.1.2") still matches — undecidable by
    * regex, and PII scrubbing deliberately trades that precision for
    * recall (scrub too much rather than leak).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = {
    val octet = "(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)"
    s"\\b$octet\\.$octet\\.$octet\\.$octet\\b"
  }
  val PhoneRe = "\\b555-\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and (NANP-555 test-range) phone
    * numbers with typed placeholders. Order matters for overlapping
    * matches and is part of the contract: email → IP → phone (an IP
    * inside an email's domain is consumed by the email replacement
    * and is NOT separately redacted). Pure map-side column
    * expression — scrubbing a 100 TB corpus is a scan.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-pattern REPLACEMENT count — the audit artifact a scrub run
    * reports. Counted sequentially on the progressively-scrubbed text
    * (emails on the raw text, IPs after email scrub, phones after
    * both), so each count equals the number of replacements
    * [[redactPii]] actually performs — counting every pattern
    * independently on the raw text would claim e.g. an IP redaction
    * for 'a@1.2.3.4.com' that the email layer already consumed.
    */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))),
     size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))),
     size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0))))
  }
}

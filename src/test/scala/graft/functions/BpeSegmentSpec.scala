package graft.functions

import graft.SparkSpec
import graft.ext.BpeTokenizer
import org.apache.spark.sql.functions._

/** Pins the native BPE kernel ([[BpeSegment]]) to (a) an INDEPENDENT
  * min-rank reference implementation written here in list form,
  * (b) the oracle's rank-sequential replace fold (also written here,
  * in plain Scala) on consistent tables ≤ 256 merges, and
  * (c) hand-derived segmentations on the boundary cases the r17
  * single-space representation got wrong.
  */
class BpeSegmentSpec extends SparkSpec {
  import spark.implicits._

  private val merges = Seq(
    "a" -> "n", "e" -> "r", "s" -> "c", "sc" -> "an", "o" -> "r",
    "t" -> "a", "r" -> "o", "h" -> "a", "ha" -> "s")

  /** Independent reference: textbook min-rank loop over Lists —
    * deliberately written in a different style from BpeModel's
    * array walk so a shared bug is implausible.
    */
  private def refSegment(word: Seq[String],
                         table: Seq[(String, String)]): Seq[String] = {
    val rank = table.zipWithIndex.groupMapReduce(_._1)(_._2)(math.min)
    @annotation.tailrec
    def loop(parts: Seq[String]): Seq[String] = {
      val pairs = parts.zip(parts.drop(1))
      val ranked = pairs.flatMap(p => rank.get(p))
      if (ranked.isEmpty) parts
      else {
        val (l, r) = table(ranked.min)
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = parts.toList
        while (rest.nonEmpty) rest match {
          case a :: b :: tail if a == l && b == r =>
            out += (a + b); rest = tail
          case a :: tail => out += a; rest = tail
          case Nil =>
        }
        loop(out.toList)
      }
    }
    loop(word)
  }

  private def chars(w: String): Seq[String] = w.map(_.toString)

  private def nativeToks(text: String,
                         table: Seq[(String, String)]): Seq[String] =
    Seq(text).toDF("t")
      .select(BpeSegment.tokens(col("t"), table).as("tk"))
      .as[Seq[String]].head()

  /** The oracle's rank-sequential semantics (q140's replace chain):
    * wrap each code point of a word in the Open/Close sentinels,
    * apply one literal `String.replace` per merge in rank order,
    * strip the outer sentinels and split on the Close+Open boundary.
    */
  private def columnToks(text: String,
                         table: Seq[(String, String)]): Seq[String] = {
    import BpeTokenizer.{Close, Open}
    text.split(" ", -1).toSeq.filter(_.nonEmpty).flatMap { w =>
      val wrapped = w.codePoints().toArray.toSeq
        .map(cp => Open + new String(Character.toChars(cp)) + Close).mkString
      val seg = table.foldLeft(wrapped) { case (acc, (l, r)) =>
        acc.replace(Open + l + Close + Open + r + Close, Open + l + r + Close)
      }
      seg.substring(Open.length, seg.length - Close.length)
        .split(java.util.regex.Pattern.quote(Close + Open), -1).toSeq
    }
  }

  /** Seeded random CONSISTENT table (every side a single char or an
    * earlier output) over a small alphabet.
    */
  private def randomTable(n: Int, seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = Vector("a", "b", "c", "d", "e", "f")
    val produced = scala.collection.mutable.ArrayBuffer(alphabet: _*)
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (out.size < n) {
      val l = produced(rnd.nextInt(produced.size))
      val r = produced(rnd.nextInt(produced.size))
      if (l.length + r.length <= 6 && seen.add((l, r))) {
        out += ((l, r)); produced += (l + r)
      }
    }
    out.toSeq
  }

  private def randomWords(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => (1 to (1 + rnd.nextInt(10)))
      .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
  }

  test("native face matches hand-derived boundary cases") {
    nativeToks("tan", merges) shouldBe Seq("t", "an")
    nativeToks("than", merges) shouldBe Seq("t", "h", "an")
    nativeToks("scan order hash", merges) shouldBe
      Seq("scan", "or", "d", "er", "has", "h")
    nativeToks("aaa", Seq("a" -> "a")) shouldBe Seq("aa", "a")
    nativeToks("aaaa", Seq("a" -> "a")) shouldBe Seq("aa", "aa")
  }

  test("native ≡ column fold ≡ independent reference on random consistent tables") {
    (1L to 3L).foreach { seed =>
      val table = randomTable(60, seed)
      val words = randomWords(40, seed + 100)
      val text = words.mkString(" ")
      val expected = words.flatMap(w => refSegment(chars(w), table))
      nativeToks(text, table) shouldBe expected
      columnToks(text, table) shouldBe expected
    }
  }

  test("10k-merge table: native ≡ reference, count ≡ tokens length") {
    val table = randomTable(10000, seed = 7L)
    val words = randomWords(60, seed = 8L)
    val text = words.mkString(" ")
    val expected = words.flatMap(w => refSegment(chars(w), table))
    nativeToks(text, table) shouldBe expected
    val cnt = Seq(text).toDF("t")
      .select(BpeSegment.tokenCount(col("t"), table)).as[Long].head()
    cnt shouldBe expected.size.toLong
    // far beyond BpeTokenizer's oracle-replayable cap — the point of
    // the native kernel
    assert(table.size > BpeTokenizer.MaxMerges)
  }

  test("byte-level mode: bijection, space attachment, CJK segmentation") {
    // the GPT-2 byte↔char map is a bijection over 256 values
    BpeModel.byteToChar.distinct.length shouldBe 256
    // printable ASCII maps to itself; space does not
    BpeModel.byteStr('A'.toInt) shouldBe "A"
    BpeModel.byteStr(' '.toInt) should not be " "
    val model = new BpeModel(merges, byteLevel = true)
    // "ta an" → words ["ta", " an"]: (t,a) merges in the first,
    // the second carries its mapped space and (a,n) merges inside it
    val sp = BpeModel.byteStr(' '.toInt)
    model.tokensOf("ta an").toSeq shouldBe Seq("ta", sp, "an")
    // CJK text is NOT one opaque word: it segments into per-byte
    // symbols (3 UTF-8 bytes per char here), each a printable char
    val cjk = model.tokensOf("你好").toSeq
    cjk.length shouldBe 6
    cjk.foreach(t => t.length shouldBe 1)
    // byte mapping round-trips: mapped symbols are distinct per byte
    val bytes = "你好".getBytes("UTF-8").map(b => BpeModel.byteStr(b & 0xff))
    cjk shouldBe bytes.toSeq
  }

  test("GPT-2-style pretokenizer: contractions, runs, whitespace classes") {
    val m = new BpeModel(Nil, byteLevel = true,
      Some(BpeModel.Gpt2ishPretokenizer))
    // contraction splits off; letter/digit/other runs carry their
    // space; the multi-space gap is ONE whitespace token (the
    // documented lookahead deviation); total coverage — words
    // reassemble the text byte-for-byte
    val text = "don't pay  42 ab-cd!"
    val words = m.preTokenize(text).toSeq
    words shouldBe Seq("don", "'t", " pay", "  ", "42", " ab", "-", "cd", "!")
    words.mkString shouldBe text
    // mapped words (trainer vocab unit) cover the same bytes
    m.wordsOf(text).map(_.length).sum shouldBe
      text.getBytes("UTF-8").length
  }

  test("line terminators inside a word: native ≡ column fold ≡ reference") {
    // the r18 ADVICE seam: a `.`-based wrap skips \n (and, java-only,
    // \r) so "a\nb" kept raw sentinels on the replace chain while the
    // JVM loop yielded ["a","\n","b"]; the oracle's [\s\S] wrap and
    // this reference wrap every code point
    Seq("a\nb", "a\rb", "x\r\ny", "\nan", "an\r").foreach { w =>
      val expected = refSegment(chars(w), merges)
      withClue(s"word ${w.map(c => f"\\u${c.toInt}%04x").mkString}: ") {
        nativeToks(w, merges) shouldBe expected
        columnToks(w, merges) shouldBe expected
      }
    }
    // and \n never leaks a sentinel: every token is sentinel-free
    columnToks("a\nb", merges).foreach { t =>
      t should not include BpeTokenizer.Open
      t should not include BpeTokenizer.Close
    }
  }

  test("GPT-2 EXACT pretokenizer: \\s+(?!\\S) lookahead restored (native-only)") {
    val m = new BpeModel(Nil, byteLevel = true,
      Some(BpeModel.Gpt2ExactPretokenizer))
    // hand-computed against the published pattern's semantics: the
    // last space of a multi-space gap stays with the following word
    m.preTokenize("a  b").toSeq shouldBe Seq("a", " ", " b")
    m.preTokenize("a   b").toSeq shouldBe Seq("a", "  ", " b")
    m.preTokenize("a b").toSeq shouldBe Seq("a", " b")
    m.preTokenize("don't  go").toSeq shouldBe Seq("don", "'t", " ", " go")
    m.preTokenize("x   ").toSeq shouldBe Seq("x", "   ")
    m.preTokenize("a \n b").toSeq shouldBe Seq("a", " \n", " b")
    m.preTokenize("  42").toSeq shouldBe Seq(" ", " 42")
    // total coverage still holds — tokens reassemble the text
    Seq("a  b", "don't  go", "x   ", "a \n b", " hi  there ").foreach { t =>
      m.preTokenize(t).mkString shouldBe t
    }
    // and the ONLY divergence from the portable preset is multi-space
    // gaps: single-space text pretokenizes identically
    val ish = new BpeModel(Nil, byteLevel = true,
      Some(BpeModel.Gpt2ishPretokenizer))
    val single = "don't pay 42 ab-cd!"
    m.preTokenize(single).toSeq shouldBe ish.preTokenize(single).toSeq
  }

  test("null text → null; empty text → zero tokens") {
    val df = Seq[Option[String]](None, Some(""), Some("tan")).toDF("t")
      .select(BpeSegment.tokens(col("t"), merges).as("tk"),
        BpeSegment.tokenCount(col("t"), merges).as("n"))
    val rows = df.collect()
    rows(0).isNullAt(0) shouldBe true
    rows(0).isNullAt(1) shouldBe true
    rows(1).getSeq[String](0) shouldBe Seq.empty
    rows(1).getLong(1) shouldBe 0L
    rows(2).getLong(1) shouldBe 2L
  }

  test("the native tokenizer is a pure map-side scan — no exchange") {
    val plan = spark.range(8)
      .select(BpeSegment.tokenCount(
        concat(lit("tan h"), col("id").cast("string")), merges))
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
    // the `*(1)` prefix is the whole-stage-codegen marker: the
    // expression generates code (reference-object callback), it does
    // not fall back to interpreted eval
    plan should include("*(1) Project")
  }
}

package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}

/** Order-free result digest, normalised like `scripts/compare.py`: columns
  * sorted by name, every row rendered as `|`-joined cells, rows sorted,
  * then SHA-1 over the `\n`-joined rows (first 16 hex digits).
  */
object Digest {

  def of(df: DataFrame): (Long, String) =
    of(df.columns.toSeq, df.collect().toSeq)

  def of(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    (lines.size.toLong, sha1(lines.mkString("\n")).take(16))
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => if (f.isNaN) "NaN" else java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(x => f"$x%02x").mkString
}

/** Self-test of the digest normalisation on synthetic rows; exits non-zero
  * on the first failed expectation. Run through `run.py --selftest`.
  */
object DigestSelfTest {
  private def expect(what: String, ok: Boolean): Unit =
    if (!ok) { System.err.println(s"FAIL digest: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val cols = Seq("b", "a")
    val rows = Seq(Row(2.5, "x"), Row(null, "y"))
    val (n, d) = Digest.of(cols, rows)
    expect("row count", n == 2)
    expect("row order is ignored", Digest.of(cols, rows.reverse)._2 == d)
    expect("column order is ignored",
      Digest.of(Seq("a", "b"), Seq(Row("x", 2.5), Row("y", null)))._2 == d)
    expect("values matter", Digest.of(cols, Seq(Row(2.5, "x"), Row(1.0, "y")))._2 != d)
    // columns sorted by name: a|b, rows sorted as strings
    expect("rendering", d == Digest.sha1("x|2.5\ny|NULL").take(16))
    expect("null and NaN cells",
      Digest.cell(null) == "NULL" && Digest.cell(Double.NaN) == "NaN")
    expect("nested cells",
      Digest.cell(Seq(1L, null)) == "[1,NULL]" &&
        Digest.cell(Map("k" -> 2, "a" -> 1)) == "{a:1,k:2}" &&
        Digest.cell(Row(1, "z")) == "(1,z)" &&
        Digest.cell(Array[Byte](1, -1)) == "01ff")
    expect("timestamps render in UTC",
      Digest.cell(java.sql.Timestamp.from(java.time.Instant.parse(
        "2024-01-01T00:00:07.179575Z"))) == "2024-01-01T00:00:07.179575Z")
    println("digest self-test: ok")
  }
}

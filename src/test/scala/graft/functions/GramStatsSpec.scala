package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram expressions: tokenize contract, parity with the
  * higher-order-function formulation they replaced, one-pass stats,
  * SQL registration, null handling.
  */
class GramStatsSpec extends SparkSpec {
  import spark.implicits._

  /** The HOF formulation ngrams() replaced — kept here as the parity
    * reference (identical to DuckDB's w[i]||'_'||... list build).
    */
  private def hofNgrams(text: Column, n: Int): Column = {
    val w = split(text, " ")
    val grams = transform(sequence(lit(1), functions.size(w) - (n - 1)),
      i => concat_ws("_",
        (0 until n).map(k => call_function("element_at", w, i + lit(k))): _*))
    when(functions.size(w) >= n, grams).otherwise(array().cast("array<string>"))
  }

  private val docs = Seq(
    "the quick brown fox jumps",
    "a a a a",
    "one",
    "",
    "two  spaces kept",          // empty token between the double space
    "tok_with_underscore b c")
    .toDF("text")

  test("tokenize splits on single spaces keeping empties") {
    GramOps.tokenize(UTF8String.fromString("a b")).toSeq shouldBe Seq("a", "b")
    GramOps.tokenize(UTF8String.fromString("a  b")).toSeq shouldBe Seq("a", "", "b")
    GramOps.tokenize(UTF8String.fromString("")).toSeq shouldBe Seq("")
    GramOps.tokenize(UTF8String.fromString(" a ")).toSeq shouldBe Seq("", "a", "")
  }

  test("word_ngrams matches the HOF formulation on every edge case") {
    for (n <- Seq(2, 3, 4)) {
      val got = docs.select(GramFunctions.wordNgrams(col("text"), n)).collect()
        .map(_.getSeq[String](0))
      val want = docs.select(hofNgrams(col("text"), n)).collect()
        .map(_.getSeq[String](0))
      got.toSeq shouldBe want.toSeq
    }
  }

  test("gram_stats agrees with size/array_distinct of word_ngrams") {
    val got = docs
      .select(GramFunctions.gramStats(col("text"), 3).as("gs"))
      .select(col("gs.total_grams"), col("gs.distinct_grams"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs
      .select(functions.size(hofNgrams(col("text"), 3)).cast("long").as("t"),
        functions.size(array_distinct(hofNgrams(col("text"), 3))).cast("long").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.toSeq shouldBe want.toSeq
    // "a a a a" → 2 total 3-grams, 1 distinct
    got(1) shouldBe ((2L, 1L))
  }

  test("null text yields null, not a crash") {
    val rows = Seq(Some("a b c"), None).toDF("text")
      .select(GramFunctions.wordNgrams(col("text"), 2).as("g"),
        GramFunctions.gramStats(col("text"), 2).as("s"))
      .collect()
    rows(0).getSeq[String](0) shouldBe Seq("a_b", "b_c")
    rows(1).isNullAt(0) shouldBe true
    rows(1).isNullAt(1) shouldBe true
  }

  test("SQL registration works") {
    Kernels.register(spark)
    val r = docs.limit(1).createOrReplaceTempView("gdocs")
    val row = spark.sql(
      "SELECT word_ngrams(text, 2) AS g, gram_stats(text, 2).total_grams AS t FROM gdocs")
      .collect().head
    row.getSeq[String](0) shouldBe Seq("the_quick", "quick_brown", "brown_fox", "fox_jumps")
    row.getLong(1) shouldBe 4L
  }

  test("plan stays inside whole-stage codegen") {
    // a LocalTableScan would hide codegen — use a Range-backed plan
    val df = spark.range(100)
      .select(concat_ws(" ", lit("a"), col("id").cast("string"), lit("b")).as("text"))
      .select(GramFunctions.gramStats(col("text"), 2).as("gs"),
        GramFunctions.wordNgrams(col("text"), 2).as("g"))
    // "*(1) Project [gram_stats(...)]" — the * prefix marks WholeStageCodegen
    df.queryExecution.executedPlan.toString should include("*(1) Project [gram_stats")
    df.collect().length shouldBe 100
  }
}

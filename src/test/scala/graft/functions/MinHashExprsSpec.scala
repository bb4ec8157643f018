package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** Native MinHash expressions: bit-parity with the HOF formulations
  * they replaced, empty/null contracts, codegen activation.
  */
class MinHashExprsSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced HOF formulations — parity references. */
  private def hofHexHash(arr: org.apache.spark.sql.Column, salt: String) =
    transform(arr, s =>
      conv(substring(md5(concat(lit(salt), s)), 1, 13), 16, 10).cast("long"))

  private def hofMinhash(h1: org.apache.spark.sql.Column,
                         h2: org.apache.spark.sql.Column, num: Int) =
    array((0 until num).map { i =>
      array_min(zip_with(h1, h2, (a, b) => a + lit(i.toLong) * b))
    }: _*)

  /** The replaced scalar formulations — parity references. */
  private def colHexHash(s: org.apache.spark.sql.Column, salt: String) =
    conv(substring(md5(concat(lit(salt), s)), 1, 13), 16, 10).cast("long")

  private def colLanes(s: org.apache.spark.sql.Column, width: Long, k: Int) =
    array((0 until k).map { i =>
      pmod(conv(substring(md5(s), 1 + 8 * i, 8), 16, 10).cast("long"),
        lit(width))
    }: _*)

  /** Unicode, empty-string and null items — over a range scan, so the
    * projection is compiled rather than folded into a local relation.
    */
  private val items = spark.range(6).select(element_at(
    typedlit(Seq[Option[String]](Some("the_quick"), Some("caffè"),
      Some("naïve 中文 🙂"), Some(""), None, Some("a#b"))),
    (col("id") + 1).cast("int")).as("s"))

  private def wholeStage(df: org.apache.spark.sql.DataFrame, fn: String) =
    df.queryExecution.executedPlan.toString should include(s"*(1) Project [$fn(")

  private val docs = Seq(
    "the quick brown fox",
    "a a b",
    "",
    "unicode caffè naïve 中文")
    .toDF("text")
    .select(array_distinct(split(col("text"), " ")).as("sh"))

  test("hex_hash_array matches the md5/conv formulation bit-for-bit") {
    for (salt <- Seq("a#", "b#", "")) {
      val got = docs.select(MinHashFunctions.hexHashArray(col("sh"), salt))
        .collect().map(_.getSeq[Long](0))
      val want = docs.select(hofHexHash(col("sh"), salt))
        .collect().map(_.getSeq[Long](0))
      got.toSeq shouldBe want.toSeq
    }
  }

  test("minhash_array matches the zip_with/array_min battery") {
    val hashed = docs
      .select(MinHashFunctions.hexHashArray(col("sh"), "a#").as("h1"),
        MinHashFunctions.hexHashArray(col("sh"), "b#").as("h2"))
    val got = hashed.select(MinHashFunctions.minhashArray(col("h1"), col("h2"), 8))
      .collect().map(r => (0 until 8).map(i =>
        if (r.getSeq[Any](0)(i) == null) null else r.getSeq[Long](0)(i)))
    val want = hashed.select(hofMinhash(col("h1"), col("h2"), 8))
      .collect().map(r => (0 until 8).map(i =>
        if (r.getSeq[Any](0)(i) == null) null else r.getSeq[Long](0)(i)))
    got.toSeq shouldBe want.toSeq
  }

  test("empty shingle set yields all-null signature slots") {
    val row = Seq(Seq.empty[String]).toDF("sh")
      .select(MinHashFunctions.minhashArray(
        MinHashFunctions.hexHashArray(col("sh"), "a#"),
        MinHashFunctions.hexHashArray(col("sh"), "b#"), 4))
      .collect().head
    row.getSeq[Any](0) shouldBe Seq(null, null, null, null)
  }

  test("hashes stay in 52 bits (band-hash headroom)") {
    val maxHash = docs.filter(F.size(col("sh")) > 0)
      .select(explode(MinHashFunctions.hexHashArray(col("sh"), "a#")).as("h"))
      .agg(max(col("h"))).as[Long].head()
    maxHash should be < (1L << 52)
    maxHash should be > 0L
  }

  test("hex_hash matches the md5/conv formulation bit-for-bit") {
    for (salt <- Seq("a#", "")) {
      val df = items.select(MinHashFunctions.hexHash(col("s"), salt))
      wholeStage(df, "hex_hash")
      df.collect().toSeq shouldBe
        items.select(colHexHash(col("s"), salt)).collect().toSeq
    }
    // a non-string argument is cast to string, as concat did
    val ids = spark.range(-3, 40)
    ids.select(MinHashFunctions.hexHash(col("id"), "sp#")).collect().toSeq shouldBe
      ids.select(colHexHash(col("id"), "sp#")).collect().toSeq
  }

  test("md5_lanes matches the per-lane md5/conv/pmod formulation") {
    for {
      salt <- Seq("a#", "")
      (width, k) <- Seq((256L, 3), (32768L, 4), (64L, 1), (1L << 26, 2))
    } {
      val item = concat(lit(salt), col("s"))
      val df = items.select(MinHashFunctions.md5Lanes(item, width, k))
      wholeStage(df, "md5_lanes")
      val got = df.collect().map(_.getSeq[Any](0))
      got.toSeq shouldBe
        items.select(colLanes(item, width, k)).collect().map(_.getSeq[Any](0)).toSeq
      // a null item gives k null lanes, never a null array
      got(4) shouldBe Seq.fill(k)(null)
    }
  }

  test("TextClassifier.bucket is lane 0 of md5_lanes, bit-for-bit") {
    for (dim <- Seq(1, 7, 64, 1 << 20)) {
      val df = items.select(graft.ext.TextClassifier.bucket(col("s"), dim))
      wholeStage(df, "md5_lanes")
      val got = df.collect().toSeq
      got shouldBe items.select(pmod(conv(substring(md5(col("s")), 1, 8), 16, 10)
        .cast("long"), lit(dim.toLong))).collect().toSeq
      got(4).isNullAt(0) shouldBe true
    }
  }

  test("plan stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(split(concat_ws(" ", lit("w"), col("id").cast("string")), " ").as("sh"))
      .select(MinHashFunctions.minhashArray(
        MinHashFunctions.hexHashArray(col("sh"), "a#"),
        MinHashFunctions.hexHashArray(col("sh"), "b#"), 4).as("sig"))
    df.queryExecution.executedPlan.toString should include("*(1) Project [minhash_array")
    df.collect().length shouldBe 10
  }
}

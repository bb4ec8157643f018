package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DocVectorSpec extends SparkSpec {
  import spark.implicits._

  private def bucketOf(s: String, dim: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    (java.lang.Long.parseLong(hex, 16) % dim).toInt
  }

  private def vec(text: String, dim: Int): Seq[Double] =
    Seq(text).toDF("t")
      .select(DocVectorFunctions.hashedCountVector(col("t"), dim).as("v"))
      .as[Seq[Double]].head()

  test("counts land in the md5 buckets, one per token occurrence") {
    val dim = 8
    val got = vec("a b a c", dim)
    val expected = Array.fill(dim)(0.0)
    Seq("a", "b", "a", "c").foreach(t => expected(bucketOf(t, dim)) += 1.0)
    got shouldBe expected.toSeq
    got.sum shouldBe 4.0
  }

  test("bucket arithmetic matches TextClassifier.bucket (the one " +
    "portable hash story)") {
    val dim = 16
    val tokens = Seq("alpha", "beta", "", "x1")
    val sqlBuckets = tokens.toDF("t")
      .select(graft.ext.TextClassifier.bucket(col("t"), dim))
      .as[Long].collect()
    tokens.map(bucketOf(_, dim).toLong) shouldBe sqlBuckets.toSeq
  }

  test("empty text is one empty token — the vector is never all-zero") {
    val got = vec("", 4)
    got.sum shouldBe 1.0
    got(bucketOf("", 4)) shouldBe 1.0
  }

  test("dim bounds are enforced") {
    an[Exception] should be thrownBy vec("a", 0)
    an[Exception] should be thrownBy vec("a", (1 << 16) + 1)
  }

  test("SQL registration serves the same expression") {
    Kernels.register(spark)
    Seq("a b a").toDF("t").createOrReplaceTempView("dv_t")
    val viaSql = spark.sql("SELECT hashed_count_vector(t, 8) FROM dv_t")
      .as[Seq[Double]].head()
    viaSql shouldBe vec("a b a", 8)
  }
}

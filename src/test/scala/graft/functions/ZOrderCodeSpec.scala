package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleave expression: bit-level correctness vs a
  * naive per-bit reference, locality/ordering properties, range
  * fail-fast, null handling, codegen path inside a real plan, and the
  * DuckDB-oracle arithmetic identity (the q118 oracle replays the code
  * as a 31-term BIGINT comprehension — pinned here in JVM arithmetic
  * so the SQL replay has a tested contract to mirror).
  */
class ZOrderCodeSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: place bit i of x at 2i, bit i of y at 2i+1. */
  private def refInterleave(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("interleave matches the per-bit reference across the range") {
    val probes = Seq(0L, 1L, 2L, 3L, 31L, 1024L, 65535L, 123456789L,
      ZOrderCode.MaxKey - 1)
    for (x <- probes; y <- probes)
      ZOrderCode.interleave(x, y) shouldBe refInterleave(x, y)
  }

  test("codes are non-negative and within 62 bits") {
    val m = ZOrderCode.MaxKey - 1
    ZOrderCode.interleave(m, m) shouldBe (1L << 62) - 1
    ZOrderCode.interleave(0, 0) shouldBe 0L
    ZOrderCode.interleave(m, m) should be > 0L
  }

  test("quadrant ordering: codes cluster by high bits of both dims") {
    // Any point in the low quadrant (both keys < 2^30) codes below any
    // point in the high quadrant (both keys >= 2^30) — the recursive
    // quadrant property that makes a Z-sort a 2-D clustering.
    val lowMax = ZOrderCode.interleave((1L << 30) - 1, (1L << 30) - 1)
    val highMin = ZOrderCode.interleave(1L << 30, 1L << 30)
    lowMax should be < highMin
  }

  test("out-of-range keys throw with both values named") {
    val e = the[IllegalArgumentException] thrownBy
      ZOrderCode.interleave(-1, 5)
    e.getMessage should include("(-1, 5)")
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.interleave(0, ZOrderCode.MaxKey)
  }

  test("expression evaluates in a codegen'd plan; null propagates") {
    Kernels.register(spark)
    val df = Seq((Some(3L), Some(5L)), (None, Some(1L)), (Some(7L), None))
      .toDF("x", "y")
      .withColumn("z", expr("zorder_code(x, y)"))
    val rows = df.collect()
    rows(0).getLong(2) shouldBe refInterleave(3, 5)
    rows(1).isNullAt(2) shouldBe true
    rows(2).isNullAt(2) shouldBe true
  }

  test("column face casts ints losslessly; literal folds at plan time") {
    val viaInt = spark.range(1)
      .select(ZOrderCode.zorder(lit(12345), lit(678)).as("z"))
      .head().getLong(0)
    viaInt shouldBe refInterleave(12345, 678)
    Kernels.register(spark)
    val df = spark.range(1).selectExpr("zorder_code(3L, 5L) AS z")
    df.queryExecution.optimizedPlan.toString should not include "zorder_code"
    df.collect().head.getLong(0) shouldBe refInterleave(3, 5)
  }

  test("oracle arithmetic identity: sum-of-terms == interleave") {
    // The DuckDB oracle computes
    //   list_sum([((x>>i)&1)*2^(2i) + ((y>>i)&1)*2^(2i+1) for i in 0..30])
    // — same closed form as refInterleave with | replaced by + (the
    // terms occupy disjoint bits, so + == |). Pin that identity.
    val probes = Seq((0L, 0L), (1L, 2L), (123456L, 654321L),
      (ZOrderCode.MaxKey - 1, 42L))
    probes.foreach { case (x, y) =>
      val sum = (0 until 31).map { i =>
        ((x >> i) & 1L) * (1L << (2 * i)) + ((y >> i) & 1L) * (1L << (2 * i + 1))
      }.sum
      sum shouldBe ZOrderCode.interleave(x, y)
    }
  }

  /** Naive k-dim reference: bit i of dim j lands at i*k + j. */
  private def refInterleaveN(vs: Seq[Long]): Long = {
    val k = vs.size
    var z = 0L
    for (j <- 0 until k; i <- 0 until 62 / k)
      z |= ((vs(j) >> i) & 1L) << (i * k + j)
    z
  }

  test("interleaveN matches the per-bit reference; 2-D form agrees") {
    val m3 = ZOrderCode.maxKeyN(3) - 1 // 20 bits
    val probes3 = Seq(
      Seq(0L, 0L, 0L), Seq(1L, 2L, 4L), Seq(m3, m3, m3),
      Seq(123456L, 654321L, 42L), Seq(m3, 0L, m3 / 2))
    probes3.foreach { vs =>
      ZOrderCode.interleaveN(vs.toArray) shouldBe refInterleaveN(vs)
    }
    // 4-D too (15 bits/dim)
    val m4 = ZOrderCode.maxKeyN(4) - 1
    ZOrderCode.interleaveN(Array(m4, 0L, m4, 7L)) shouldBe
      refInterleaveN(Seq(m4, 0L, m4, 7L))
    // the 2-D magic-mask form and the generic loop are the same code
    Seq((0L, 0L), (123456789L, 42L),
        (ZOrderCode.MaxKey - 1, ZOrderCode.MaxKey - 1)).foreach {
      case (x, y) =>
        ZOrderCode.interleaveN(Array(x, y)) shouldBe
          ZOrderCode.interleave(x, y)
    }
  }

  test("3-D: quadrant ordering, range throw names the dimension") {
    val half = ZOrderCode.maxKeyN(3) / 2
    val lowMax = ZOrderCode.interleaveN(Array(half - 1, half - 1, half - 1))
    val highMin = ZOrderCode.interleaveN(Array(half, half, half))
    lowMax should be < highMin
    val e = the[IllegalArgumentException] thrownBy
      ZOrderCode.interleaveN(Array(0L, ZOrderCode.maxKeyN(3), 0L))
    e.getMessage should include("dimension 1")
    e.getMessage should include("bits = 20")
  }

  test("N-ary expression: codegen'd plan, null propagation, SQL arity") {
    Kernels.register(spark)
    val df = Seq((Some(3L), Some(5L), Some(9L)), (Some(1L), None, Some(2L)))
      .toDF("x", "y", "w")
      .withColumn("z3", expr("zorder_code(x, y, w)"))
      .withColumn("z2", expr("zorder_code(x, y)")) // arity dispatch
    val rows = df.collect()
    rows(0).getLong(3) shouldBe refInterleaveN(Seq(3L, 5L, 9L))
    rows(0).getLong(4) shouldBe refInterleave(3, 5)
    rows(1).isNullAt(3) shouldBe true
    // column face at 3 args
    spark.range(1).select(ZOrderCode.zorder(lit(3L), lit(5L), lit(9L)))
      .head().getLong(0) shouldBe refInterleaveN(Seq(3L, 5L, 9L))
  }

  test("scaled: mismatched domains land on one bit-width, order kept") {
    // the q119 failure mode: an 18-bit key interleaved with an 11-bit
    // key sorts as a 1-D sort on the wide key — scaled puts both on
    // the same grid so the interleave balances
    // same four RELATIVE positions (0, 1/2, 3/4, 1) in each domain
    val wide = Seq(0L, 131072L, 196608L, 262143L)   // domain [0, 2^18)
    val narrow = Seq(0L, 1024L, 1536L, 2047L)       // domain [0, 2^11)
    val w = wide.toDF("v").select(
      ZOrderCode.scaled(col("v"), 0L, 262143L, bits = 12).as("s"))
      .collect().map(_.getLong(0))
    val n = narrow.toDF("v").select(
      ZOrderCode.scaled(col("v"), 0L, 2047L, bits = 12).as("s"))
      .collect().map(_.getLong(0))
    all(w ++ n) should (be >= 0L and be < 4096L)
    w shouldBe w.sorted; n shouldBe n.sorted // monotone
    // equal relative positions map near each other on the common grid
    (1 to 3).foreach(i => math.abs(w(i) - n(i)) should be <= 2L)
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.scaled(col("v"), 5L, 5L)
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.scaled(col("v"), 0L, 10L, bits = 32)
  }

  test("scaled: wide domains (epoch-microsecond scale) do not overflow") {
    // multiply-first would overflow a long past 2^(63-bits): with the
    // default 20 bits, any domain wider than 2^43 — e.g. an epoch-us
    // column. The divide-first path must keep every value on the grid
    // and keep order, all the way up to a full [0, Long.MaxValue-1]
    // domain.
    val hi = Long.MaxValue - 1
    val vals = Seq(0L, hi / 4, hi / 2, hi - 1, hi)
    val out = vals.toDF("v")
      .select(ZOrderCode.scaled(col("v"), 0L, hi).as("s"))
      .collect().map(_.getLong(0))
    all(out) should (be >= 0L and be < (1L << 20))
    out shouldBe out.sorted
    out.last shouldBe (1L << 20) - 1 +- 1
    // a realistic 116-day microsecond window
    val tHi = 10_000_000_000_000L
    val t = Seq(0L, tHi / 2, tHi).toDF("v")
      .select(ZOrderCode.scaled(col("v"), 0L, tHi).as("s"))
      .collect().map(_.getLong(0))
    all(t) should (be >= 0L and be < (1L << 20))
    t shouldBe t.sorted
    math.abs(t(1) - (1L << 19)) should be <= 1L
  }

  test("normalized: identity when in range, shift preserves order") {
    val vals = Seq(0L, 5L, ZOrderCode.MaxKey - 1, ZOrderCode.MaxKey,
      3L * ZOrderCode.MaxKey)
    val df = vals.toDF("v")
    val id = df.select(ZOrderCode.normalized(col("v"), ZOrderCode.MaxKey - 1)
      .as("n")).collect().map(_.getLong(0))
    id shouldBe vals.toArray // identity when max fits
    // maxValue = 2^33 - 1 needs two halvings to fit below 2^31
    val shifted = df.select(ZOrderCode.normalized(col("v"),
      4L * ZOrderCode.MaxKey - 1).as("n")).collect().map(_.getLong(0))
    shifted shouldBe vals.map(_ >> 2).toArray
    all(shifted) should be < ZOrderCode.MaxKey
  }

  test("rankDictionary: sorted distinct values, NDV cap, type refusal") {
    val df = Seq("src2", "src10", "src2", "src1", null)
      .map(Tuple1(_)).toDF("src")
    // byte order (src10 < src2), nulls dropped, duplicates folded
    ZOrderCode.rankDictionary(df, "src") shouldBe
      Seq("src1", "src10", "src2")
    the[IllegalArgumentException] thrownBy
      ZOrderCode.rankDictionary(df, "src", maxNdv = 2) should have message
      "requirement failed: rankDictionary: 'src' has more than 2 " +
        "distinct values — a dictionary rank is the low-NDV normalizer; " +
        "use ZOrderCode.hashBucket for high-NDV string keys"
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.rankDictionary(Seq(1L).toDF("k"), "k")
  }

  test("ranked: sorted-rank lookup, null neighborhood, loud on unseen " +
       "values and bad dictionaries") {
    val dict = Seq("a", "b", "d")
    val out = Seq(Some("d"), Some("a"), None, Some("b"))
      .map(Tuple1(_)).toDF("s")
      .select(ZOrderCode.ranked(col("s"), dict).as("r")).collect()
    out(0).getLong(0) shouldBe 2L
    out(1).getLong(0) shouldBe 0L
    out(2).isNullAt(0) shouldBe true
    out(3).getLong(0) shouldBe 1L
    // a value outside the dictionary throws AT SCAN TIME (the same
    // loud contract as the interleave's range check)
    val ex = intercept[Exception] {
      Seq("zzz").toDF("s")
        .select(ZOrderCode.ranked(col("s"), dict)).collect()
    }
    ex.getMessage should include("not in dictionary")
    // dictionary hygiene is the caller's explicit decision — refused,
    // not repaired
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.ranked(col("s"), Seq("b", "a"))
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.ranked(col("s"), Seq("a", "a"))
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.ranked(col("s"), Nil)
  }

  test("hashBucket: md5-prefix arithmetic the DuckDB oracle replays; " +
       "range and shift-down contract") {
    def refBucket(s: String, bits: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val hexChars = (bits + 3) / 4
      java.lang.Long.parseLong(hex.substring(0, hexChars), 16) >>
        (hexChars * 4 - bits)
    }
    val keys = Seq("example.org", "a", "key#17", "")
    // bits=20: exactly 5 hex chars, no shift (the oracle's
    // CAST('0x'||substr(md5(k),1,5) AS BIGINT) form)
    val b20 = keys.toDF("k")
      .select(ZOrderCode.hashBucket(col("k"), 20).as("b"))
      .collect().map(_.getLong(0))
    b20 shouldBe keys.map(refBucket(_, 20)).toArray
    all(b20) should (be >= 0L and be < (1L << 20))
    // bits=10: 3 hex chars shifted down 2 — non-nibble widths stay
    // uniform over [0, 2^bits)
    val b10 = keys.toDF("k")
      .select(ZOrderCode.hashBucket(col("k"), 10).as("b"))
      .collect().map(_.getLong(0))
    b10 shouldBe keys.map(refBucket(_, 10)).toArray
    all(b10) should (be >= 0L and be < (1L << 10))
    // null stays null; bits bound is loud
    Seq(Option.empty[String]).map(Tuple1(_)).toDF("k")
      .select(ZOrderCode.hashBucket(col("k")))
      .collect()(0).isNullAt(0) shouldBe true
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.hashBucket(col("k"), 0)
    an[IllegalArgumentException] should be thrownBy
      ZOrderCode.hashBucket(col("k"), 32)
  }
}

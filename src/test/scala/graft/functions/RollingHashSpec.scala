package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling-hash expression: eval semantics, codegen path (used
  * inside a real DataFrame plan), null handling, extension injection.
  */
class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  private def refHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % RollingHash.Modulus)

  test("static hash matches the fold definition") {
    RollingHash.hash(UTF8String.fromString("abc")) shouldBe 96354L // ((0*31+97)*31+98)*31+99
    RollingHash.hash(UTF8String.fromString("")) shouldBe 0L
    val long = "spark " * 1000
    RollingHash.hash(UTF8String.fromString(long)) shouldBe refHash(long)
  }

  test("expression works in a codegen'd plan and handles nulls") {
    Kernels.register(spark)
    val df = Seq(Some("hello"), None, Some("world")).toDF("s")
      .withColumn("h", expr("rolling_hash(s)"))
    val rows = df.collect()
    rows.map(r => if (r.isNullAt(1)) -1L else r.getLong(1)) shouldBe
      Array(refHash("hello"), -1L, refHash("world"))
  }

  test("non-string input is rejected at analysis") {
    Kernels.register(spark)
    an[Exception] should be thrownBy
      Seq(1).toDF("i").selectExpr("rolling_hash(i)").collect()
  }

  test("literal input constant-folds at plan time") {
    Kernels.register(spark)
    val df = spark.range(1).selectExpr("rolling_hash('abc') AS h")
    // after optimization the expression is gone — only a Literal remains
    df.queryExecution.optimizedPlan.toString should include("96354")
    df.queryExecution.optimizedPlan.toString should not include "rolling_hash"
    df.collect().head.getLong(0) shouldBe 96354L
  }

  test("GraftExtensions injects every table function") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = new SimpleFunctionRegistry
    // registerFunctions is what session build runs; it is private[sql]
    // in Scala and public in bytecode
    ext.getClass.getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, registry)
    registry.listFunction().map(_.funcName).toSet shouldBe
      Kernels.table.map(_._1).toSet
    registry.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash"),
      Seq(Literal("abc"))).eval(null) shouldBe 96354L
  }

  test("weighted_min_key builder rejects bad arity / non-literal salt cleanly") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val id = Literal(UTF8String.fromString("1"), StringType)
    val w = Literal(1, IntegerType)
    val salt = Literal(UTF8String.fromString("s#"), StringType)
    WeightedMinKey.build(Seq(id, w, salt)).salt shouldBe "s#"
    val twoArgs = intercept[org.apache.spark.sql.AnalysisException] {
      WeightedMinKey.build(Seq(id, w))
    }
    twoArgs.getMessage should include("3 arguments")
    val nonLiteral = intercept[org.apache.spark.sql.AnalysisException] {
      WeightedMinKey.build(Seq(id, w,
        AttributeReference("c", StringType)()))
    }
    nonLiteral.getMessage should include("string literal")
  }

  test("weighted_min_key expression evaluates the kernel (SQL-injectable)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val e = WeightedMinKey(
      Literal(UTF8String.fromString("42"), StringType),
      Literal(3, IntegerType), "ws#")
    e.eval(null) shouldBe MinHashOps.weightedMinKey(
      UTF8String.fromString("42"), 3, UTF8String.fromString("ws#"))
    // weight 1 = plain hexHash of "id#1" under the same salt
    val one = WeightedMinKey(
      Literal(UTF8String.fromString("7"), StringType),
      Literal(1, IntegerType), "ws#")
    one.eval(null) shouldBe MinHashOps.weightedMinKey(
      UTF8String.fromString("7"), 1, UTF8String.fromString("ws#"))
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}

/** Every SQL function of [[Kernels.table]]: generated code and
  * interpreted eval agree, two calls compile in one generated
  * function, and malformed calls fail analysis naming the function.
  */
class KernelParitySpec extends SparkSpec {

  /** Sample calls per table name (a new table row needs a case); the
    * second zorder_code call takes the hand-written n-ary path.
    */
  private val samples: Map[String, Seq[String]] = Map(
    "rolling_hash" -> Seq("rolling_hash(s)"),
    "word_ngrams" -> Seq("word_ngrams(s, 2)"),
    "gram_stats" -> Seq("gram_stats(s, 2)"),
    "gram_rep_stats" -> Seq("gram_rep_stats(s, 1)"),
    "hashed_count_vector" -> Seq("hashed_count_vector(s, 8)"),
    "dot_product" -> Seq("dot_product(v, w)"),
    "quantized_dot" -> Seq("quantized_dot(q, r)"),
    "simhash16" -> Seq("simhash16(toks)"),
    "weighted_min_key" -> Seq("weighted_min_key(s, wt, 'w#')"),
    "hex_hash_array" -> Seq("hex_hash_array(toks, 'a#')"),
    "minhash_array" -> Seq("minhash_array(h1, h2, 4)"),
    "token_window_hashes" -> Seq("token_window_hashes(s, 2)"),
    "remove_token_spans" -> Seq("remove_token_spans(s, starts, 2)"),
    "zorder_code" -> Seq("zorder_code(x, y)", "zorder_code(x, y, wt)"))

  /** Input columns over a range scan, so projections compile instead of
    * folding into a local relation. `w` and `r` hold a null element on
    * one row (a poisoned dot product: null out of non-null inputs).
    */
  private val columns: Seq[(String, String)] = Seq(
    "s" -> "concat('a b ', repeat('c ', cast(id % 3 AS INT)), 'a b')",
    "toks" -> "split(concat('x y ', cast(id AS STRING)), ' ')",
    "v" -> "array(cast(id AS DOUBLE), 1.0)",
    "w" -> "array(1.0, if(id = 5, NULL, cast(id AS DOUBLE)))",
    "q" -> "array(cast(id AS TINYINT), cast(-1 AS TINYINT))",
    "r" -> "array(cast(2 AS TINYINT), if(id = 5, NULL, cast(id AS TINYINT)))",
    "h1" -> "array(id, id * 7 + 3)",
    "h2" -> "array(5L, id)",
    "starts" -> "array(0L, id % 4)",
    "wt" -> "cast(id % 3 + 1 AS INT)",
    "x" -> "id",
    "y" -> "id * 3")

  /** The columns as non-nullable expressions, and as nullable ones with
    * each column null on a different row.
    */
  private def frames: Seq[(String, DataFrame)] = {
    val rows = spark.range(12)
    Seq(
      "non-nullable" -> rows.selectExpr(columns.map { case (n, e) => s"$e AS $n" }: _*),
      "nullable" -> rows.selectExpr(columns.zipWithIndex.map { case ((n, e), i) =>
        s"CASE WHEN (id + $i) % 6 = 0 THEN NULL ELSE $e END AS $n"
      }: _*))
  }

  test("every table function has a sample call") {
    samples.keySet shouldBe Kernels.table.map(_._1).toSet
  }

  test("generated code matches interpreted eval, two calls per projection") {
    Kernels.register(spark)
    for ((_, calls) <- samples.toSeq.sortBy(_._1); call <- calls;
         (shape, df) <- frames) {
      def run(): Seq[Row] =
        df.selectExpr(s"$call AS a", s"$call AS b").collect().toSeq
      val generated = withConfs(
        "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        // two calls stay two generated calls
        "spark.sql.subexpressionElimination.enabled" -> "false")(run())
      val interpreted = withConfs(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
      withClue(s"$call ($shape): ") {
        generated shouldBe interpreted
        generated.foreach(row => row.get(0) shouldBe row.get(1))
        generated.count(_.isNullAt(0)) should be < generated.size
      }
    }
  }

  test("malformed SQL calls fail analysis naming the function") {
    Kernels.register(spark)
    Seq(
      "word_ngrams('a b c', null)" -> "word_ngrams: argument 2 must not be null",
      "hex_hash_array(array('a'), null)" -> "hex_hash_array: argument 2 must not be null",
      "word_ngrams('a b c')" -> "word_ngrams: takes 2 arguments, got 1",
      "minhash_array(array(1L), array(2L))" -> "minhash_array: takes 3 arguments, got 2",
      "word_ngrams('a b c', '2x')" -> "word_ngrams: argument 2 must be an int literal",
      "word_ngrams('a b c', length('ab') + id)" -> "word_ngrams: argument 2 must be an int literal",
      "zorder_code(id)" -> "zorder_code: takes 2 to 8 arguments, got 1"
    ).foreach { case (call, message) =>
      val e = intercept[AnalysisException](spark.range(1).selectExpr(call).collect())
      withClue(call) { e.getMessage should include(message) }
    }
  }
}

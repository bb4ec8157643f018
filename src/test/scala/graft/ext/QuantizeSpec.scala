package graft.ext

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** Int8 scalar quantization: the codes contract (exact, portable
  * arithmetic), the integer-dot kernel, and the approximation quality
  * of quantized search vs the float brute-force ground truth.
  */
class QuantizeSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf, "embeddings")

  test("codes are in [-127,127], the max-|x| element maps to ±127, " +
    "and dequantize is within scale/2 per element") {
    val rows = Quantize.quantize(emb.limit(20))
      .join(emb.limit(20), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("q_scale"), col("q_vec"))
      .collect()
    rows.length shouldBe 20
    rows.foreach { r =>
      val vec = r.getSeq[Float](1).map(_.toDouble)
      val scale = r.getDouble(2)
      val codes = r.getSeq[Byte](3)
      codes.length shouldBe vec.length
      codes.foreach(c => math.abs(c.toInt) should be <= 127)
      scale shouldBe (vec.map(math.abs).max / 127.0)
      // the largest-magnitude element saturates one of the endpoints
      val iMax = vec.indices.maxBy(i => math.abs(vec(i)))
      math.abs(codes(iMax).toInt) shouldBe 127
      // reconstruction error of linear quantization is half a step
      vec.indices.foreach { i =>
        math.abs(codes(i) * scale - vec(i)) should be <= (scale / 2 + 1e-12)
      }
    }
  }

  test("quantizeInt8 replays as the documented floor(x/scale+0.5) formula") {
    val rows = Quantize.quantize(emb.limit(50))
      .join(emb.limit(50), Seq("vec_id"))
      .select(col("embedding"), col("q_scale"), col("q_vec")).collect()
    rows.foreach { r =>
      val vec = r.getSeq[Float](0).map(_.toDouble)
      val scale = r.getDouble(1)
      val codes = r.getSeq[Byte](2)
      vec.indices.foreach { i =>
        val expect =
          if (scale <= 0.0) 0L
          else math.max(-127L, math.min(127L,
            math.floor(vec(i) / scale + 0.5).toLong))
        codes(i).toLong shouldBe expect
      }
    }
  }

  test("an all-zero vector gets scale 0, all-zero codes and null cosine") {
    val df = spark.sql(
      """SELECT CAST(array(0.0, 0.0, 0.0) AS array<float>) AS embedding,
        |       CAST(array(1.0, 2.0, 2.0) AS array<float>) AS other""".stripMargin)
    val out = df
      .withColumn("s", Quantize.int8Scale(col("embedding")))
      .withColumn("q", Quantize.quantizeInt8(col("embedding"), col("s")))
      .withColumn("qo", Quantize.quantizeInt8(col("other"),
        Quantize.int8Scale(col("other"))))
      .withColumn("c", Quantize.quantizedCosine(col("q"), col("qo")))
      .collect().head
    out.getAs[Double]("s") shouldBe 0.0
    out.getSeq[Byte](out.fieldIndex("q")) shouldBe Seq[Byte](0, 0, 0)
    out.isNullAt(out.fieldIndex("c")) shouldBe true
  }

  test("quantized_dot is the exact integer fold; null contract matches dot_product") {
    val df = spark.sql(
      """SELECT CAST(array(1, -2, 127) AS array<tinyint>) AS a,
        |       CAST(array(3, 4, -127) AS array<tinyint>) AS b,
        |       CAST(array(1, 2) AS array<tinyint>) AS short,
        |       CAST(array(1, NULL, 3) AS array<tinyint>) AS holed""".stripMargin)
    val out = df.select(
      Quantize.qdot(col("a"), col("b")).as("ab"),
      Quantize.qdot(col("a"), col("short")).as("mismatch"),
      Quantize.qdot(col("a"), col("holed")).as("holed"),
      Quantize.qdot(lit(null).cast("array<tinyint>"), col("a")).as("nul"))
      .collect().head
    out.getAs[Long]("ab") shouldBe (1L * 3 + (-2L) * 4 + 127L * (-127L))
    out.isNullAt(out.fieldIndex("mismatch")) shouldBe true
    out.isNullAt(out.fieldIndex("holed")) shouldBe true
    out.isNullAt(out.fieldIndex("nul")) shouldBe true
  }

  test("rank-1 is self, with self-cosine within one ulp of 1.0") {
    // n/(sqrt(n)*sqrt(n)) rounds to 0.9999999999999999 for some
    // integer norms — the oracle replays the identical IEEE ops so
    // the value is portable; the clamp only caps the OVERshoot side
    val out = Quantize.bruteForceKnnQuantized(
        emb, emb.filter(col("vec_id") < 3), k = 5)
      .filter(col("rank") === 1).collect()
    out.length shouldBe 3
    out.foreach { r =>
      r.getAs[Long]("neighbor_id") shouldBe r.getAs[Long]("query_id")
      r.getAs[Double]("qcos") should be >= (1.0 - 2 * Math.ulp(1.0))
      r.getAs[Double]("qcos") should be <= 1.0
    }
  }

  test("q124 gate: per-query recall@10 of int8 search vs float brute") {
    // the gated query emits recall as an oracle-checked column; this
    // spec pins the QUALITY floor. Since r20 the gate runs on the
    // clustered+noise fixture (the r18 ask: the raw embeddings'
    // near-tied rankings made recall arbitrary), where ground-truth
    // neighbor sets are REAL — int8's step now genuinely costs some
    // boundary neighbors (measured per-query 0.7–1.0 across SFs,
    // mean >= 0.8), instead of the old tie-saturated columns
    val out = graft.queries.ExtensionQueries.q124QuantizedKnn(spark, sf)
      .select(col("query_id"), col("recall")).distinct().collect()
    out.length shouldBe 5
    val recalls = out.map(_.getAs[Double]("recall"))
    recalls.foreach(_ should be >= 0.6)
    recalls.sum / recalls.length should be >= 0.8
  }

  test("ivfKnnQuantized: recall@10 >= 0.9 vs float brute, self found, " +
    "and probes match the float IVF's probe set") {
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = emb.filter(col("vec_id") < 8)
    val assignedQ = Quantize.quantize(
      Similarity.assignToCentroids(emb, centroids))
    val got = Quantize.ivfKnnQuantized(assignedQ, centroids, queries,
        k = 10, nprobe = 4)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceKnn(emb, queries, k = 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // per-query recall floor (same bar as the float IVF's q93 gate)
    (0L until 5L).foreach { q =>
      val t = truth.filter(_._1 == q)
      val hit = t.count(got.contains)
      withClue(s"query $q") { hit.toDouble / t.size should be >= 0.9 }
      got should contain((q, q))
    }
    // the candidate universe is the float IVF's: probe ranking is
    // float on both paths, so at the same nprobe the quantized search
    // can only re-rank within the identical probed clusters
    val floatIvf = Similarity.ivfKnn(emb, centroids, queries,
        k = 10, nprobe = 4)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = got.intersect(floatIvf).size.toDouble / got.size
    overlap should be >= 0.9
  }

  test("ivfKnnQuantized probing every centroid equals bruteForceKnnQuantized") {
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = emb.filter(col("vec_id") < 8)
    val all = Quantize.ivfKnnQuantized(
        Quantize.quantize(Similarity.assignToCentroids(emb, centroids)),
        centroids, queries, k = 10, nprobe = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    all shouldBe Quantize.bruteForceKnnQuantized(emb, queries, k = 10)
      .collect().map(_.toSeq).sortBy(_.toString)
  }

  test("rerankKnn: candidates >= corpus equals float brute exactly; " +
    "3k-wide pass recovers at least the plain int8 recall") {
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 5)
    val corpusQ = Quantize.quantize(emb)
    val full = Quantize.rerankKnn(corpusQ, emb, queries,
        k = 10, candidates = n)
      .collect().map(_.toSeq).sortBy(_.toString)
    val brute = Similarity.bruteForceKnn(emb, queries, k = 10)
      .collect().map(_.toSeq).sortBy(_.toString)
    full shouldBe brute
    // a 3×k wide pass: every candidate the plain int8 top-10 would
    // return is inside the wide set, so rerank recall can only match
    // or beat it (and the float tail fixes int8's rank inversions)
    val truth = brute.map(s => (s(0), s(1))).toSet
    val rer = Quantize.rerankKnn(corpusQ, emb, queries,
        k = 10, candidates = 30)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Quantize.bruteForceKnnQuantized(emb, queries, k = 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerHits = rer.count(p => truth.contains((p._1, p._2)))
    val plainHits = plain.count(p => truth.contains((p._1, p._2)))
    rerHits should be >= plainHits
    (0L until 5L).foreach(q => rer should contain((q, q)))
  }

  test("kNN tails plan as two-stage partial top-k (float and int8): " +
    "the scored cross product never reaches an exchange") {
    // pins the r17 rework (BASELINE §"Int8 quantized ANN"): the
    // ranking runs as TopKPerKeyExec(partial) -> exchange -> final,
    // so a regression back to a full-cross-product window exchange
    // fails here, not in a bench round
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec        => q +: nodes(q.plan)
      case n => n +: n.children.flatMap(nodes)
    }
    for (df <- Seq(
        Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 3), k = 5),
        Quantize.bruteForceKnnQuantized(emb, emb.filter(col("vec_id") < 3),
          k = 5))) {
      df.collect()
      val topks = nodes(df.queryExecution.executedPlan)
        .collect { case t: graft.plans.TopKPerKeyExec => t }
      topks.map(_.partial).sorted shouldBe Seq(false, true)
    }
  }

  test("quantized_dot is SQL-reachable after registration") {
    graft.functions.Kernels.register(spark)
    val out = spark.sql(
      """SELECT quantized_dot(CAST(array(1, -2, 127) AS array<tinyint>),
        |                     CAST(array(3, 4, -127) AS array<tinyint>)) AS d"""
        .stripMargin).collect().head
    out.getAs[Long]("d") shouldBe (3L - 8L - 16129L)
  }

  test("preQuantized search over a persisted int8 corpus equals in-scan coding") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("quantized_corpus").toString
    try {
      Quantize.quantize(emb).write.mode("overwrite").parquet(dir)
      val persisted = spark.read.parquet(dir)
      val a = Quantize.bruteForceKnnQuantized(
          persisted, persisted.filter(col("vec_id") < 5), k = 10,
          preQuantized = true)
        .collect().map(_.toSeq).sortBy(_.toString)
      val b = Quantize.bruteForceKnnQuantized(
          emb, emb.filter(col("vec_id") < 5), k = 10)
        .collect().map(_.toSeq).sortBy(_.toString)
      a shouldBe b
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}

package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 64
  private val n = 60

  private def corpus = {
    val rnd = new scala.util.Random(42)
    (0L until n).map(i =>
      (i, Array.fill(dims)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("vec_id", "embedding")
  }

  private def queriesOf(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  test("codebook shapes and code domain") {
    val c = corpus.cache()
    val cbs = Pq.trainCodebooks(c, c.filter(col("vec_id") < 8),
      m = 4, dims = dims, iters = 1)
    cbs.size shouldBe 4
    cbs.foreach { cb =>
      cb.size should be <= 8
      cb.foreach(_._2.length shouldBe 16)
    }
    val codes = Pq.encode(c, cbs, dims)
      .select(explode(col("pq_codes")).as("code"))
      .distinct().as[Long].collect().toSet
    val valid = cbs.flatMap(_.map(_._1)).toSet
    codes.subsetOf(valid) shouldBe true
    c.unpersist()
  }

  test("encoding is one map-side scan — no exchange") {
    val cbs = Pq.trainCodebooks(corpus, corpus.filter(col("vec_id") < 8),
      m = 4, dims = dims, iters = 1)
    val plan = Pq.encode(corpus, cbs, dims)
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("batched training equals the per-subspace kmeansTrain loop") {
    // trainCodebooks runs all m subspaces through ONE Lloyd loop (the
    // r21 job-count optimization); this pins it bit-identical to the
    // m independent kmeansTrain runs it replaced
    val c = corpus.cache()
    val seeds = c.filter(col("vec_id") < 8)
    val batched = Pq.trainCodebooks(c, seeds, m = 4, dims = dims, iters = 2)
    val perSub = (0 until 4).map { j =>
      def sub(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
          slice(col("embedding"), j * 16 + 1, 16).as("embedding"))
      Similarity.kmeansTrain(sub(c), sub(seeds), iters = 2, dims = 16)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    }
    batched.size shouldBe perSub.size
    batched.zip(perSub).foreach { case (b, p) =>
      b.map(_._1) shouldBe p.map(_._1)
      b.zip(p).foreach { case ((_, bv), (_, pv)) => bv.toSeq shouldBe pv.toSeq }
    }
    c.unpersist()
  }

  test("degenerate codebooks (every vector its own centroid) make ADC exact") {
    val c = corpus.cache()
    // iters = 0 keeps the seeds verbatim: each subspace codebook IS
    // the corpus's subvectors, so encode maps every vector to itself
    // and ADC reproduces the exact inner product
    val cbs = Pq.trainCodebooks(c, c, m = 4, dims = dims, iters = 0)
    val qs = queriesOf(c, 2)
    val adc = Pq.adcKnn(Pq.encode(c, cbs, dims), cbs, qs, k = 5)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val brute = Pq.bruteDotKnn(c, qs, k = 5)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    adc should contain theSameElementsAs brute
    c.unpersist()
  }

  test("rerank with candidates >= corpus equals the float brute ranking") {
    val c = corpus.cache()
    val cbs = Pq.trainCodebooks(c, c.filter(col("vec_id") < 8),
      m = 4, dims = dims, iters = 2)
    val qs = queriesOf(c, 3)
    val rer = Pq.rerankKnn(Pq.encode(c, cbs, dims), c, cbs, qs,
        k = 5, candidates = n)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val brute = Pq.bruteDotKnn(c, qs, k = 5)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    rer should contain theSameElementsAs brute
    c.unpersist()
  }

  test("bad inputs are rejected loudly") {
    an[IllegalArgumentException] should be thrownBy
      Pq.trainCodebooks(corpus, corpus, m = 5, dims = 64, iters = 1)
    an[IllegalArgumentException] should be thrownBy
      Pq.rerankKnn(corpus, corpus, IndexedSeq.empty, Seq((0L, new Array[Double](64))),
        k = 10, candidates = 5)
    val qs = queriesOf(corpus, 2)
    val centroids = corpus.filter(col("vec_id") < 8)
    an[IllegalArgumentException] should be thrownBy
      Pq.bruteDotKnn(corpus, qs, k = 0)
    val oneCode = IndexedSeq.fill(4)(Seq((0L, new Array[Double](16))))
    an[IllegalArgumentException] should be thrownBy
      Pq.adcKnn(Pq.encode(corpus, oneCode, dims), oneCode, qs, k = 0)
    an[IllegalArgumentException] should be thrownBy
      Pq.ivfAdcKnn(corpus, centroids, IndexedSeq.empty, qs, k = 5, nprobe = 0)
    an[IllegalArgumentException] should be thrownBy
      Pq.ivfResidualAdcKnn(corpus, centroids, IndexedSeq.empty, qs, k = 5, nprobe = 0)
  }

  test("ivfAdcKnn probing every centroid equals adcKnn") {
    val c = corpus.cache()
    val cbs = Pq.trainCodebooks(c, c.filter(col("vec_id") < 8),
      m = 4, dims = dims, iters = 2)
    val centroids = c.filter(col("vec_id") < 8)
    val qs = queriesOf(c, 3)
    val all = Pq.ivfAdcKnn(Pq.encode(Similarity.assignToCentroids(c, centroids),
        cbs, dims), centroids, cbs, qs, k = 5, nprobe = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    all shouldBe Pq.adcKnn(Pq.encode(c, cbs, dims), cbs, qs, k = 5)
      .collect().map(_.toSeq).sortBy(_.toString)
    c.unpersist()
  }

  test("PqAdc has value equality over its tables (canonicalization seam)") {
    import graft.functions.PqAdc
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def mk() = PqAdc(
      BoundReference(0, ArrayType(LongType), nullable = true),
      Array(Array(0L, 1L), Array(0L, 1L)),
      Array(Array(0.5, 1.5), Array(-2.0, 3.0)))
    // two independently-built instances with equal table CONTENTS must
    // be equal and hash equal — reference-based Array equality would
    // defeat semanticEquals / subexpression elimination
    mk() shouldBe mk()
    mk().hashCode() shouldBe mk().hashCode()
    mk().semanticEquals(mk()) shouldBe true
    val other = mk().copy(dots = Array(Array(0.5, 1.5), Array(-2.0, 9.0)))
    (mk() == other) shouldBe false
  }
}

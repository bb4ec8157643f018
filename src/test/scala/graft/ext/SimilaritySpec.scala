package graft.ext

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** Similarity search quality: IVF must be a faithful approximation of
  * brute force — perfect self-retrieval, and high recall@k against the
  * exact top-k on real embeddings.
  */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf, "embeddings")

  test("brute-force knn ranks self first with cosine 1.0") {
    val out = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 3), k = 5)
      .filter(col("rank") === 1).collect()
    out.length shouldBe 3
    out.foreach { r =>
      r.getAs[Long]("neighbor_id") shouldBe r.getAs[Long]("query_id")
      r.getAs[Double]("cosine") shouldBe 1.0
    }
  }

  test("IVF recall@5 vs brute force is usable (> 0.5) and self is found") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 16),
        queries, k = 5, nprobe = 4)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be > 0.5
    // every query's own vector must survive the cluster pruning
    (0L until 10L).foreach(q => approx should contain((q, q)))
  }

  test("q93 gate: per-query IVF recall@10 is >= 0.9 at its fixed nprobe") {
    // the gated query emits recall as an oracle-checked column; this
    // spec pins the QUALITY floor the gate's configuration achieves —
    // every query (not just the average) keeps >= 9 of its true
    // top-10 at nprobe=4 of 8 centroids. Measured on ALL THREE
    // fixtures: min 0.9 at sf0.001 (this spec's fixture), min 0.9 at
    // sf0.01 (verify), min 1.0 at sf0.1 (bench); nprobe=2-3 lost a
    // query to 0.7 at sf0.01
    val out = graft.queries.ExtensionQueries.q93IvfRecall(spark, sf)
      .select(col("query_id"), col("recall")).collect()
    out.length shouldBe 5
    out.foreach { r =>
      withClue(s"query ${r.getLong(0)}: ") {
        r.getDouble(1) should be >= 0.9
      }
    }
  }

  test("assignToCentroids is a pure scan: no exchange, aggregate, or join in the plan") {
    // the r12 contract behind the 8M-vector fix: assignment must stay
    // a map-side NearestCentroid projection — any regression back to
    // a shuffle/aggregation formulation re-opens the SortAggregate
    // fallback that OOM'd at corpus scale
    val assigned = Similarity.assignToCentroids(emb, emb.filter(col("vec_id") < 8))
    val plan = assigned.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Aggregate"
    plan should not include "Join"
    plan should include("nearest_centroid")
  }

  test("assignToCentroids covers every vector exactly once") {
    val assigned = Similarity.assignToCentroids(emb, emb.filter(col("vec_id") < 8))
    assigned.count() shouldBe emb.count()
    assigned.select("vec_id").distinct().count() shouldBe emb.count()
  }

  test("assignToCentroids rejects a null centroid id with an explicit error") {
    // advisor contract (r12): the legacy max_by formulation silently
    // let null-id centroids lose every comparison; the scan
    // formulation names the caller bug instead of NPE-ing
    val cents = emb.filter(col("vec_id") < 4)
      .select(when(col("vec_id") === 2, lit(null)).otherwise(col("vec_id"))
        .as("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.assignToCentroids(emb, cents)
    }
    e.getMessage should include("null centroid vec_id")
  }

  test("assignToCentroids fails fast on oversized centroids without a full collect") {
    // the driver-side collect is limit(MaxCentroids+1)-bounded, so a
    // mistaken corpus-sized input trips the guard after at most 64k+1
    // rows; the guard message (not an OOM) is the observable contract
    val max = graft.functions.NearestCentroid.MaxCentroids
    val over = spark.range(max + 5).toDF("vec_id")
      .withColumn("embedding", array(lit(1.0f), lit(0.0f)))
    val e = intercept[IllegalArgumentException] {
      Similarity.assignToCentroids(
        emb.select(col("vec_id"), array(lit(0.5f), lit(0.5f)).as("embedding")),
        over)
    }
    e.getMessage should include(s"exceeds $max")
    // the limit means the guard reports the bounded count, not the true one
    e.getMessage should include(s"${max + 1} centroids")
  }

  test("kmeansTrain moves centroids off their seeds and is deterministic") {
    val seeds = emb.filter(col("vec_id") < 8)
    val t1 = Similarity.kmeansTrain(emb, seeds, iters = 2, dims = 64)
    val t2 = Similarity.kmeansTrain(emb, seeds, iters = 2, dims = 64)
    val c1 = t1.orderBy("vec_id").collect().map(_.getSeq[Double](1))
    val c2 = t2.orderBy("vec_id").collect().map(_.getSeq[Double](1))
    c1.length should be <= 8
    c1.length should be > 0
    // bit-identical across runs (rounded means absorb summation order)
    c1.zip(c2).foreach { case (a, b) => a shouldBe b }
    // trained centroids differ from the raw seed vectors
    val seedVecs = seeds.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble))
    c1.zip(seedVecs).exists { case (t, s) => t != s } shouldBe true
  }

  test("kmeansTrain under Reliable checkpoint mode matches Local and frees rounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_km").toFile
    try {
      val seeds = emb.filter(col("vec_id") < 8)
      val local = Similarity.kmeansTrain(emb, seeds, iters = 2, dims = 64)
        .orderBy("vec_id").collect().map(_.getSeq[Double](1))
      val reliable = Similarity.kmeansTrain(emb, seeds, iters = 2, dims = 64,
          mode = CheckpointMode.Reliable(dir.getAbsolutePath))
        .orderBy("vec_id").collect().map(_.getSeq[Double](1))
      reliable.length shouldBe local.length
      reliable.zip(local).foreach { case (a, b) => a shouldBe b }
      // superseded rounds freed: only the final centroids' checkpoint
      // remains (layout: dir/<uuid>/rdd-<id>)
      val rddDirs = Option(dir.listFiles()).toSeq.flatten
        .flatMap(u => Option(u.listFiles()).toSeq.flatten)
        .filter(_.getName.startsWith("rdd-"))
      rddDirs.size shouldBe 1
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("training improves IVF recall over raw seed centroids") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(centroids: org.apache.spark.sql.DataFrame): Double = {
      val approx = Similarity.ivfKnn(emb, centroids, queries, k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val seeds = emb.filter(col("vec_id") < 8)
    val trained = Similarity.kmeansTrain(emb, seeds, iters = 3, dims = 64)
    val trainedRecall = recall(trained)
    trainedRecall should be > 0.5
    // Lloyd rounds should not make the index WORSE than untrained seeds
    trainedRecall should be >= recall(seeds) - 0.1
  }

  test("kNN faces reject k < 1 and nprobe < 1 at plan construction, naming each") {
    val queries = emb.filter(col("vec_id") < 3)
    val centroids = emb.filter(col("vec_id") < 8)
    def rejects(param: String)(search: => Any): Unit =
      intercept[IllegalArgumentException](search).getMessage should include(
        s"$param must be >= 1")
    rejects("k")(Similarity.bruteForceKnn(emb, queries, k = 0))
    rejects("k")(Similarity.bruteForceKnn(emb, queries, k = -1))
    rejects("k")(Quantize.bruteForceKnnQuantized(emb, queries, k = 0))
    rejects("nprobe")(Similarity.ivfKnn(emb, centroids, queries, k = 5, nprobe = 0))
    rejects("nprobe")(Quantize.ivfKnnQuantized(
      Quantize.quantize(Similarity.assignToCentroids(emb, centroids)),
      centroids, queries, k = 5, nprobe = 0))
  }

  test("IVF probing every centroid equals brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = emb.filter(col("vec_id") < 8)
    val all = Similarity.ivfKnnPreassigned(
        Similarity.assignToCentroids(emb, centroids), centroids, queries,
        k = 10, nprobe = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    all shouldBe Similarity.bruteForceKnn(emb, queries, k = 10)
      .collect().map(_.toSeq).sortBy(_.toString)
  }

  test("SRP planes are deterministic ±1 and engine-rebuildable") {
    val p1 = Similarity.srpPlanes(4, 16)
    val p2 = Similarity.srpPlanes(4, 16)
    p1 shouldBe p2
    p1.flatten.toSet.subsetOf(Set(1.0, -1.0)) shouldBe true
    // not degenerate: both signs appear
    p1.flatten.toSet should have size 2
  }

  test("SRP-LSH pairs are a subset of brute-force pairs, with recall") {
    val sub = emb.filter(col("vec_id") < 200)
    // ground truth through the guarded all-pairs primitive — the same
    // shape the gated q33/q97 verify slices use
    val brute = BoundedPairs.allPairs(
        sub.select(col("vec_id").as("id"), col("embedding").as("v")), "id")
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.srpNearDupPairs(sub, threshold = 0.35,
        numBands = 4, planesPerBand = 4, dims = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh.subsetOf(brute) shouldBe true // verify stage guarantees precision
    if (brute.nonEmpty)
      (lsh intersect brute).size.toDouble / brute.size should be > 0.3
  }

  test("cosine compiles with several dot products over non-nullable arrays") {
    // each dot_product call in one generated function needs its own
    // locals; a clash fails compilation, which fallback=false surfaces
    withConfs("spark.sql.codegen.fallback" -> "false") {
      val got = spark.range(1, 5)
        .select(array(col("id").cast("double"), lit(1.0)).as("a"),
          array(lit(1.0), col("id").cast("double")).as("b"))
        .select(Similarity.cosine(col("a"), col("b")),
          Similarity.dot(col("a"), col("b")))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
      got shouldBe (1 to 4).map { i =>
        val norm = math.sqrt(i * i + 1.0)
        (2.0 * i / (norm * norm), 2.0 * i)
      }
    }
  }

  test("SRP-LSH plan has no cartesian product") {
    // lazy variant: the public entry checkpoints, truncating the plan
    val (pairs, caches, _) = Similarity.srpNearDupPairsLazy(emb, 0.9,
      numBands = 2, planesPerBand = 6, dims = 64,
      idCol = "vec_id", vecCol = "embedding")
    try pairs.queryExecution.executedPlan.toString should
      not include "CartesianProduct"
    finally caches.foreach(_.unpersist())
  }

  test("SRP banding rejects parameters it cannot honour, naming each") {
    // numBands = 0 bands nothing (0 pairs, no error); planesPerBand = 0
    // has no bits to sum; a 65th plane's `1L << 64` is `1L`, aliasing
    // plane 0's bit; dims = 0 has no projection
    val sub = emb.filter(col("vec_id") < 40)
    Seq((0, 4, 64, "numBands"), (2, 0, 64, "planesPerBand"),
        (2, 65, 64, "planesPerBand"), (2, 4, 0, "dims")).foreach {
      case (bands, planes, dims, param) =>
        withClue(s"bands=$bands planes=$planes dims=$dims: ") {
          val e = intercept[IllegalArgumentException] {
            Similarity.srpNearDupPairs(sub, 0.9, bands, planes, dims)
          }
          e.getMessage should include(param)
        }
    }
    // the edge of the range still bands: 64 planes fill the bucket id
    Similarity.srpNearDupPairs(sub, 0.9, 1, 64, 64).count() should be >= 0L
  }

  test("srpFrames: a null vector has no band rows, a wrong-length one fails") {
    import spark.implicits._
    val good = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val holed = Seq(98L).toDF("vec_id").select(col("vec_id"), array((0 until 64)
      .map(i => if (i == 1) lit(null).cast("double") else lit(1.0)): _*).as("embedding"))
    val withNull = good.unionByName(
      Seq((99L, null: Seq[Double])).toDF("vec_id", "embedding")).unionByName(holed)
    val (base, banded) = Similarity.srpFrames(withNull, "vec_id", "embedding",
      2, 4, 64)
    try {
      val ids = banded.select("id").distinct().collect().map(_.getLong(0)).toSet
      ids shouldBe (0L until 4L).toSet
      banded.count() shouldBe 4L * 2
    } finally { base.unpersist(); banded.unpersist() }

    val short = Seq((7L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    val (sBase, sBanded) = Similarity.srpFrames(short, "vec_id", "embedding",
      2, 4, 8)
    try {
      val e = intercept[Exception](sBanded.collect())
      e.getMessage should include("dims (8)")
    } finally { sBase.unpersist(); sBanded.unpersist() }
  }
}

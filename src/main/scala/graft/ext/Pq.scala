package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (IVF-PQ's compression rung — Jégou et al.
  * 2011): split each D-dim vector into m subvectors, train a small
  * codebook per SUBSPACE with the engine's existing Lloyd loop
  * ([[Similarity.kmeansTrain]] — cosine assignment, per-iteration
  * 6-dp rounding, so training itself is oracle-replayable), and store
  * each vector as m codes. After int8's 4× (q124), PQ is the next
  * memory rung: m=8 byte-sized codes vs 64 floats is 32× before
  * parquet encoding; search scans CODES and scores by ADC —
  * per-query per-subspace dot tables, m lookups + adds per candidate
  * ([[graft.functions.PqAdc]]).
  *
  * Metric contract: code ASSIGNMENT is cosine (scale-invariant,
  * reuses NearestCentroid's exact tie/fallback semantics the oracles
  * already replay); ADC SCORING estimates the INNER PRODUCT
  * `dot(q, x̂) = Σ_j dot(q_j, c_{j,code_j})` (linearity of the dot
  * over concatenation), ranked desc with neighbor-id tie-break.
  * Every float step is engineered for bit-exact SQL replay — see
  * PqAdc's scaladoc.
  *
  * Scale shape: training touches m small sub-corpora (each Lloyd
  * round is a broadcast-assignment scan + a dims+1-doubles-per-group
  * partial agg); encoding is ONE pure map-side scan (m codegen'd
  * argmax expressions over slices — no shuffle, no join); ADC search
  * is a scan of the m-codes table + the same partial top-k tail the
  * float/int8 paths use. Nothing corpus-sized ever shuffles.
  *
  * The searches run the one kNN plan in [[Knn]]: the exact-dot scorer
  * for [[bruteDotKnn]] and the rerank tail, and the per-query step
  * with the ADC score (probe-gated for the IVF faces) otherwise.
  */
object Pq {

  /** Per-subspace codebooks: `codebooks(j)` lists (cid, centroid). */
  type Codebooks = IndexedSeq[Seq[(Long, Array[Double])]]

  private def subVec(vecCol: String, j: Int, dsub: Int): Column =
    slice(col(vecCol).cast("array<double>"), j * dsub + 1, dsub)

  /** Training slice keeps the corpus element type (array<float>) —
    * [[Similarity.kmeansTrain]]'s typed mean aggregator consumes
    * floats and does its own double cast at assignment, exactly like
    * the full-vector IVF path.
    */
  private def subVecRaw(vecCol: String, j: Int, dsub: Int): Column =
    slice(col(vecCol), j * dsub + 1, dsub)

  /** Train m per-subspace codebooks with the shared Lloyd recipe
    * (cosine assignment via [[graft.functions.NearestCentroid]],
    * per-cluster mean through [[CentroidAggregator]], 6-dp rounding
    * per round). `seeds` rows become initial centroids (their ids are
    * the code ids — the caller picks deterministic seeds, e.g. the k
    * lowest vec_ids, exactly like the IVF gates).
    *
    * The m Lloyd loops run BATCHED: the subspaces are independent, so
    * instead of m sequential [[Similarity.kmeansTrain]] calls (each
    * iteration of each subspace a separate corpus scan + aggregation
    * + collect — ~m·iters tiny jobs whose fixed scheduling cost
    * dominates at small corpora and whose m redundant corpus scans
    * dominate at large ones), ONE exploded (j, subvector) frame
    * carries every subspace through a shared loop: per iteration one
    * corpus scan (the assignment CASEs over j, each branch the same
    * codegen'd NearestCentroid expression the per-subspace path
    * used), one (j, cid) aggregation, one collect. Result-identical
    * by construction: each (j, cid) group aggregates the same
    * multiset of subvectors through the same aggregator, and the
    * per-round 6-dp rounding absorbs summation-order drift exactly as
    * kmeansTrain's scaladoc argues for its own shuffles (PqSpec pins
    * batched ≡ per-subspace executably).
    */
  def trainCodebooks(corpus: DataFrame, seeds: DataFrame, m: Int, dims: Int,
                     iters: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Codebooks = {
    require(m > 0 && dims % m == 0, s"pq: dims $dims not divisible by m=$m")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dims / m
    // initial codebooks: the seed slices, cast to double IN the plan
    // (same cast site as kmeansTrain's seed select) — one collect for
    // all m subspaces
    var cbs: IndexedSeq[Seq[(Long, Array[Double])]] = {
      val rows = seeds.select(col(idCol).cast("long").as("id"),
          array((0 until m).map(j => subVec(vecCol, j, dsub)): _*).as("svs"))
        .collect()
      (0 until m).map { j =>
        rows.toSeq.map { r =>
          require(!r.isNullAt(0),
            "pq trainCodebooks: null seed id — every seed needs a " +
              "non-null id (the id is the code id and tiebreak)")
          val s = r.getSeq[scala.collection.Seq[Any]](1)(j)
          (r.getLong(0),
            if (s == null || s.exists(_ == null))
              null
            else s.map(_.asInstanceOf[Double]).toArray)
        }.sortBy(_._1)
      }
    }
    val agg = CentroidAggregator(dsub).toColumn
    for (_ <- 1 to iters) {
      // one scan: (j, sv) exploded, assigned per subspace by a CASE
      // whose branch j carries subspace j's centroid literal
      val exploded = corpus.select(posexplode(
        array((0 until m).map(j => subVecRaw(vecCol, j, dsub)): _*))
        .as(Seq("j", "sv")))
      val assignJ = (1 until m).foldLeft(
        when(col("j") === 0, graft.functions.NearestCentroid.nearest(
          col("sv").cast("array<double>"), cbs(0)))) { (acc, j) =>
        acc.when(col("j") === j, graft.functions.NearestCentroid.nearest(
          col("sv").cast("array<double>"), cbs(j)))
      }
      val next = exploded
        .select(col("j"), assignJ.cast("long").as("cid"), col("sv"))
        .as[(Int, Long, Seq[Float])]
        .groupByKey(t => (t._1, t._2))
        .mapValues(_._3)
        .agg(agg.name("c"))
        .toDF("jc", "c")
        .select(col("jc._1").as("j"), col("jc._2").as("cid"),
          transform(col("c"), v => round(v, 6)).as("cv"))
        .collect()
      cbs = (0 until m).map { j =>
        next.toSeq.filter(_.getInt(0) == j)
          .map(r => (r.getLong(1), r.getSeq[Double](2).toArray))
          .sortBy(_._1)
      }
    }
    cbs
  }

  /** Encode: ONE map-side scan adding `codesCol` = the m per-subspace
    * nearest-centroid ids (array<bigint>). Drop the float column for
    * the persisted PQ face.
    */
  def encode(corpus: DataFrame, codebooks: Codebooks, dims: Int,
             vecCol: String = "embedding",
             codesCol: String = "pq_codes"): DataFrame = {
    val m = codebooks.size
    val dsub = dims / m
    corpus.withColumn(codesCol, array((0 until m).map { j =>
      graft.functions.NearestCentroid.nearest(
        subVec(vecCol, j, dsub), codebooks(j))
    }: _*))
  }

  /** The exact inner-product scorer over the double-cast vectors. */
  private def dotScorer(vecCol: String): Knn.Scorer =
    Knn.Scorer(_.cast("array<double>"), col(vecCol).cast("array<double>"),
      "dot", graft.functions.DotProduct.dot)

  /** Driver-side queries as a (query_id, q_vec) frame. */
  private def queryFrame(spark: org.apache.spark.sql.SparkSession,
                         queries: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "q_vec")
  }

  /** ADC top-k: score every encoded row against every query (queries
    * are a driver-side handful, like the centroid matrices) in one
    * scan — per-query ADC columns, posexplode, then the family's
    * partial top-k tail. Returns (query_id, neighbor_id, rank,
    * adc_dot).
    */
  def adcKnn(encoded: DataFrame, codebooks: Codebooks,
             queries: Seq[(Long, Array[Double])], k: Int,
             idCol: String = "vec_id",
             codesCol: String = "pq_codes"): DataFrame = {
    require(queries.nonEmpty, "pq adcKnn: no queries")
    Knn.perQuery(encoded, queries, k, idCol, "adc_dot") { case (_, qv) =>
      graft.functions.PqAdc.score(col(codesCol), codebooks, qv)
    }
  }

  /** Exact inner-product brute top-k over the FLOAT corpus — PQ's
    * ground truth ([[adcKnn]]'s metric without the quantization), for
    * recall gates and the rerank tail. Returns (query_id,
    * neighbor_id, rank, dot).
    */
  def bruteDotKnn(corpusF: DataFrame, queries: Seq[(Long, Array[Double])],
                  k: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    Knn.brute(corpusF, queryFrame(corpusF.sparkSession, queries),
      dotScorer(vecCol), k, idCol, "query_id")

  /** IVF × PQ — the full production ANN composition (FAISS's IVF-PQ
    * shape, assembled from the engine's own parts): float centroid
    * PROBE ranking (the q35/q127 probe dataflow — centroids are tiny,
    * probe ranking costs nothing) over a corpus stored as PQ CODES,
    * so the corpus-sized part of the search scans m codes per vector
    * (32× fewer bytes than floats here) and scores by ADC inside the
    * probed clusters only.
    *
    * Probe sets come from the shared [[Knn.probes]] (the exact
    * dataflow the IVF oracles replay) and are collected: queries are a
    * driver-side handful, so the probe table is queries × nprobe rows.
    * The search itself is ONE map-side scan of the coded corpus: per
    * query, ADC scores gated on probed-cluster membership, then the
    * family's partial top-k tail.
    *
    * @param encodedAssigned (idCol, pq_codes, centroid_id) — [[encode]]
    *                        over an assigned corpus (or a loaded
    *                        [[IvfIndex]] assignments frame re-encoded)
    */
  def ivfAdcKnn(encodedAssigned: DataFrame, centroids: DataFrame,
                codebooks: Codebooks, queries: Seq[(Long, Array[Double])],
                k: Int, nprobe: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                codesCol: String = "pq_codes"): DataFrame =
    probedAdc("ivfAdcKnn", encodedAssigned, centroids, codebooks, queries,
      k, nprobe, idCol, vecCol, codesCol, "centroid_id", residual = false)

  /** The two IVF × PQ faces: per query, the ADC score of rows in its
    * probed clusters — plus, for `residual` codes, the per-cluster
    * constant `dot(q, centroid)` as a CASE over the probed clusters
    * (none otherwise: a zero constant would turn a -0.0 score into
    * +0.0).
    */
  private def probedAdc(face: String, encodedAssigned: DataFrame,
                        centroids: DataFrame, codebooks: Codebooks,
                        queries: Seq[(Long, Array[Double])], k: Int,
                        nprobe: Int, idCol: String, vecCol: String,
                        codesCol: String, centIdCol: String,
                        residual: Boolean): DataFrame = {
    require(queries.nonEmpty, s"pq $face: no queries")
    val probes = Knn.probeSets(Knn.probes(centroids,
      queryFrame(encodedAssigned.sparkSession, queries), nprobe, idCol, vecCol))
    val cents: Map[Long, Array[Double]] =
      if (!residual) Map.empty
      else centroids.select(col(idCol), col(vecCol).cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    Knn.perQuery(encodedAssigned, queries, k, idCol, "adc_dot") { case (qid, qv) =>
      val probed = probes.getOrElse(qid, Set.empty[Long])
      if (probed.isEmpty) lit(null).cast("double")
      else {
        val adc = graft.functions.PqAdc.score(col(codesCol), codebooks, qv)
        val score = if (!residual) adc else probed.toSeq.sorted.map { cid =>
          val cv = cents.getOrElse(cid, throw new IllegalArgumentException(
            s"pq $face: probed centroid $cid not in frame"))
          // ascending-index dot: the same fold list_dot_product runs
          when(col(centIdCol) === cid,
            lit(qv.indices.foldLeft(0.0)((acc, i) => acc + qv(i) * cv(i))))
        }.reduceRight((a, b) => a.otherwise(b)) + adc
        when(col(centIdCol).isInCollection(probed), score)
      }
    }
  }

  /** RESIDUAL frame (FAISS IVF-PQ's actual encoding): each assigned
    * vector becomes x − centroid(x), cast back to the corpus element
    * type (float) so the shared trainer/encoder consume it verbatim.
    * Residuals concentrate around 0 with far smaller spread than raw
    * vectors, which is what preserves recall at production
    * compression — codebooks spend their 2^bits cells on the
    * within-cluster geometry instead of re-describing the coarse
    * structure the IVF assignment already captured.
    *
    * Arithmetic contract (oracle-replayable): per element,
    * `CAST(x_i − c_i AS FLOAT)` — one IEEE double subtract then one
    * round-to-float, identical in Spark and DuckDB. One broadcast
    * join against the tiny centroid frame; map-side otherwise.
    *
    * MATERIALIZE the result (`localCheckpoint`/`persist`) before
    * feeding it to [[trainCodebooks]]: training scans the corpus
    * m subspaces × iters times, and re-evaluating the assignment
    * join each scan multiplies the whole pipeline's cost (measured
    * 4× on the q152 gate).
    */
  def residuals(assigned: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding",
                centIdCol: String = "centroid_id"): DataFrame = {
    val c = centroids.select(col(idCol).as(centIdCol),
      col(vecCol).cast("array<double>").as("_cent_vec"))
    assigned.join(broadcast(c), Seq(centIdCol))
      .withColumn(vecCol,
        zip_with(col(vecCol).cast("array<double>"), col("_cent_vec"),
          (x, y) => x - y).cast("array<float>"))
      .drop("_cent_vec")
  }

  /** IVF × PQ over RESIDUAL codebooks — [[ivfAdcKnn]] with the score
    * decomposed as `dot(q, x̂) = dot(q, c) + dot(q, r̂)` (linearity:
    * x̂ = centroid + reconstructed residual): the per-candidate ADC
    * lookup runs against residual codebooks, and the per-cluster
    * constant `dot(q, centroid)` — a queries × centroids handful —
    * is added as a driver-built CASE over the probed clusters. The
    * addition order is `qc_dot + (ascending-j ADC sum)`, so a SQL
    * oracle replays the exact double.
    *
    * @param encodedAssigned (idCol, codesCol, centIdCol) — [[encode]]
    *                        over [[residuals]] of an assigned corpus
    * @param resCodebooks    codebooks TRAINED ON RESIDUALS
    */
  def ivfResidualAdcKnn(encodedAssigned: DataFrame, centroids: DataFrame,
                        resCodebooks: Codebooks,
                        queries: Seq[(Long, Array[Double])], k: Int,
                        nprobe: Int, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        codesCol: String = "pq_codes",
                        centIdCol: String = "centroid_id"): DataFrame =
    probedAdc("ivfResidualAdcKnn", encodedAssigned, centroids, resCodebooks,
      queries, k, nprobe, idCol, vecCol, codesCol, centIdCol, residual = true)

  /** Two-stage rerank (the q124 rerankKnn pattern at the PQ rung): a
    * WIDE ADC pass over the codes, then an exact float dot re-rank of
    * just the candidates. With `candidates ≥ |corpus|` it EQUALS the
    * float brute ranking (spec-pinned); a few × k buys PQ's scan at
    * near-exact recall.
    */
  def rerankKnn(encoded: DataFrame, corpusF: DataFrame,
                codebooks: Codebooks, queries: Seq[(Long, Array[Double])],
                k: Int, candidates: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                codesCol: String = "pq_codes"): DataFrame =
    Knn.rerank("pq rerankKnn",
      adcKnn(encoded, codebooks, queries, candidates, idCol, codesCol),
      corpusF, queryFrame(encoded.sparkSession, queries), dotScorer(vecCol),
      k, candidates, idCol, "query_id")
}

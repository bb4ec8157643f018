package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star ✚): brute-force cosine top-k
  * as the baseline, IVF (centroid-pruned) search as the scale path.
  *
  * Cosine is computed over double-cast arrays with a sequential left
  * fold (`aggregate` over `zip_with`) — the same IEEE operation order a
  * columnar engine uses, so results are bit-identical to the DuckDB
  * oracle's `list_cosine_similarity(CAST(.. AS DOUBLE[]), ..)`.
  *
  * Scale design: the query/centroid side is always the broadcast side —
  * the corpus never shuffles for scoring, only for the per-query top-k
  * (a window over candidates, which IVF keeps small).
  *
  * The kNN faces here are the float scorer over the one search plan
  * in [[Knn]] (probe ranking, scoring, top-k), which the int8
  * ([[Quantize]]) and PQ ([[Pq]]) faces share.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns — the
    * native [[graft.functions.DotProduct]] expression: same IEEE fold
    * order as the `aggregate(zip_with(...))` HOF it replaces (so the
    * bit-parity with the columnar oracle is preserved), but codegen'd
    * instead of interpreted per element.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** Cosine similarity; inputs may be array<float> (cast is exact).
    * Clamped to [-1, 1] — self-similarity folds to 1 + 2ulp otherwise
    * (and columnar engines clamp too, so the oracle expects it).
    * Zero-magnitude vectors yield null, never a clamped NaN: Spark
    * sorts NaN above every double, so an unguarded 0/0 would rank a
    * zero vector as a perfect match.
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val denom = sqrt(dot(ad, ad)) * sqrt(dot(bd, bd))
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(least(greatest(dot(ad, bd) / denom, lit(-1.0)), lit(1.0)))
  }

  /** The float scorer: [[cosine]] of the raw vectors. */
  private[ext] def scorer(vecCol: String): Knn.Scorer =
    Knn.Scorer(identity, col(vecCol), "cosine", cosine)

  /** Brute-force top-k: score every (query, corpus) pair, keep the k
    * best per query (ties broken by corpus id). Queries are broadcast;
    * the corpus is scanned once, map-side.
    *
    * The top-k itself runs through [[graft.plans.TopK.topKPerKey]]
    * (map-side partial top-k) since r17: a window over the scored
    * cross product would SHUFFLE all |corpus|×|queries| scored rows to
    * rank them (measured at 8 M×20: the exchange dominated the whole
    * search and its wall-clock swung 3× run-to-run with spill
    * pressure); the partial shrinks the exchange to ≤ k rows per query
    * per partition. Same total order (score desc NULLS LAST,
    * neighbor_id asc) → results bit-identical, and the tiny
    * rank-stamping window afterwards sorts ≤ k·queries rows.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    queryIdCol: String = "query_id"): DataFrame =
    Knn.brute(corpus, Knn.queries(queries, idCol, vecCol, queryIdCol),
      scorer(vecCol), k, idCol, queryIdCol)

  /** Assign every corpus vector to its nearest centroid (argmax cosine,
    * smaller centroid id as tiebreak) — a pure MAP-SIDE scan: the
    * centroid matrix (driver-collected, bounded by
    * [[graft.functions.NearestCentroid.MaxCentroids]] — IVF centroid
    * sets are small by design) rides the plan as a reference object
    * inside one codegen'd [[graft.functions.NearestCentroid]]
    * expression, so assignment adds NO shuffle, NO join, NO
    * aggregation to the corpus scan.
    *
    * This replaces the round-6 `crossJoin(broadcast) + groupBy +
    * max_by(struct)` formulation, whose ARRAY/STRUCT aggregation
    * buffers forced Spark's SortAggregate fallback over the exploded
    * (corpus × centroids) intermediate — measured round 12: 512 M
    * boxed sorted rows at 8 M vectors × 64 centroids, OOM on an 8 g
    * heap. Same results bit-for-bit (same fold/sqrt/clamp cosine, same
    * null-loses / all-null-takes-min-id / tie-takes-min-id contract);
    * the scan shape is what changed.
    *
    * The collect is bounded BEFORE it happens: the plan carries a
    * `limit(MaxCentroids + 1)`, so a mistaken corpus-sized `centroids`
    * input fails the [[graft.functions.NearestCentroid.MaxCentroids]]
    * guard after materializing at most 64 k + 1 rows on the driver —
    * it cannot OOM the driver first. A null centroid id is rejected
    * with an explicit error (the legacy max_by formulation silently let
    * null ids lose every comparison; an id that can never win is a
    * caller bug, not a contract).
    *
    * Note the collect is an EAGER Spark action at plan-construction
    * time: each call (and each [[kmeansTrain]] round, each [[ivfKnn]])
    * re-runs the centroid plan. Callers holding an expensive centroid
    * plan should cache/checkpoint it first — [[kmeansTrain]] does
    * (per-round [[Checkpointing.checkpoint]]).
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    import graft.functions.NearestCentroid.MaxCentroids
    val cents = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(MaxCentroids + 1)
      .collect()
      .map { r =>
        require(!r.isNullAt(0),
          s"assignToCentroids: null centroid $idCol — every centroid needs " +
            "a non-null id (the id is the assignment label and tiebreak)")
        val v =
          if (r.isNullAt(1)) null
          else {
            val s = r.getSeq[Any](1)
            if (s.contains(null)) null
            else s.asInstanceOf[Seq[Double]].toArray
          }
        (r.getLong(0), v)
      }
    corpus.select(col(idCol), col(vecCol))
      .withColumn("centroid_id", graft.functions.NearestCentroid.nearest(
        col(vecCol).cast("array<double>"), cents.toSeq))
  }

  /** Lloyd k-means training over an embedding corpus — the missing
    * half of IVF: [[ivfKnn]] searches with centroids, this builds them
    * from data. Each round = assignToCentroids (centroids broadcast,
    * corpus never shuffles for scoring) + per-cluster mean via the
    * typed [[CentroidAggregator]] (map-side partial sums, dims+1
    * doubles per group shuffle). `localCheckpoint` truncates lineage
    * per round — the DupClusters lesson: without it the plan doubles
    * every iteration; superseded rounds' blocks are freed.
    *
    * Determinism: cluster means are rounded to `roundDp` decimals each
    * round, which absorbs summation-order drift (~1e-13) so repeated
    * runs — and a single-threaded oracle replaying the same seeding
    * and iteration count — stay in bit-identical lockstep.
    *
    * @param seeds initial centroid frame (idCol, vecCol); ids become
    *              cluster ids. Deterministic seeding (e.g. the k
    *              lowest-id vectors) is the caller's choice.
    * @param mode  where per-round state lives ([[CheckpointMode]]:
    *              executor-local default, or a reliable checkpoint dir
    *              for fault-tolerant production runs)
    * @return (idCol, vecCol) centroid frame, vecCol array<double>;
    *         clusters that lose all members drop out (standard Lloyd).
    */
  def kmeansTrain(corpus: DataFrame, seeds: DataFrame, iters: Int, dims: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  roundDp: Int = 6,
                  mode: CheckpointMode = CheckpointMode.Local): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val agg = graft.ext.CentroidAggregator(dims).toColumn
    var (centroids, prevState) = Checkpointing.checkpoint(
      seeds.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol)),
      mode)
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(corpus, centroids, idCol, vecCol)
      val (next, nextState) = Checkpointing.checkpoint(
        assigned
          .select(col("centroid_id").cast("long"), col(vecCol))
          .as[(Long, Seq[Float])]
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(agg.name("c"))
          .toDF("cid", "c")
          .select(col("cid").as(idCol),
            transform(col("c"), v => round(v, roundDp)).as(vecCol)),
        mode)
      Checkpointing.free(spark, prevState)
      prevState = nextState
      centroids = next
    }
    centroids
  }

  /** IVF search: rank centroids per query, probe the `nprobe` nearest
    * clusters, and brute-force only inside them. The candidate set per
    * query shrinks by ~numCentroids/nprobe — the standard ANN recall/
    * cost dial. Returns (query_id, neighbor_id, rank, cosine).
    */
  def ivfKnn(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
             k: Int, nprobe: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Knn.probed(assignToCentroids(corpus, centroids, idCol, vecCol), centroids,
      Knn.queries(queries, idCol, vecCol), nprobe, scorer(vecCol), k, idCol, vecCol)

  /** [[ivfKnn]] over an ALREADY-ASSIGNED corpus — the serve path of
    * "train once, serve many batches": assignment is the only
    * corpus-sized scan in IVF search, so a persisted
    * (id, vector, centroid_id) frame ([[IvfIndex]]) turns every later
    * query batch into probe-ranking (queries × centroids, broadcast)
    * plus a join that touches only the probed clusters' rows.
    *
    * @param assigned (idCol, vecCol, centroid_id) — the exact output
    *                 shape of [[assignToCentroids]]
    */
  def ivfKnnPreassigned(assigned: DataFrame, centroids: DataFrame,
                        queries: DataFrame, k: Int, nprobe: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    Knn.probed(assigned, centroids,
      Knn.queries(queries, idCol, vecCol), nprobe, scorer(vecCol), k, idCol, vecCol)

  /** Deterministic Rademacher (±1) hyperplanes for sign-random-
    * projection LSH: sign(p, i) = +1 iff the first hex digit of
    * md5("srp<p>_<i>") is >= '8'. Derivable in ANY engine with md5 —
    * the oracle rebuilds the identical planes in SQL, no shipped state.
    */
  def srpPlanes(numPlanes: Int, dims: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dims).map { i =>
        md.reset()
        val h = md.digest(s"srp${p}_${i}".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1.0 else -1.0
      }
    }
  }

  /** Per-band SRP bucket ids: band b's bucket packs `planesPerBand`
    * sign bits (bit p set iff round(v·plane, 6) >= 0 — rounded so an
    * at-the-boundary dot can't flip between engines on summation-order
    * ulps). Map-side only; broadcast-free (planes are plan literals).
    *
    * A null vector, or one with a null element, has no buckets (null,
    * so it explodes to no band rows): its dots are null, so banding it
    * would put it in the all-negative bucket, counting toward that
    * bucket's cap, though its cosine with every vector is null. A
    * vector whose length is not `dims` fails the query — it has no
    * defined projection.
    */
  def srpBuckets(vec: Column, numBands: Int, planesPerBand: Int,
                 dims: Int): Column = {
    require(numBands >= 1, s"srpBuckets: numBands ($numBands) must be >= 1")
    // one bit per plane in a 64-bit bucket id: `1L << 64` is `1L` on
    // the JVM, so a 65th plane would alias plane 0's bit
    require(planesPerBand >= 1 && planesPerBand <= 64,
      s"srpBuckets: planesPerBand ($planesPerBand) must be in 1..64")
    require(dims >= 1, s"srpBuckets: dims ($dims) must be >= 1")
    val planes = srpPlanes(numBands * planesPerBand, dims)
    val vd = vec.cast("array<double>")
    val buckets = array((0 until numBands).map { b =>
      (0 until planesPerBand).map { p =>
        val plane = array(planes(b * planesPerBand + p).map(lit): _*)
        when(round(dot(vd, plane), 6) >= 0.0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
    }: _*)
    when(vd.isNotNull,
      when(size(vd) =!= dims, raise_error(
          lit(s"srpBuckets: a vector's length is not dims ($dims)")))
        .when(!exists(vd, _.isNull), buckets))
  }

  /** The SRP family's [[LshIncremental.Banding]]: sign buckets, the
    * double vectors as verify payload, exact [[cosine]]. The full pair
    * path, [[SrpIndex]]'s incremental and subset paths, and its
    * streaming fold-in all run through the one pair plan with it.
    */
  private[graft] val banding: LshIncremental.Banding =
    LshIncremental.Banding("bucket", "v", "cosine", cosine)

  /** SRP-LSH near-duplicate pairs — the embedding analog of the
    * MinHash-LSH text path (and the scale path behind the brute-force
    * [[cosine]] cross join): bucket per band map-side, self-join on
    * (band, bucket) with ids only, then exact-cosine verify on the
    * candidates. Recall is the standard SRP curve
    * (1 - (1 - (1 - θ/π)^planesPerBand)^numBands); more bands buy
    * recall linearly in candidate cost, never quadratically in corpus.
    *
    * `maxBucketSize` defaults FINITE ([[LshSkew.DefaultMaxBucketSize]])
    * for the same reason as [[Dedup.lshNearDupPairs]]: one degenerate
    * bucket (the all-zeros embedding) makes the self-join quadratic.
    * Uncapped is an explicit opt-in via [[LshSkew.NoCap]].
    */
  def srpNearDupPairs(df: DataFrame, threshold: Double,
                      numBands: Int, planesPerBand: Int, dims: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize): DataFrame =
    srpNearDupPairsWithStats(df, threshold, numBands, planesPerBand, dims,
      idCol, vecCol, maxBucketSize)._1

  /** [[srpNearDupPairs]] plus the skew-guard [[LshSkew.CapCensus]] —
    * the dropped-bucket count/mass as a returned fact, so corpus-scale
    * runs can assert zero drops instead of grepping logs (the text
    * path's [[Dedup.lshNearDupPairsWithStats]] contract).
    */
  def srpNearDupPairsWithStats(
      df: DataFrame, threshold: Double,
      numBands: Int, planesPerBand: Int, dims: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize): (DataFrame, LshSkew.CapCensus) =
    LshIncremental.materialized(srpNearDupPairsLazy(df, threshold, numBands,
      planesPerBand, dims, idCol, vecCol, maxBucketSize))

  /** Lazy variant: un-materialized pair plan + the persisted
    * intermediates the caller must unpersist (exists so tests can
    * assert plan shape before checkpointing truncates lineage) + the
    * skew-guard census. It bands through [[srpFrames]], the frames
    * [[SrpIndex]] persists, so full ≡ index holds by construction.
    */
  private[graft] def srpNearDupPairsLazy(
      df: DataFrame, threshold: Double,
      numBands: Int, planesPerBand: Int, dims: Int,
      idCol: String, vecCol: String,
      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize): LshIncremental.Plan =
    LshIncremental.selfJoin(banding, srpFrames(df, idCol, vecCol, numBands,
      planesPerBand, dims), threshold, maxBucketSize)

  /** The SRP analog of [[Dedup.bandedFrame]]: (base, banded) where
    * base = (id, v array<double>) — the verify payload per vector —
    * and banded = (id, band_idx, bucket), both persisted (the counts,
    * the candidate join, and both verify joins re-reference them).
    * Callers own the unpersist. The same [[srpBuckets]] planes
    * (deterministic md5 derivation) and the exact float→double cast
    * serve the full path and [[SrpIndex]], which is what lets the
    * index prove incremental ≡ full-recompute-restricted with a hash
    * equality.
    */
  private[graft] def srpFrames(df: DataFrame, idCol: String, vecCol: String,
                               numBands: Int, planesPerBand: Int,
                               dims: Int): (DataFrame, DataFrame) = {
    // built first: a bad banding must fail before anything is cached
    val buckets = srpBuckets(col("v"), numBands, planesPerBand, dims)
    val base = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = base
      .select(col("id"), posexplode(buckets).as(Seq("band_idx", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (base, banded)
  }
}

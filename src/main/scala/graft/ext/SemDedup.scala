package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Semantic deduplication over an embedding corpus — the published
  * cluster-scoped method (SemDeDup: k-means-partition the embedding
  * space, compare pairs ONLY within a cluster, remove all but one
  * member of every within-cluster group whose cosine exceeds the
  * threshold). The reference has no embedding operators at all; this
  * is ✚ north-star scope, the third member of the embedding near-dup
  * family:
  *
  *   - [[graft.ext.BoundedPairs.allPairs]] — exact, quadratic,
  *     THROWS past 2 k rows (fixture/verify only);
  *   - [[Similarity.srpNearDupPairs]] — random-hyperplane sign
  *     buckets: data-INDEPENDENT partition, recall from banding;
  *   - this — LEARNED centroids: the partition adapts to the corpus's
  *     density (semantically close vectors concentrate into the same
  *     cluster at far fewer buckets than sign-banding needs), at the
  *     price of a training pass and the published recall knob: a pair
  *     STRADDLING a centroid boundary is never compared. That miss is
  *     deliberate method semantics, not a bug — SemDedupSpec pins a
  *     straddling high-cosine pair surviving, and callers that need
  *     banding-style recall guarantees use the SRP path.
  *
  * Spark shape, per stage:
  *   1. centroid assignment — ONE map-side codegen'd
  *      [[graft.functions.NearestCentroid]] expression (centroids
  *      driver-collected under its 64 k bound and inlined as a plan
  *      reference); the corpus never shuffles to be scored.
  *   2. candidate generation — a self-join keyed on `centroid_id`
  *      (one shuffle of (id, vec) each side), quadratic ONLY within a
  *      cluster and bounded by the same census discipline as the LSH
  *      paths: [[LshSkew.capBuckets]] drops clusters over
  *      `maxClusterSize` from comparison and reports the drop as a
  *      returned [[LshSkew.CapCensus]], so a corpus run asserts
  *      "nothing was dropped" executably. At production k (the paper
  *      runs tens of thousands of clusters) the per-cluster
  *      population, not the corpus, bounds the quadratic term.
  *   3. verify — exact [[Similarity.cosine]] on the candidate pairs
  *      (bit-portable: the oracle replays it with
  *      `list_cosine_similarity`).
  *   4. election — [[DupClusters.components]] over the verified pair
  *      graph (within-cluster near-dup groups are near-cliques, the
  *      documented small-diameter case), keep a vector iff it IS its
  *      component's min id.
  */
object SemDedup {

  /** Within-cluster semantic-duplicate pairs:
    * `(centroid_id, id_a, id_b, cosine)` with `id_a < id_b` and
    * `cosine >= threshold` (null cosines — zero-magnitude vectors —
    * never pair). Eager: the pair list is checkpointed and the
    * intermediate caches released before returning.
    */
  def semanticDupPairs(vecs: DataFrame, centroids: DataFrame,
                       threshold: Double,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       maxClusterSize: Int = LshSkew.DefaultMaxBucketSize)
      : DataFrame =
    semanticDupPairsWithStats(vecs, centroids, threshold, idCol, vecCol,
      maxClusterSize)._1

  /** [[semanticDupPairs]] plus the cluster-cap [[LshSkew.CapCensus]] —
    * what the quadratic guard dropped, as a returned fact.
    */
  def semanticDupPairsWithStats(
      vecs: DataFrame, centroids: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxClusterSize: Int = LshSkew.DefaultMaxBucketSize)
      : (DataFrame, LshSkew.CapCensus) =
    LshIncremental.materialized(semanticDupPairsLazy(vecs, centroids,
      threshold, idCol, vecCol, maxClusterSize))

  /** Lazy variant: un-materialized pair plan, the persisted
    * intermediates the caller must unpersist after its action, and
    * the census. Exists so [[assignedSurvivors]] reuses ONE cached
    * assignment for both candidate generation and the final label
    * join, and so specs can assert plan shape before checkpointing
    * truncates lineage.
    */
  private[graft] def semanticDupPairsLazy(
      vecs: DataFrame, centroids: DataFrame, threshold: Double,
      idCol: String, vecCol: String, maxClusterSize: Int)
      : (DataFrame, Seq[DataFrame], LshSkew.CapCensus) = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"SemDedup: cosine threshold $threshold outside [-1, 1]")
    // persist: both sides of the cluster self-join (and, for
    // assignedSurvivors, the label join) read this frame — without a
    // cache Spark re-runs the full NearestCentroid scan per reference
    val assigned = Similarity
      .assignToCentroids(vecs, centroids, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (kept, guardCaches, census) = LshSkew.capBuckets(assigned,
      Seq("centroid_id"), maxClusterSize, "SemDedup.semanticDupPairs")
    val a = kept.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"))
    val b = kept.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    val pairs = a.join(b, "centroid_id")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("centroid_id"), col("id_a"), col("id_b"), col("cosine"))
    (pairs, assigned +: guardCaches, census)
  }

  /** The full SemDeDup election in one call:
    * `(id, centroid_id, rep, keep)` for EVERY input vector — `rep` is
    * its semantic-duplicate component's min id (itself when it has no
    * within-cluster duplicate), `keep` iff `id == rep`. Also returns
    * the cluster-cap census so corpus runs can assert zero drops.
    *
    * The assignment frame is computed once and shared by candidate
    * generation and the label join; the result is checkpointed (it is
    * corpus-sized but four narrow columns) and every intermediate
    * released before returning.
    */
  def assignedSurvivorsWithStats(
      vecs: DataFrame, centroids: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxClusterSize: Int = LshSkew.DefaultMaxBucketSize,
      mode: CheckpointMode = CheckpointMode.Local)
      : (DataFrame, LshSkew.CapCensus) = {
    val (pairsLazy, caches, census) = semanticDupPairsLazy(vecs, centroids,
      threshold, idCol, vecCol, maxClusterSize)
    val assigned = caches.head // the persisted assignment frame
    try {
      // checkpoint the (tiny) pair list before the iterative CC reads
      // it repeatedly
      val pairs = pairsLazy
        .select(col("id_a").as("s"), col("id_b").as("t"))
        .localCheckpoint(true)
      val labels = DupClusters.components(pairs,
        assigned.select(col(idCol).as("id")), mode = mode)
      val out = assigned
        .select(col(idCol).as("id"), col("centroid_id"))
        .join(labels, Seq("id"))
        .select(col("id"), col("centroid_id"), col("label").as("rep"),
          (col("id") === col("label")).as("keep"))
      (out.localCheckpoint(true), census)
    } finally caches.foreach(_.unpersist())
  }

  /** [[assignedSurvivorsWithStats]] without the census. */
  def assignedSurvivors(vecs: DataFrame, centroids: DataFrame,
                        threshold: Double,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxClusterSize: Int = LshSkew.DefaultMaxBucketSize,
                        mode: CheckpointMode = CheckpointMode.Local)
      : DataFrame =
    assignedSurvivorsWithStats(vecs, centroids, threshold, idCol, vecCol,
      maxClusterSize, mode)._1
}

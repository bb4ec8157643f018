package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ONE banded near-dup pair plan, for both families — MinHash
  * bands over text ([[Dedup]], [[LshIndex]]) and sign-random-projection
  * bands over embeddings ([[Similarity]], [[SrpIndex]]). The families
  * differ only in values, a [[Banding]] (bucket column, verify payload,
  * score) plus a frames function ([[Dedup.bandedFrame]],
  * [[Similarity.srpFrames]]) that produces the cached (base, banded)
  * pair, so every shape is written once here:
  *  - [[selfJoin]]: the full capped bucket self-join;
  *  - [[batchPairs]]: a new batch against stored corpus frames (the
  *    [[BandedIndex]] incremental path and streaming fold-in);
  *  - [[pairsAmong]]: pairs within a subset of indexed ids;
  *  - [[materialized]]: checkpoint a plan, then release its caches.
  * Each shape's candidates go through the one verify join, so the
  * full ≡ incremental ≡ subset contracts are structural, not copy-kept.
  *
  * Incremental semantics ([[batchPairs]]): candidate id pairs involving
  * ≥ 1 member of the batch, under union-bucket capping computed from
  * the STORED per-bucket counts + the batch's own counts (never from
  * re-counting corpus rows). Equals the full self-join over
  * corpus ∪ batch (same cap) restricted to pairs with ≥ 1 batch id — a
  * full-run pair (x, y) survives iff x, y share a capped bucket of the
  * union, and every union bucket containing a batch row is reproduced
  * here.
  *
  * The 100 TB shape (per stage):
  *  - capping touches counts only for buckets the batch touches (a
  *    bucket with no batch row cannot produce a batch pair, dropped
  *    or not) — one map-side semi-filtered scan of the counts frame,
  *    no corpus-side shuffle; the stored frame is DELTA rows
  *    (append-only, negative rows allowed — the streaming replay view
  *    uses them), summed per key after the semi-filter;
  *  - the candidate join streams the corpus banded frame once against
  *    the batch side (EXPLICIT size-guarded broadcast hint —
  *    plan-pinned in LshIndexSpec). Hinting beats trusting the
  *    adaptive threshold: at production scale the batch banded frame
  *    can sit just past the AQE auto-broadcast cutoff, and a silent
  *    fallback to a sort-merge join would shuffle the CORPUS banded
  *    frame, the exact cost the incremental path exists to avoid.
  *    Past [[LshSkew.MaxBroadcastKeys]] banded rows the hint is
  *    omitted (a genuinely huge batch cannot broadcast; Spark then
  *    picks the shuffle plan, and the right call is a rebuild);
  *  - the verify joins stay UN-hinted: candidate volume is quadratic
  *    in bucket overlap and only known at runtime, so AQE is the safe
  *    broadcaster there (forcing a broadcast of an unbounded candidate
  *    set is the worse failure).
  *
  * Every shape returns the lazy pair plan (`id_a`, `id_b`, score) with
  * `id_a < id_b`, the caches to drop once it is materialized, and the
  * cap census; the batch shapes' census covers the buckets the batch
  * or subset touches (the only ones that can affect its pairs).
  */
private[graft] object LshIncremental {

  /** What one banded family contributes to the pair plan: the bucket
    * column its banded frame keys on (next to `band_idx`), the base
    * column the verify joins attach, and the score the verify keeps
    * pairs by (`scoreCol >= threshold`). A new banded family is one
    * of these plus a frames function producing (base, banded).
    */
  final case class Banding(bucketCol: String, payload: String,
                           scoreCol: String, score: (Column, Column) => Column) {
    val keys: Seq[String] = Seq("band_idx", bucketCol)
  }

  /** A lazy pair plan: the pair frame, the caches to drop once it is
    * materialized, and the cap census.
    */
  type Plan = (DataFrame, Seq[DataFrame], LshSkew.CapCensus)

  /** The full self-join over one family's cached (base, banded)
    * frames: cap oversized buckets ([[LshSkew.capBuckets]]), pair ids
    * within each surviving bucket (only (band, bucket, id) rows
    * shuffle), then verify. The plan owns both frames — they are in
    * its caches.
    */
  def selfJoin(b: Banding, frames: (DataFrame, DataFrame), threshold: Double,
               maxBucketSize: Int): Plan = {
    val (base, banded) = frames
    val (capped, guardCaches, census) = LshSkew.capBuckets(banded, b.keys,
      maxBucketSize, s"${b.scoreCol} self-join")
    (verified(b, bucketPairs(capped, b.keys), base, threshold),
      Seq(base, banded) ++ guardCaches, census)
  }

  /** Check the plan's pairs into a local checkpoint, then release its
    * caches — the checkpointed pair list is tiny next to the banded
    * frames, and a long-lived session must not keep them pinned. The
    * release runs in a finally: a failed or cancelled materialization
    * must not leave the caches in the executor cache either.
    */
  def materialized(plan: Plan): (DataFrame, LshSkew.CapCensus) = {
    val (pairs, caches, census) = plan
    try (pairs.localCheckpoint(true), census)
    finally caches.foreach(_.unpersist())
  }

  /** Pre-append corpus view for a REPLAYED micro-batch — the other
    * half of the streaming fold-ins' exactly-once contract (one
    * definition with [[IndexFiles.resolveReplay]]): the index already
    * contains the batch (the marker guarantees it was folded exactly
    * once), so the pre-fold view is reconstructed by anti-joining the
    * batch's ids out of base/banded and appending the batch's
    * CURRENTLY-VISIBLE counts as NEGATIVE delta rows (the counts
    * frame is append-only deltas summed by readers — no rewrite,
    * exact). Without the subtraction the batch would pair against
    * itself through both the index and the batch side, emitting
    * duplicated and cap-distorted rows.
    *
    * The subtracted counts are computed from the INDEX's view of the
    * batch ids (`banded` semi-joined with them), NOT from the batch's
    * own re-banded rows — the two differ exactly when documents were
    * REMOVED between the fold-in and the replay: the tombstone-
    * filtered `banded` no longer carries them, so subtracting their
    * raw counts would double-count the removal's negative deltas and
    * distort every cap decision. With the visible-view subtraction,
    * a replay after an intervening remove reproduces the batch's
    * pairs under the CURRENT corpus (removed documents excluded —
    * the compliance-correct output, since a takedown must scrub
    * replayed emissions too), and exactly the original emission when
    * nothing was removed. Spec-pinned (LshIndexSpec
    * replay-after-remove test).
    */
  def subtractBatch(base: DataFrame, banded: DataFrame, buckets: DataFrame,
                    bBase: DataFrame, keys: Seq[String])
      : (DataFrame, DataFrame, DataFrame) = {
    // same size-guarded hint as batchPairs: a replayed manual/micro
    // batch is normally tiny, but a genuinely huge one must not be
    // forced through the driver (bBase is caller-cached, so the
    // sizing count is cheap)
    val idsRaw = bBase.select(col("id"))
    val ids =
      if (bBase.count() <= LshSkew.MaxBroadcastKeys) broadcast(idsRaw)
      else idsRaw
    (base.join(ids, Seq("id"), "left_anti"),
      banded.join(ids, Seq("id"), "left_anti"),
      buckets.unionByName(
        banded.join(ids, Seq("id"), "left_semi")
          .groupBy(keys.map(col): _*)
          .agg((-count(lit(1))).as("bucket_n"))))
  }

  /** Verified pairs WITHIN a subset of already-indexed ids — the
    * takedown-maintenance twin of [[batchPairs]] (which pairs a NEW
    * batch against the corpus; this re-pairs ids the corpus already
    * contains, for [[DupClusters.removeFromLabeling]]'s
    * touched-component re-election). Returns exactly the full
    * [[selfJoin]] run's pairs restricted to subset×subset pairs: a
    * full-run pair (x, y) with x, y ∈ subset survives iff they share a
    * bucket whose CORPUS total is under the cap, and both bucket
    * membership (banded, semi-filtered) and totals (stored counts,
    * delta rows summed — the subset's own rows are already inside
    * them) come straight from the index frames. No re-banding, no
    * corpus-side shuffle: the subset id set and the touched bucket
    * keys ride size-guarded broadcast hints, so the corpus banded and
    * counts frames are each scanned once map-side; everything after is
    * subset-sized.
    *
    * `ids`: any frame whose FIRST column is the id.
    */
  def pairsAmong(b: Banding, corpusBase: DataFrame, corpusBanded: DataFrame,
                 corpusBuckets: DataFrame, ids: DataFrame, threshold: Double,
                 maxBucketSize: Int): Plan = {
    val keyCols = b.keys.map(col)
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val subset = ids.select(col(ids.columns.head).as("id")).distinct()
    val nIds = subset.count()
    def hinted(df: DataFrame): DataFrame =
      if (nIds <= LshSkew.MaxBroadcastKeys) broadcast(df) else df
    val subBanded = corpusBanded.join(hinted(subset), Seq("id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches += subBanded
    val (census, capped) =
      if (maxBucketSize == Int.MaxValue)
        (LshSkew.CapCensus.none(maxBucketSize), subBanded)
      else {
        // totals only for buckets the subset touches (a bucket with no
        // subset row cannot produce a subset pair, dropped or not) —
        // the stored counts already include the subset's own rows
        val touchedKeys = subBanded.select(keyCols: _*).distinct()
        val totals = corpusBuckets
          .join(hinted(touchedKeys), b.keys, "left_semi")
          .groupBy(keyCols: _*)
          .agg(sum(col("bucket_n")).as("total"))
        val dropped = totals.filter(col("total") > maxBucketSize)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        LshSkew.overCap(dropped, "total", b.keys, maxBucketSize) match {
          case (census, None) => (census, subBanded)
          case (census, Some(guard)) =>
            caches += dropped
            (census, subBanded.join(guard, b.keys, "left_anti"))
        }
      }
    (verified(b, bucketPairs(capped, b.keys), corpusBase, threshold),
      caches.toSeq, census)
  }

  /** Verified pairs of an ALREADY-banded batch (its family's frames
    * function output, cached and owned by the caller — the streaming
    * fold-in bands each micro-batch once and feeds the same frames to
    * both this plan and the index append) against stored corpus frames
    * (the [[BandedIndex]] layout). See the object scaladoc for the
    * semantics and the per-stage scale argument. The returned caches
    * are this plan's internal intermediates only.
    */
  def batchPairs(b: Banding, corpusBase: DataFrame, corpusBanded: DataFrame,
                 corpusBuckets: DataFrame, newBase: DataFrame,
                 newBanded: DataFrame, threshold: Double,
                 maxBucketSize: Int): Plan = {
    val keys = b.keys
    val keyCols = keys.map(col)
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // one batch-side action up front: materializes the banded cache
    // (both the counts and the candidate join re-read it) and sizes
    // the explicit broadcast hints below
    val batchBandedRows = newBanded.count()
    def hinted(df: DataFrame): DataFrame =
      if (batchBandedRows <= LshSkew.MaxBroadcastKeys) broadcast(df) else df
    val (census, cappedNew, cappedCorpus) =
      if (maxBucketSize == Int.MaxValue)
        (LshSkew.CapCensus.none(maxBucketSize), newBanded, corpusBanded)
      else {
        val newCounts = newBanded.groupBy(keyCols: _*)
          .agg(count(lit(1)).as("n_new"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // union totals for the batch's buckets only: semi-filter the
        // stored counts by the batch's bucket keys (map-side — the
        // batch side broadcasts), then join tiny-vs-tiny
        val oldForBatch = corpusBuckets
          .join(hinted(newCounts.select(keyCols: _*)), keys, "left_semi")
          .groupBy(keyCols: _*)
          .agg(sum(col("bucket_n")).as("bucket_n"))
        val dropped = newCounts.join(oldForBatch, keys, "left")
          .withColumn("total",
            col("n_new") + coalesce(col("bucket_n"), lit(0L)))
          .filter(col("total") > maxBucketSize)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        LshSkew.overCap(dropped, "total", keys, maxBucketSize) match {
          case (census, None) =>
            // the common healthy path: neither counts frame is part of
            // the pair plan — release it NOW rather than pinning a
            // dead cache through the candidate join + verify
            newCounts.unpersist()
            (census, newBanded, corpusBanded)
          case (census, Some(guard)) =>
            caches += newCounts
            caches += dropped
            (census,
              newBanded.join(guard, keys, "left_anti"),
              corpusBanded.join(guard, keys, "left_anti"))
        }
      }
    // every pair with ≥ 1 batch member meets in a bucket as
    // (batch row, union row): join the batch side against
    // corpus ∪ batch and canonicalize — batch-batch pairs arrive
    // twice (once per orientation) and collapse in the dedup
    val n = cappedNew.select(keyCols :+ col("id").as("id_n"): _*)
    val u = cappedCorpus.select(keyCols :+ col("id").as("id_u"): _*)
      .unionByName(cappedNew.select(keyCols :+ col("id").as("id_u"): _*))
    val candidates = u.join(hinted(n), keys)
      .filter(col("id_u") =!= col("id_n"))
      .select(least(col("id_u"), col("id_n")).as("id_a"),
              greatest(col("id_u"), col("id_n")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val unionBase = corpusBase.select(col("id"), col(b.payload))
      .unionByName(newBase.select(col("id"), col(b.payload)))
    (verified(b, candidates, unionBase, threshold), caches.toSeq, census)
  }

  /** Candidate id pairs (id_a < id_b, deduplicated across bands) of
    * rows sharing a (band_idx, bucket) key — ids only through the join,
    * so the candidate shuffle never moves a payload.
    */
  private def bucketPairs(capped: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val a = capped.select(keyCols :+ col("id").as("id_a"): _*)
    val b = capped.select(keyCols :+ col("id").as("id_b"): _*)
    a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** The verify: attach each side's payload AFTER pair dedup (so only
    * these two joins carry it), score, keep `score >= threshold`.
    * `sh_a`/`sh_b` are the payload aliases for every family.
    */
  private def verified(b: Banding, candidates: DataFrame, base: DataFrame,
                       threshold: Double): DataFrame =
    candidates
      .join(base.select(col("id").as("id_a"), col(b.payload).as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col(b.payload).as("sh_b")), "id_b")
      .withColumn(b.scoreCol, b.score(col("sh_a"), col("sh_b")))
      .filter(col(b.scoreCol) >= threshold)
      .select(col("id_a"), col("id_b"), col(b.scoreCol))
}

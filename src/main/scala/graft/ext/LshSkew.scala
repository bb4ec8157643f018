package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-size skew guard shared by the two LSH candidate generators
  * ([[Dedup.lshNearDupPairs]] text path, [[Similarity.srpNearDupPairs]]
  * embedding path).
  *
  * The classic LSH scale-killer: bucket self-join cost is
  * Σ |bucket|², so ONE degenerate bucket (empty documents, a
  * boilerplate header shared by millions of pages, the all-zeros
  * embedding) dominates everything — 1M rows in one (band, hash) key
  * is 10^12 candidate pairs. The guard censuses bucket sizes on the
  * already-persisted banded frame (one cheap aggregate), drops every
  * bucket over the cap from candidate generation, and logs the drop.
  * Dropped members can still match through their other, smaller
  * bands — the standard recall argument for banding applies unchanged.
  *
  * Dropping (vs salt-splitting) is the right semantics here: a bucket
  * over any sane cap is near-certainly a degenerate-content cluster,
  * and salting it would keep the quadratic blow-up, just spread
  * across tasks. Callers that want those clusters handled should
  * route them through [[Dedup.exactDupGroups]] first.
  */
object LshSkew {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default bucket cap for both LSH candidate generators. Finite BY
    * DEFAULT: the 2 M-doc uncapped run filled the disk (BASELINE.md
    * trend table) — a 100 k-row bucket is already 10^10 candidate
    * pairs from one key, far past anything a sane corpus produces
    * outside degenerate-content clusters, and well above any verify
    * fixture (so fixture outputs are bit-identical; the census
    * aggregate is the only added work). Callers that truly want the
    * uncapped quadratic behavior opt in with [[NoCap]].
    */
  val DefaultMaxBucketSize: Int = 100000

  /** Explicit opt-out of the bucket cap ([[capBuckets]] short-circuits
    * on it — zero extra work, bit-identical plans). An opt-IN to
    * potentially quadratic bucket self-joins: fixture/verify use only.
    */
  val NoCap: Int = Int.MaxValue

  /** Above this many oversized-bucket keys the anti-join falls back
    * from broadcast to a regular shuffle join: the key list's size is
    * rows/maxBucketSize, so an aggressive (small) cap on a large
    * corpus could otherwise push the broadcast past the driver /
    * executor broadcast limits. 1M keys ≈ low tens of MB — safely
    * inside default broadcast budgets, far below where a shuffled
    * anti-join hurts.
    */
  val MaxBroadcastKeys: Long = 1000000L

  /** What the cap actually dropped — returned to the CALLER (not just
    * logged) so a large-scale run can assert `droppedBuckets == 0` as
    * an executable post-condition instead of grepping executor logs.
    * `droppedRows` is the total banded-row mass of the dropped buckets
    * (Σ |bucket| over buckets > cap), the quantity whose square the
    * cap is bounding. [[CapCensus.none]] is the cap-off / nothing-
    * dropped value.
    */
  final case class CapCensus(droppedBuckets: Long, droppedRows: Long,
                             maxBucketSize: Int) {
    def anyDropped: Boolean = droppedBuckets > 0
  }
  object CapCensus {
    def none(maxBucketSize: Int): CapCensus = CapCensus(0L, 0L, maxBucketSize)
  }

  /** What a takedown did to the cap REGIME — returned by
    * [[LshIndex.remove]]/[[SrpIndex.remove]] so the documented
    * repair caveat is an executable post-condition, not a comment: a
    * bucket whose population crosses from over-cap to under-cap
    * (`pre > cap && post <= cap`) starts SERVING pairs the capped
    * index never produced, in components the removal did not touch —
    * outside [[DupClusters.removeFromLabeling]]'s touched-component
    * repair view. `anyUncapped` ⇒ the labeling repair is incomplete
    * for that corpus; a full `componentsStar` rebuild is the complete
    * answer (SURVEY §9). Zero for every corpus that never saturated
    * the cap (the measured healthy-corpus case).
    */
  final case class RemovalReport(removed: Long, uncappedBuckets: Long) {
    def anyUncapped: Boolean = uncappedBuckets > 0
  }

  /** Count buckets the pending negative `deltas` would move from
    * over-cap to PAIR-SERVING under-cap, against the CURRENT totals
    * in `counts` (call BEFORE appending the deltas). A bucket
    * emptied to fewer than 2 survivors serves no pairs, so it cannot
    * resurrect anything — flagging it would force a pointless corpus
    * rebuild; the precise hazard is `pre > cap && 2 <= post <= cap`.
    * Touched keys only: the counts frame is semi-joined map-side
    * against the takedown-sized delta keys (size-guarded broadcast),
    * so the report costs one counts-frame scan, no shuffle of the
    * big side.
    */
  private[ext] def uncapCensus(counts: DataFrame, deltas: DataFrame,
                               keyCols: Seq[String], maxBucketSize: Int,
                               nDeltaRows: Long): Long = {
    if (maxBucketSize == NoCap) 0L
    else {
      def hinted(df: DataFrame): DataFrame =
        if (nDeltaRows <= MaxBroadcastKeys) broadcast(df) else df
      val keys = keyCols.map(col)
      val neg = deltas.select(keys :+ col("bucket_n").as("delta"): _*)
      counts
        .join(hinted(neg.select(keys: _*)), keyCols, "left_semi")
        .groupBy(keys: _*).agg(sum(col("bucket_n")).as("pre"))
        .join(hinted(neg), keyCols)
        .filter(col("pre") > maxBucketSize &&
          (col("pre") + col("delta")) <= maxBucketSize &&
          (col("pre") + col("delta")) >= 2)
        .count()
    }
  }

  /** Per-batch census TREND accumulator for the streaming fold-ins'
    * `onCensus` hook ([[LshIndex.streamingDedupBatch]] /
    * [[SrpIndex.streamingDedupBatch]]) — the live "re-band or raise
    * the cap" dial. [[IvfIndex]] got `driftStat` because frozen
    * centroids silently lose recall under drift; SRP planes are
    * data-independent (bucketing quality does not decay), but drift
    * still has a live failure signal on this path: an arriving
    * distribution that CONCENTRATES piles its vectors into fewer
    * sign buckets, union totals climb, and once a bucket crosses the
    * cap the census starts dropping it — silently costing recall on
    * exactly the drifted mass (its pairs stop being emitted). One
    * degenerate batch is noise; what demands operator action is
    * SUSTAINED growth, and that distinction is what this accumulator
    * answers ([[sustainedDrops]]): measured drifted-corpus trajectory
    * in BASELINE.md §"SRP census trend", runbook rule in SURVEY §9.
    *
    * Thread-safety: `record` runs on the stream's foreachBatch
    * thread, readers on the driver — synchronized, state is tiny
    * (a bounded window of (batchId, census) rows).
    */
  final class CensusTrend(window: Int = 64) {
    require(window > 0, "CensusTrend: window must be positive")
    private val recent =
      scala.collection.mutable.ArrayDeque.empty[(Long, CapCensus)]
    private var batches = 0L
    private var droppedBatches = 0L

    /** The hook to pass as `onCensus`. */
    def onCensus: (CapCensus, Long) => Unit =
      (census, batchId) => record(census, batchId)

    def record(census: CapCensus, batchId: Long): Unit = synchronized {
      recent.append((batchId, census))
      while (recent.size > window) recent.removeHead()
      batches += 1
      if (census.anyDropped) droppedBatches += 1
    }

    /** Last `k` recorded censuses, oldest first (≤ k if fewer seen). */
    def lastK(k: Int): Seq[(Long, CapCensus)] = synchronized {
      recent.takeRight(k).toSeq
    }

    /** True iff the last `k` batches ALL dropped buckets AND their
      * dropped-row mass is non-decreasing — the sustained-growth
      * signature of a concentrating distribution, as opposed to a
      * one-off degenerate batch (which drops once and recedes).
      * False until `k` batches have been recorded.
      */
    def sustainedDrops(k: Int): Boolean = synchronized {
      val tail = recent.takeRight(k)
      tail.size == k && tail.forall(_._2.anyDropped) &&
        tail.iterator.map(_._2.droppedRows).sliding(2)
          .forall(w => w.size < 2 || w(1) >= w(0))
    }

    /** (batches seen, batches that dropped ≥ 1 bucket) — lifetime
      * counters, not windowed.
      */
    def totals: (Long, Long) = synchronized((batches, droppedBatches))
  }

  /** Rows of `banded` whose (keyCols) bucket has ≤ `maxBucketSize`
    * members, the cached guard frames the CALLER must unpersist
    * after its action — same discipline as the lazy pair generators'
    * own intermediates — and the [[CapCensus]] of what the guard
    * dropped. [[NoCap]] (`Int.MaxValue`, the explicit opt-out)
    * short-circuits to `banded` itself — zero extra work,
    * bit-identical plans.
    *
    * With a finite cap the census is computed FIRST (one aggregate
    * over the bounded oversized-bucket list), and a ZERO-DROP census
    * (the common healthy-corpus case) also returns `banded` directly
    * with an empty cache list — an anti-join against an empty guard
    * is the identity, so the pair plan pays only the census
    * aggregate. So an empty returned cache list means cap-off OR
    * nothing-over-cap; the census (`maxBucketSize`, `anyDropped`)
    * distinguishes them.
    *
    * Only when buckets actually drop: the oversized-bucket list
    * (bounded by rows/maxBucketSize keys) is persist+count
    * materialized (persist, NOT localCheckpoint: Dataset.unpersist
    * releases CacheManager entries but does nothing for checkpoint
    * RDD blocks, which would make the caller's release a silent
    * no-op) and broadcast into a left-anti join — the big banded
    * frame never reshuffles for the guard. Past [[MaxBroadcastKeys]]
    * keys the hint is omitted and the anti-join shuffles instead of
    * overflowing the broadcast.
    */
  def capBuckets(banded: DataFrame, keyCols: Seq[String],
                 maxBucketSize: Int,
                 what: String): (DataFrame, Seq[DataFrame], CapCensus) = {
    if (maxBucketSize == Int.MaxValue)
      (banded, Nil, CapCensus.none(maxBucketSize))
    else {
      val keys = keyCols.map(col)
      val oversized = banded.groupBy(keys: _*)
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") > maxBucketSize)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      overCap(oversized, "bucket_n", keyCols, maxBucketSize) match {
        // nothing over the cap (the common healthy-corpus case — the
        // measured 8 M-doc census drops zero buckets at the default)
        case (census, None) => (banded, Nil, census)
        case (census, Some(guard)) =>
          log.warn(s"$what: dropped ${census.droppedBuckets} bucket(s) " +
            s"(${census.droppedRows} banded rows) over " +
            s"maxBucketSize=$maxBucketSize from candidate generation")
          (banded.join(guard, keyCols, "left_anti"), Seq(oversized), census)
      }
    }
  }

  /** The census of `dropped` — persisted over-cap buckets, each sized
    * by `sizeCol` — and, when any dropped, the guard keys to anti-join
    * them out with (broadcast up to [[MaxBroadcastKeys]] keys). One
    * aggregate over the small cached frame is both its materializing
    * action and the census. A zero-drop census unpersists `dropped`
    * and returns no guard: an anti-join against an empty guard is the
    * identity, so the pair plan skips it and the census aggregate is
    * the guard's whole price. Otherwise the caller owns `dropped`.
    */
  private[ext] def overCap(dropped: DataFrame, sizeCol: String,
                           keyCols: Seq[String], maxBucketSize: Int)
      : (CapCensus, Option[DataFrame]) = {
    val row = dropped
      .agg(count(lit(1)), coalesce(sum(col(sizeCol)), lit(0L))).head()
    val census = CapCensus(row.getLong(0), row.getLong(1), maxBucketSize)
    if (!census.anyDropped) {
      dropped.unpersist()
      (census, None)
    } else {
      val keys = dropped.select(keyCols.map(col): _*)
      (census,
        Some(if (census.droppedBuckets <= MaxBroadcastKeys) broadcast(keys) else keys))
    }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted SRP-LSH embedding index — [[LshIndex]]'s twin for the
  * EMBEDDING near-dup path ([[Similarity.srpNearDupPairs]]): at corpus
  * scale the expensive passes are the numBands×planesPerBand
  * dot-product battery and the sign-bucket self-join, so the
  * bucket-derived frames are built ONCE, persisted to parquet, and
  * every arriving vector batch runs [[incrementalPairs]] against them
  * — O(batch) work plus map-side corpus-frame scans, no corpus
  * re-projection, no corpus×corpus pair regeneration. [[append]] folds
  * the batch in so the next batch sees it as corpus. Same
  * compute-once-reload contract as the S8 parquet cache
  * (`processors/_impl/plotting_impl.py:126-147`,
  * [[graft.sinks.Exporters.cached]]). It is the same [[BandedIndex]]
  * as [[LshIndex]] with a different meta, frames function and
  * [[LshIncremental.Banding]], under the same [[IndexFiles]] protocol:
  *
  * {{{
  *   <path>/_srp_meta.json     format version + banding params
  *   <path>/base.parquet       (id, v array<double>)  — verify payload
  *   <path>/banded.parquet     (id, band_idx, bucket)
  *   <path>/buckets.parquet    (band_idx, bucket, bucket_n) — DELTA rows
  * }}}
  *
  * The hyperplanes are NOT persisted: [[Similarity.srpPlanes]] derives
  * them deterministically from (numBands, planesPerBand, dims) via
  * md5, so the meta's params fully determine the projection — a batch
  * can never be bucketed with different planes than the corpus it is
  * compared to (the same enforced-from-meta contract as LshIndex's
  * banding params).
  *
  * Caller contract: vector ids unique across the corpus and every
  * batch (the index never re-checks); `buckets.parquet` is append-only
  * delta rows summed by readers, so [[append]] is O(batch) — bound the
  * per-append small-file growth with [[compactFrames]].
  */
object SrpIndex {

  /** Bumped on layout changes; [[load]] rejects indexes written by a
    * different layout rather than misreading them. v1 is the
    * delta-counts layout from the start (LshIndex's v2 lesson baked
    * in: a per-append counts rewrite is O(corpus) per fold-in).
    */
  val FormatVersion = 1

  /** Stamped by [[remove]], stamped back by [[compactFrames]]' purge —
    * the [[IndexFiles]] tombstone version: the tombstone layout
    * changes read semantics, so a pre-tombstone build must refuse the
    * index loudly, not serve removed vectors.
    */
  val TombstoneVersion = FormatVersion + 1

  final case class Index(base: DataFrame, banded: DataFrame,
                         buckets: DataFrame,
                         idCol: String, numBands: Int, planesPerBand: Int,
                         dims: Int)

  private[ext] object Kind extends IndexFiles.Kind("SrpIndex", "_srp_meta.json",
      FormatVersion, TombstoneVersion,
      Seq("version", "idCol", "numBands", "planesPerBand", "dims")) {
    def missing(dir: String): String =
      s"no SRP index at $dir: missing/incomplete (no _srp_meta.json)"
  }

  private val Impl = new BandedIndex(Kind) {
    def frames(df: DataFrame, vecCol: String, m: IndexFiles.Meta) =
      Similarity.srpFrames(df, m.str("idCol"), vecCol, m.int("numBands"),
        m.int("planesPerBand"), m.int("dims"))
    def banding(m: IndexFiles.Meta) = Similarity.banding
  }

  private def meta(idCol: String, numBands: Int, planesPerBand: Int,
                   dims: Int): IndexFiles.Meta =
    Kind.meta(FormatVersion, idCol, numBands, planesPerBand, dims)

  private def index(f: BandedIndex.Frames): Index = Index(f.base, f.banded,
    f.buckets, f.meta.str("idCol"), f.meta.int("numBands"),
    f.meta.int("planesPerBand"), f.meta.int("dims"))

  private def frames(i: Index): BandedIndex.Frames = BandedIndex.Frames(
    meta(i.idCol, i.numBands, i.planesPerBand, i.dims), i.base, i.banded, i.buckets)

  /** Build (or overwrite) the index at `path` from `df`'s `vecCol`.
    * One corpus pass: project → sign buckets → band explode, then the
    * three frames written; the self-join is NOT run — corpus-internal
    * pairs are the build-time caller's business
    * ([[Similarity.srpNearDupPairs]] over the same frame).
    */
  def build(spark: SparkSession, path: String, df: DataFrame,
            idCol: String = "vec_id", vecCol: String = "embedding",
            numBands: Int = 4, planesPerBand: Int = 8, dims: Int = 64): Unit =
    Impl.build(spark, path, df, vecCol,
      meta(idCol, numBands, planesPerBand, dims))

  /** Load a built index. Fails with an explicit message on a missing /
    * incomplete index or a format-version mismatch.
    */
  def load(spark: SparkSession, path: String): Index =
    index(Impl.load(spark, path))

  /** Take vectors DOWN — the shared [[BandedIndex]] takedown, as
    * documented on [[LshIndex.remove]]: tombstone append + negative count deltas, both
    * O(removed); idempotent; purged physically by [[compactFrames]];
    * a removed id must not be re-appended before a purge. Returns the
    * same [[LshSkew.RemovalReport]] (un-capped buckets ⇒ labeling
    * repair incomplete — see LshIndex.remove's scaladoc).
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame,
             maxBucketSize: Int = LshSkew.DefaultMaxBucketSize)
      : LshSkew.RemovalReport =
    Impl.remove(spark, path, ids, maxBucketSize)

  /** The cache-or-build face — the shared [[BandedIndex]] one, as
    * documented on [[LshIndex.loadOrBuild]]: load the index at `path` if complete AND its meta
    * matches the requested params exactly, otherwise (re)build from
    * `df` and load the fresh copy. A param mismatch is a REBUILD
    * (banding params are the index's identity), a corrupt/truncated
    * meta is a cache miss, an index written by a NEWER format version
    * still throws (clobbering a newer build's artifact would be data
    * loss, not cache maintenance).
    */
  def loadOrBuild(spark: SparkSession, path: String, df: => DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  numBands: Int = 4, planesPerBand: Int = 8,
                  dims: Int = 64): Index =
    index(Impl.loadOrBuild(spark, path,
      meta(idCol, numBands, planesPerBand, dims))(
      build(spark, path, df, idCol, vecCol, numBands, planesPerBand, dims)))

  /** True iff a COMPLETE index of THIS format with EXACTLY these
    * params exists at `path` — the cache-hit predicate without the
    * load (measurement fixtures must not pay a load outside their
    * timed region; same contract as [[LshIndex.isCompatible]]).
    */
  def isCompatible(spark: SparkSession, path: String,
                   idCol: String = "vec_id",
                   numBands: Int = 4, planesPerBand: Int = 8,
                   dims: Int = 64): Boolean =
    Impl.isCompatible(spark, path, meta(idCol, numBands, planesPerBand, dims))

  /** Near-dup pairs involving ≥ 1 vector of `newDf`, against the
    * loaded index — banding params come from the index meta, so a
    * batch can never be projected differently from the corpus it is
    * compared to. Returns (pairs, census); output equals the full
    * [[Similarity.srpNearDupPairs]] over corpus ∪ batch restricted to
    * pairs with ≥ 1 batch id (same threshold and cap) — the q111 gate
    * proves the equality against the full-recompute oracle.
    */
  def incrementalPairs(index: Index, newDf: DataFrame,
                       vecCol: String = "embedding",
                       threshold: Double = 0.9,
                       maxBucketSize: Int = LshSkew.DefaultMaxBucketSize)
      : (DataFrame, LshSkew.CapCensus) =
    Impl.incrementalPairs(frames(index), newDf, vecCol, threshold, maxBucketSize)

  /** Verified near-dup pairs WITHIN a subset of already-indexed ids,
    * served purely from the index frames — [[LshIndex.pairsAmong]]'s
    * exact contract for the embedding index (no vectors re-projected:
    * the base payload carries them; the same shared
    * [[LshIncremental.pairsAmong]] plan, cosine verify).
    * Equals the full [[Similarity.srpNearDupPairs]] over the index's
    * (survivor) corpus restricted to subset×subset, same threshold
    * and cap. The maintenance primitive behind
    * [[DupClusters.removeFromLabeling]] / [[LabelStore.remove]] on
    * the embedding side — after a takedown, touched components'
    * surviving members re-pair through this, O(subset).
    *
    * `ids`: any frame whose FIRST column is the vector id.
    */
  def pairsAmong(index: Index, ids: DataFrame,
                 threshold: Double = 0.9,
                 maxBucketSize: Int = LshSkew.DefaultMaxBucketSize)
      : (DataFrame, LshSkew.CapCensus) =
    Impl.pairsAmong(frames(index), ids, threshold, maxBucketSize)

  /** Fold a batch into the index: append its base/banded rows and its
    * bucket-count DELTAS under the meta's params. After append,
    * [[load]] + [[incrementalPairs]] behave as if the index had been
    * [[build]]t over corpus ∪ batch (spec-pinned, the LshIndex
    * contract). Marker semantics are [[IndexFiles]]'s: monotonic,
    * identity-checked, recorded inside the transaction.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             vecCol: String = "embedding",
             batchMarker: Option[Long] = None): Unit =
    Impl.append(spark, path, df, vecCol, batchMarker)

  /** The highest batch id folded in via `append(..., batchMarker)`;
    * −1 if no marked append ever completed.
    */
  def appendedThrough(spark: SparkSession, path: String): Long =
    IndexFiles.appendedThrough(spark, path)

  /** Bound the per-append small-file growth of all three frames —
    * same maintenance op, swap protocol, and quiesce-first contract
    * as [[LshIndex.compactFrames]] (base/banded: footer-verified
    * row-parity rewrite; counts: deltas aggregated to one row per
    * bucket, then size-bounded). Marker untouched.
    */
  def compactFrames(spark: SparkSession, path: String,
                    targetFileBytes: Long = 128L * 1024 * 1024)
      : IndexFiles.FramesReport =
    Impl.compactFrames(spark, path, targetFileBytes)

  /** Streaming corpus-growth embedding dedup — the `foreachBatch` body
    * mirroring [[LshIndex.streamingDedupBatch]] exactly: each
    * micro-batch of vectors runs [[incrementalPairs]] against the
    * index, hands the pairs to `onPairs`, and folds the batch in so
    * later micro-batches pair against it. State lives in the INDEX,
    * not the state store; replay safety is the identity-scoped marker
    * ([[IndexFiles]]): a replayed micro-batch reconstructs the
    * pre-append view by subtracting its own rows (negative count
    * deltas — exact by the folded-exactly-once guarantee) and NEVER
    * double-appends; a different stream identity (fresh/changed
    * checkpoint) is a hard error.
    */
  def streamingDedupBatch(spark: SparkSession, path: String,
                          vecCol: String = "embedding",
                          threshold: Double = 0.9,
                          maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
                          appendBatches: Boolean = true,
                          onCensus: (LshSkew.CapCensus, Long) => Unit =
                            (_, _) => ())(
      onPairs: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    Impl.streamingDedupBatch(spark, path, vecCol, threshold, maxBucketSize,
      appendBatches, onCensus)(onPairs)
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH corpus index — the "shingle once, dedup every
  * batch" production shape behind [[Dedup.lshNearDupPairs]]: at corpus
  * scale the expensive passes are shingling + the md5 signature battery
  * and the banded self-join, so the signature-derived frames are built
  * ONCE, persisted to parquet, and every arriving batch runs
  * [[incrementalPairs]] against them — O(batch) work plus three
  * map-side corpus-frame scans, no corpus re-shingling, no corpus-side
  * shuffle, no corpus×corpus pair regeneration (see
  * [[Dedup.lshNearDupPairsIncrementalLazy]] for the per-stage
  * argument). [[append]] then folds the deduped batch into the index so
  * the next batch sees it as corpus.
  *
  * Same compute-once-reload contract as the S8 parquet cache
  * (`processors/_impl/plotting_impl.py:126-147`,
  * [[graft.sinks.Exporters.cached]]) and [[IvfIndex]], applied to a
  * three-frame artifact:
  *
  * {{{
  *   <path>/_lsh_meta.json     format version + banding params + payload
  *   <path>/base.parquet       (id, payload)  — verify payload per doc
  *   <path>/banded.parquet     (id, band_idx, band_hash)
  *   <path>/buckets.parquet    (band_idx, band_hash, bucket_n)
  * }}}
  *
  * `buckets.parquet` is what keeps the skew-guard O(batch): union
  * bucket totals come from stored counts + the batch's counts, never
  * from re-counting corpus rows. Every lifecycle operation is the
  * shared [[BandedIndex]] implementation, and every mutation runs the
  * [[IndexFiles]] transaction protocol (meta deleted first, published
  * last; writer lease; identity-scoped append marker).
  *
  * Caller contract: document ids are unique across the corpus and every
  * batch (the index never re-checks — a batch-vs-corpus id collision
  * would silently merge two documents' band rows); batches are shingled
  * with the INDEX's params, enforced by reading them from the meta.
  */
object LshIndex {

  /** Bumped on layout changes; [[load]] rejects indexes written by a
    * different layout rather than misreading them. v2: the counts
    * frame is append-only DELTA rows — possibly several (and, in a
    * replay view, negative) rows per bucket, summed by readers — so
    * [[append]] is O(batch) instead of rewriting the counts frame
    * per fold-in. (v1's aggregated rows are a valid v2 state, but a
    * v1 READER would fan out on delta rows, hence the bump.)
    */
  val FormatVersion = 2

  /** Stamped into the meta by [[remove]] (and stamped back to
    * [[FormatVersion]] when [[compactFrames]] purges): a tombstoned
    * index has DIFFERENT read semantics — a reader that does not
    * apply the tombstone anti-join would silently serve removed
    * documents, the exact takedown violation [[remove]] exists to
    * prevent — so the version changes WITH the layout, and a
    * pre-tombstone build refuses the index loudly instead of
    * misreading it. v3 ≡ "v2 + tombstones.parquet".
    */
  val TombstoneVersion = FormatVersion + 1

  final case class Index(base: DataFrame, banded: DataFrame,
                         buckets: DataFrame,
                         idCol: String, shingleWidth: Int,
                         numHashes: Int, numBands: Int,
                         verifyOn: Dedup.VerifyOn)

  private[ext] object Kind extends IndexFiles.Kind("LshIndex", "_lsh_meta.json",
      FormatVersion, TombstoneVersion,
      Seq("version", "idCol", "shingleWidth", "numHashes", "numBands", "payload")) {
    def missing(dir: String): String =
      s"no LSH index at $dir: missing/incomplete (no _lsh_meta.json)"
  }

  private val Impl = new BandedIndex(Kind, "band_hash") {
    def frames(df: DataFrame, textCol: String, m: IndexFiles.Meta) =
      Dedup.bandedFrame(df, textCol, m.str("idCol"), m.int("shingleWidth"),
        m.int("numHashes"), m.int("numBands"), payloadVerifyOn(m.str("payload")))
    def payload(m: IndexFiles.Meta): String = m.str("payload")
    def pairs(corpus: BandedIndex.Frames, base: DataFrame, banded: DataFrame,
              threshold: Double, maxBucketSize: Int) =
      Dedup.lshNearDupPairsIncrementalFromFrames(corpus.base, corpus.banded,
        corpus.buckets, base, banded, threshold, maxBucketSize,
        payloadVerifyOn(corpus.meta.str("payload")))
  }

  private def meta(idCol: String, shingleWidth: Int, numHashes: Int,
                   numBands: Int, verifyOn: Dedup.VerifyOn): IndexFiles.Meta =
    Kind.meta(FormatVersion, idCol, shingleWidth, numHashes, numBands,
      Dedup.payloadColumn(verifyOn))

  private def index(f: BandedIndex.Frames): Index = Index(f.base, f.banded,
    f.buckets, f.meta.str("idCol"), f.meta.int("shingleWidth"), f.meta.int("numHashes"),
    f.meta.int("numBands"), payloadVerifyOn(f.meta.str("payload")))

  // forward mapping is THE shared one (Dedup.payloadColumn) so the
  // persisted base column can never drift from what the verify stage
  // reads; only the meta-string reverse mapping lives here
  private def payloadVerifyOn(payload: String): Dedup.VerifyOn = payload match {
    case "sh" => Dedup.VerifyOn.Shingles
    case "h1" => Dedup.VerifyOn.HashSets
    case other => sys.error(s"LshIndex meta: unknown payload '$other'")
  }

  /** Build (or overwrite) the index at `path` from `df`'s `textCol`.
    * One corpus pass: shingle → signature battery → band explode,
    * then the three frames written; the banded self-join is NOT run —
    * corpus-internal pairs are the build-time caller's business
    * ([[Dedup.lshNearDupPairs]] over the same frame), this artifact
    * exists for the batches that follow.
    */
  def build(spark: SparkSession, path: String, df: DataFrame,
            textCol: String, idCol: String = "doc_id",
            shingleWidth: Int = 1, numHashes: Int = 24, numBands: Int = 3,
            verifyOn: Dedup.VerifyOn = Dedup.VerifyOn.HashSets): Unit =
    Impl.build(spark, path, df, textCol,
      meta(idCol, shingleWidth, numHashes, numBands, verifyOn))

  /** Load a built index. Fails with an explicit message on a missing /
    * incomplete index or a format-version mismatch.
    *
    * Tombstone semantics ([[remove]]): when a tombstone frame exists,
    * the returned base/banded frames carry a broadcast anti-join
    * against it — removed documents are invisible to every reader
    * (incremental pairs, the streaming fold-in, append≡rebuild
    * comparisons) while staying map-side (no corpus shuffle; the
    * tombstone set is broadcast — it is ids only and [[compactFrames]]
    * purges it physically, so it stays small by maintenance contract).
    * The counts frame needs no join: [[remove]] already appended the
    * removed documents' buckets as negative deltas.
    */
  def load(spark: SparkSession, path: String): Index =
    index(Impl.load(spark, path))

  /** Take documents DOWN (the 100 TB compliance face — takedowns /
    * right-to-be-forgotten must not force a corpus re-index): append
    * the ids to the tombstone frame and their band buckets' NEGATIVE
    * count deltas, both O(removed) by the delta-counts layout — one
    * map-side semi-filtered scan of the banded frame computes the
    * deltas, nothing corpus-sized is rewritten. After remove,
    * [[load]] + every reader behave as if the documents had never
    * been indexed (spec-pinned ≡ rebuild-without; oracle-gated by
    * q112 including cap interaction — a bucket the removed documents
    * pushed over the cap can drop back under it, resurrecting its
    * surviving pairs). [[compactFrames]] later purges the tombstoned
    * rows physically and drops the tombstone frame.
    *
    * Idempotent: already-tombstoned and never-indexed ids contribute
    * no deltas and no duplicate tombstone rows — a retried remove
    * cannot double-subtract the counts.
    *
    * Caller contract: a removed id must NOT be re-[[append]]ed before
    * a [[compactFrames]] purge — the tombstone anti-join would
    * suppress the re-added rows (enforced contract-by-documentation,
    * same class as the unique-ids contract).
    *
    * Returns a [[LshSkew.RemovalReport]]: `uncappedBuckets` counts
    * buckets this takedown moved from over-`maxBucketSize` to under
    * it — the cap-regime hazard for LABELING repair
    * ([[DupClusters.removeFromLabeling]] scaladoc): an un-capped
    * bucket starts serving pairs in components the removal did not
    * touch, outside the touched-component repair's view.
    * `report.anyUncapped` ⇒ rebuild the labeling with
    * [[DupClusters.componentsStar]] instead of repairing it. Pass the
    * `maxBucketSize` your pair reads use (index reads are unaffected
    * — the report is advisory for the labeling seam).
    *
    * `ids`: any frame whose FIRST column is the document id.
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame,
             maxBucketSize: Int = LshSkew.DefaultMaxBucketSize)
      : LshSkew.RemovalReport =
    Impl.remove(spark, path, ids, maxBucketSize)

  /** The cache-or-build face (same contract as
    * [[IvfIndex.loadOrTrain]]): load the index at `path` if complete
    * AND its meta matches the requested params exactly, otherwise
    * (re)build from `df` and load the fresh copy. A param mismatch is
    * a REBUILD, not an error — banding params are part of the index's
    * identity (pairs from mismatched banding would be silently
    * different), so changing them must invalidate the cache the same
    * way a format bump does. A corrupt/truncated meta is an incomplete
    * index: cache miss, rebuild. The one asymmetry shared with
    * [[IvfIndex.loadOrTrain]]: an index written by a NEWER format
    * version still throws — an old build silently clobbering a newer
    * build's artifact would be data loss, not cache maintenance.
    */
  def loadOrBuild(spark: SparkSession, path: String, df: => DataFrame,
                  textCol: String, idCol: String = "doc_id",
                  shingleWidth: Int = 1, numHashes: Int = 24,
                  numBands: Int = 3,
                  verifyOn: Dedup.VerifyOn = Dedup.VerifyOn.HashSets): Index =
    index(Impl.loadOrBuild(spark, path,
      meta(idCol, shingleWidth, numHashes, numBands, verifyOn))(
      build(spark, path, df, textCol, idCol, shingleWidth, numHashes,
        numBands, verifyOn)))

  /** True iff a COMPLETE index of THIS format with EXACTLY these
    * params exists at `path` — [[loadOrBuild]]'s cache-hit predicate
    * without the load, for callers (measurement fixtures) that must
    * not pay a load outside their timed region. Says nothing about
    * newer-version indexes (false for them too); the
    * clobber-protection decision belongs to the mutating caller.
    */
  def isCompatible(spark: SparkSession, path: String,
                   idCol: String = "doc_id",
                   shingleWidth: Int = 1, numHashes: Int = 24,
                   numBands: Int = 3,
                   verifyOn: Dedup.VerifyOn = Dedup.VerifyOn.HashSets): Boolean =
    Impl.isCompatible(spark, path,
      meta(idCol, shingleWidth, numHashes, numBands, verifyOn))

  /** Near-dup pairs involving ≥ 1 document of `newDf`, against the
    * loaded index — banding params and verify payload come from the
    * index meta, so a batch can never be shingled differently from the
    * corpus it is compared to. Returns (pairs, census); the pair frame
    * is eagerly materialized (id_a, id_b, jaccard), the census covers
    * the buckets the batch touched. Output equals the full
    * [[Dedup.lshNearDupPairs]] over corpus ∪ batch restricted to pairs
    * with ≥ 1 batch id (same threshold and cap).
    */
  def incrementalPairs(index: Index, newDf: DataFrame, textCol: String,
                       threshold: Double = 0.9,
                       maxBucketSize: Int = LshSkew.DefaultMaxBucketSize)
      : (DataFrame, LshSkew.CapCensus) =
    Impl.incrementalPairs(BandedIndex.Frames(meta(index.idCol,
        index.shingleWidth, index.numHashes, index.numBands, index.verifyOn),
        index.base, index.banded, index.buckets),
      newDf, textCol, threshold, maxBucketSize)

  /** Verified near-dup pairs WITHIN a subset of already-indexed ids,
    * served purely from the index frames — no text, no re-shingling
    * (the base payload carries the verify sets). Equals the full
    * [[Dedup.lshNearDupPairs]] over the index's (survivor) corpus
    * restricted to subset×subset pairs, same threshold and cap — on a
    * tombstoned index the subset is implicitly intersected with the
    * survivors ([[load]]'s anti-join) and bucket totals are the
    * delta-corrected post-removal counts.
    *
    * The maintenance primitive behind
    * [[DupClusters.removeFromLabeling]]: after a takedown, the
    * touched components' surviving members are re-paired through this
    * — O(subset) with the corpus frames scanned once map-side
    * ([[LshIncremental.candidatesAmong]]).
    *
    * `ids`: any frame whose FIRST column is the document id.
    */
  def pairsAmong(index: Index, ids: DataFrame,
                 threshold: Double = 0.9,
                 maxBucketSize: Int = LshSkew.DefaultMaxBucketSize)
      : (DataFrame, LshSkew.CapCensus) =
    Dedup.lshNearDupPairsAmongFrames(
      index.base, index.banded, index.buckets,
      ids.select(col(ids.columns.head).as("id")).distinct(),
      threshold, maxBucketSize, index.verifyOn)

  /** Fold a batch into the index: append its base/banded rows and its
    * bucket-count DELTAS, under the same banding params (read from the
    * meta — a mismatched append is structurally impossible). After
    * append, [[load]] + [[incrementalPairs]] behave as if the index had
    * been [[build]]t over corpus ∪ batch (spec-pinned: frame equality
    * for base/banded, per-bucket-total equality for counts).
    *
    * Crash-safety is the [[IndexFiles]] commit, and every write in it
    * is a pure O(batch) append (format v2 — nothing corpus-sized is
    * read or rewritten). `batchMarker` (the streaming fold-in's
    * exactly-once handle) is recorded INSIDE that commit, after the
    * frames and before the meta, so a crash never leaves a completed
    * append without its marker; [[appendedThrough]] reads it back.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             textCol: String, batchMarker: Option[Long] = None): Unit =
    Impl.append(spark, path, df, textCol, batchMarker)

  /** Bound the per-append SMALL-FILE growth of all three frames — the
    * physical-maintenance face for long-running streams. Every
    * [[append]]/streaming fold-in writes one new small parquet file
    * set into base/banded/buckets, and [[load]] re-lists all three
    * dirs per micro-batch: after thousands of fold-ins, listing +
    * parquet footer reads dominate the O(batch) incremental win
    * (measured — BASELINE.md §"Index file maintenance": load+pair
    * wall at 8 M docs grows with append count and compaction restores
    * the fresh-build cost). This rewrites each frame to
    * ~`targetFileBytes` files via the [[graft.ops.Compaction]]
    * footer-verified discipline (base/banded: row-parity-checked
    * rewrite; buckets: delta rows aggregated to one per bucket, like
    * [[compactBuckets]], then size-bounded).
    *
    * QUIESCE FIRST (same contract as [[compactBuckets]]): run between
    * streams/batches, not against a live reader — the swap removes
    * the old frame files, so an in-flight plan that listed them can
    * fail mid-job. The swap window and the untouched marker are the
    * [[IndexFiles.swap]] contract.
    */
  def compactFrames(spark: SparkSession, path: String,
                    targetFileBytes: Long = 128L * 1024 * 1024)
      : IndexFiles.FramesReport =
    Impl.compactFrames(spark, path, targetFileBytes)

  /** Aggregate the counts deltas back to one row per bucket — the
    * explicit maintenance op for long-running streams (each append
    * adds one delta row per batch-touched bucket; reads stay correct
    * regardless, this just keeps the counts frame from growing
    * unboundedly). [[compactFrames]] is the full face (also bounds
    * every frame's FILE count); this one stays for counts-only
    * maintenance, which skips the two corpus-frame rewrites.
    *
    * QUIESCE FIRST, as for [[compactFrames]].
    */
  def compactBuckets(spark: SparkSession, path: String): Unit =
    Impl.compactBuckets(spark, path)

  /** The highest batch id folded in via `append(..., batchMarker)`;
    * −1 if no marked append ever completed. The streaming fold-in's
    * replay check ([[IndexFiles.readMarker]] carries the writer
    * identity the check additionally requires).
    */
  def appendedThrough(spark: SparkSession, path: String): Long =
    IndexFiles.appendedThrough(spark, path)

  /** Streaming corpus-growth dedup: the `foreachBatch` body that runs
    * each arriving micro-batch of documents through
    * [[incrementalPairs]] against the index at `path`, hands the pair
    * frame to `onPairs`, and (when `appendBatches`, the default) folds
    * the batch into the index so LATER micro-batches pair against it —
    * across the whole stream every batch-touching pair is produced
    * EXACTLY ONCE (within-batch pairs by the batch's own incremental
    * run, cross-batch pairs when the later side arrives), which is why
    * the q110 gate can replay the stream against q109's batch oracle.
    *
    * State lives in the INDEX, not the state store: this is the
    * stateless-streaming shape of near-dup dedup — no watermark, no
    * growing dedup state, restart-safe because the index on disk IS
    * the progress. Replay safety: the batch id is recorded inside the
    * append transaction ([[append]]'s `batchMarker`). A replayed
    * micro-batch (id ≤ [[appendedThrough]]) NEVER double-appends, and
    * its pair emission is reproduced EXACTLY: the index already
    * contains the batch, so the pre-append view is reconstructed by
    * subtracting this batch's own rows (exact — the marker guarantees
    * it was folded in exactly once) before re-running the pair plan;
    * without the subtraction the batch would pair against itself
    * through both the index and the batch side, emitting duplicated
    * and cap-distorted rows. Spec-pinned (LshIndexSpec replay test;
    * StreamIncLshRestartSpec drives it cross-session through a real
    * checkpoint). The replay check is IDENTITY-SCOPED: the marker
    * records which streaming query (or batch caller) folded batches
    * in, and a different identity — a fresh/changed checkpoint whose
    * batch ids restart at 0, so comparing against the dead stream's
    * high marker would misclassify every new batch — is a hard error,
    * never a silent misclassification (index and checkpoint are
    * created and deleted together, or the index is rebuilt).
    *
    * Each micro-batch is banded ONCE — the same persisted frames feed
    * the pair run and the fold-in append.
    *
    * `onCensus` (default no-op) receives each batch's
    * [[LshSkew.CapCensus]] — a production stream asserts
    * `!census.anyDropped` (or routes drops) there, the same
    * post-condition the batch API returns directly.
    *
    * Usage:
    * {{{
    *   docsStream.writeStream
    *     .foreachBatch(LshIndex.streamingDedupBatch(spark, path, "text")(
    *       (pairs, batchId) => pairs.write.mode("append").parquet(out)))
    *     .trigger(Trigger.AvailableNow()).start()
    * }}}
    */
  def streamingDedupBatch(spark: SparkSession, path: String, textCol: String,
                          threshold: Double = 0.9,
                          maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
                          appendBatches: Boolean = true,
                          onCensus: (LshSkew.CapCensus, Long) => Unit =
                            (_, _) => ())(
      onPairs: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    Impl.streamingDedupBatch(spark, path, textCol, threshold, maxBucketSize,
      appendBatches, onCensus)(onPairs)
}

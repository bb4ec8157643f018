package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import IndexFiles.Meta

/** The one banded-index implementation behind [[LshIndex]] (MinHash
  * bands over word shingles) and [[SrpIndex]] (sign-random-projection
  * bands over embeddings): three frames persisted under the
  * [[IndexFiles]] transaction protocol,
  *
  * {{{
  *   <path>/base.parquet       (id, payload)  — the verify payload per row
  *   <path>/banded.parquet     (id, band_idx, <bucketCol>)
  *   <path>/buckets.parquet    (band_idx, <bucketCol>, bucket_n) — DELTA rows
  * }}}
  *
  * `buckets.parquet` is append-only delta rows summed by readers, so
  * an append is O(batch): the skew guard's union bucket totals come
  * from stored counts plus the batch's counts, never from re-counting
  * corpus rows. The two indexes differ only in values — the bucket
  * column, the meta fields (their [[IndexFiles.Kind]]), and the frame
  * and pair functions — so every lifecycle operation lives here once.
  */
private[ext] abstract class BandedIndex(val kind: IndexFiles.Kind,
                                        bucketCol: String) {

  /** (base, banded) of `df`'s `srcCol` under the meta's params, both
    * cached; the caller unpersists them.
    */
  def frames(df: DataFrame, srcCol: String, meta: Meta): (DataFrame, DataFrame)

  /** The base column the verify stage reads (persisted with `id`). */
  def payload(meta: Meta): String

  /** Verified pairs of an already-banded batch against `corpus`: the
    * lazy pair frame, the caches to drop once it is materialized, and
    * the cap census.
    */
  def pairs(corpus: BandedIndex.Frames, base: DataFrame, banded: DataFrame,
            threshold: Double, maxBucketSize: Int)
      : (DataFrame, Seq[DataFrame], LshSkew.CapCensus)

  private val FrameDirs = Seq("base.parquet", "banded.parquet", "buckets.parquet")
  private val Keys = Seq("band_idx", bucketCol)

  /** Append-write sizing: ~4 M banded rows (~100-200 MB parquet) per
    * file — micro-batches fold in as one file per frame, bulk appends
    * still parallelize.
    */
  private val RowsPerAppendFile = 4000000L

  private def counts(banded: DataFrame): DataFrame =
    banded.groupBy(Keys.map(col): _*).agg(count(lit(1)).as("bucket_n"))

  /** Delta rows summed to one row per live bucket. */
  private def aggregated(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/buckets.parquet")
      .groupBy(Keys.map(col): _*)
      .agg(sum(col("bucket_n")).as("bucket_n"))
      .filter(col("bucket_n") > 0)

  def build(spark: SparkSession, path: String, df: DataFrame,
            srcCol: String, meta: Meta): Unit = {
    val idCol = meta.str("idCol")
    require(!idCol.exists(c => c == '"' || c == '\\'),
      s"${kind.name}.build: idCol '$idCol' contains a quote/backslash — not " +
        "representable in the index meta; rename the column before building")
    val (base, banded) = frames(df, srcCol, meta)
    try IndexFiles.withWriterLease(spark, path, s"${kind.name}.build") {
      IndexFiles.reset(spark, kind, path, FrameDirs.map(f => s"$f.tmp"))
      base.select(col("id"), col(payload(meta)))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/base.parquet")
      banded.write.mode(SaveMode.Overwrite).parquet(s"$path/banded.parquet")
      counts(banded).write.mode(SaveMode.Overwrite).parquet(s"$path/buckets.parquet")
      IndexFiles.publish(spark, kind, path, meta)
    } finally {
      base.unpersist()
      banded.unpersist()
    }
  }

  /** The persisted frames, tombstoned rows anti-joined out of base and
    * banded map-side. The counts need no join: a remove already
    * appended the removed rows' buckets as negative deltas.
    */
  def load(spark: SparkSession, path: String): BandedIndex.Frames = {
    val meta = IndexFiles.readMeta(spark, kind, path)
    def frame(f: String) =
      IndexFiles.survivors(spark, path, spark.read.parquet(s"$path/$f"), "id")
    BandedIndex.Frames(meta, frame("base.parquet"), frame("banded.parquet"),
      spark.read.parquet(s"$path/buckets.parquet"))
  }

  /** Tombstone the fresh ids and append their buckets' NEGATIVE count
    * deltas — both O(removed): one map-side semi-filtered scan of the
    * banded frame, nothing corpus-sized rewritten.
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame,
             maxBucketSize: Int): LshSkew.RemovalReport =
    IndexFiles.transaction(spark, kind, path, s"${kind.name}.remove") { meta =>
      // the deltas AND the tombstone write read it
      val fresh = IndexFiles.freshTombstones(spark, path, ids).localCheckpoint(true)
      try {
        val deltas = spark.read.parquet(s"$path/banded.parquet")
          .join(broadcast(fresh), Seq("id"), "left_semi")
          .groupBy(Keys.map(col): _*)
          .agg((-count(lit(1))).as("bucket_n"))
          .localCheckpoint(true) // the report AND the counts write read it
        try {
          // the un-cap report reads CURRENT totals — before the append
          val uncapped = LshSkew.uncapCensus(
            spark.read.parquet(s"$path/buckets.parquet"), deltas, Keys,
            maxBucketSize, deltas.count())
          // the version stamps WITH the layout: a pre-tombstone build
          // must refuse this index, not serve the removed rows
          IndexFiles.commit(spark, kind, path,
            meta.set("version" -> kind.tombstoneVersion), None) {
            IndexFiles.appendTombstones(path, fresh)
            deltas.coalesce(1).write.mode(SaveMode.Append)
              .parquet(s"$path/buckets.parquet")
          }
          LshSkew.RemovalReport(fresh.count(), uncapped)
        } finally deltas.unpersist()
      } finally fresh.unpersist()
    }

  /** Verified pairs of `newDf` against `corpus`, materialized, with
    * the batch banded under the corpus meta's params.
    */
  def incrementalPairs(corpus: BandedIndex.Frames, newDf: DataFrame,
                       srcCol: String, threshold: Double,
                       maxBucketSize: Int): (DataFrame, LshSkew.CapCensus) = {
    val (base, banded) = frames(newDf, srcCol, corpus.meta)
    try materialized(corpus, base, banded, threshold, maxBucketSize)
    finally {
      base.unpersist()
      banded.unpersist()
    }
  }

  private def materialized(corpus: BandedIndex.Frames, base: DataFrame,
                           banded: DataFrame, threshold: Double,
                           maxBucketSize: Int): (DataFrame, LshSkew.CapCensus) = {
    val (lazyPairs, caches, census) =
      pairs(corpus, base, banded, threshold, maxBucketSize)
    try (lazyPairs.localCheckpoint(true), census)
    finally caches.foreach(_.unpersist())
  }

  /** Load the index if its meta matches `want` exactly, else `build`
    * then load (a param mismatch or an incomplete index is a rebuild;
    * a newer build's index is refused).
    */
  def loadOrBuild(spark: SparkSession, path: String, want: Meta)(
      build: => Unit): BandedIndex.Frames = {
    if (!IndexFiles.cacheHit(spark, kind, path)(_ == want)) build
    load(spark, path)
  }

  def isCompatible(spark: SparkSession, path: String, want: Meta): Boolean =
    IndexFiles.cachedMeta(spark, kind, path).contains(want)

  def append(spark: SparkSession, path: String, df: DataFrame, srcCol: String,
             batchMarker: Option[Long]): Unit = {
    val meta = IndexFiles.readMeta(spark, kind, path)
    // identity pre-flight BEFORE the transaction: a mismatch must be a
    // clean refusal, not a mid-transaction abort that leaves no meta
    batchMarker.foreach(_ =>
      IndexFiles.requireWriter(spark, path, IndexFiles.ManualWriter))
    val (base, banded) = frames(df, srcCol, meta)
    try appendFrames(spark, path, s"${kind.name}.append", base, banded, meta,
      batchMarker.map(_ -> IndexFiles.ManualWriter))
    finally {
      base.unpersist()
      banded.unpersist()
    }
  }

  /** The append transaction over ALREADY-banded frames — shared by
    * [[append]] and the streaming fold-in, which bands each micro-batch
    * once for both the pair run and this append. All three frames
    * append, so folding a batch in never reads or rewrites anything
    * corpus-sized.
    */
  private def appendFrames(spark: SparkSession, path: String, op: String,
                           base: DataFrame, banded: DataFrame, meta: Meta,
                           marker: Option[(Long, String)]): Unit = {
    // size the writes to the BATCH, not to the session's partition
    // count: un-coalesced, every fold-in wrote shuffle.partitions files
    // per frame no matter how small the batch (measured with
    // IndexMaintProbe — the dominant small-file debris compactFrames
    // exists to clean). The count reads the caller's cached frame
    val parts = IndexFiles.fileCount(banded.count(), RowsPerAppendFile)
    IndexFiles.transaction(spark, kind, path, op) { fresh =>
      // `meta` was read BEFORE the lease (banding needs the params up
      // front) and the FRESH copy is written back: a remove completing
      // in between stamped the tombstone version, which must survive.
      // A params drift means a concurrent rebuild: this batch was banded
      // against a dead index and cannot be folded in
      require(fresh.without("version") == meta.without("version"),
        s"${kind.name} at $path was rebuilt with different params while " +
          s"this append was banding its batch (banded with $meta, index " +
          s"now $fresh) — re-run the append against the current index")
      IndexFiles.commit(spark, kind, path, fresh, marker) {
        base.select(col("id"), col(payload(meta))).coalesce(parts)
          .write.mode(SaveMode.Append).parquet(s"$path/base.parquet")
        banded.coalesce(parts)
          .write.mode(SaveMode.Append).parquet(s"$path/banded.parquet")
        counts(banded).coalesce(parts)
          .write.mode(SaveMode.Append).parquet(s"$path/buckets.parquet")
      }
    }
  }

  /** Rewrite every frame to ~`targetFileBytes` files (base/banded:
    * footer-verified row-parity rewrite, or the tombstone purge; counts:
    * deltas aggregated to one row per bucket), then swap. All heavy work
    * runs before the meta is touched.
    */
  def compactFrames(spark: SparkSession, path: String,
                    targetFileBytes: Long): IndexFiles.FramesReport =
    IndexFiles.transaction(spark, kind, path, s"${kind.name}.compactFrames") { meta =>
      IndexFiles.clear(spark, path, FrameDirs.map(f => s"$f.tmp"))
      val baseR = IndexFiles.rewriteFrame(spark, path, "base.parquet", "id",
        targetFileBytes)
      val bandedR = IndexFiles.rewriteFrame(spark, path, "banded.parquet", "id",
        targetFileBytes)
      // the removal deltas fold into the aggregation like any others —
      // bucket totals are already post-removal
      val (bFiles, _, bRows, bBytes) =
        graft.ops.Compaction.census(spark, s"$path/buckets.parquet")
      aggregated(spark, path).coalesce(IndexFiles.fileCount(bBytes, targetFileBytes))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/buckets.parquet.tmp")
      val (bFilesAfter, _, bRowsAfter, _) =
        graft.ops.Compaction.census(spark, s"$path/buckets.parquet.tmp")
      // the purge restores the plain layout — stamp the version back
      IndexFiles.swap(spark, kind, path, FrameDirs.map(f => s"$f.tmp" -> f),
        Seq(IndexFiles.Tombstones), meta.set("version" -> kind.version))
      IndexFiles.FramesReport(baseR, bandedR, bFiles, bFilesAfter,
        bRows, bRowsAfter)
    }

  /** Counts-only compaction: the deltas aggregated to one row per
    * bucket, skipping the two corpus-frame rewrites.
    */
  def compactBuckets(spark: SparkSession, path: String): Unit =
    IndexFiles.transaction(spark, kind, path, s"${kind.name}.compactBuckets") { meta =>
      IndexFiles.clear(spark, path, Seq("buckets.parquet.tmp"))
      aggregated(spark, path)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/buckets.parquet.tmp")
      IndexFiles.swap(spark, kind, path,
        Seq("buckets.parquet.tmp" -> "buckets.parquet"), Nil, meta)
    }

  /** The streaming fold-in `foreachBatch` body: pairs of each
    * micro-batch against the index, then the batch folded in under the
    * identity-scoped marker. A replayed batch re-emits its exact pairs
    * against the pre-append view (its own rows subtracted) and never
    * double-appends.
    */
  def streamingDedupBatch(spark: SparkSession, path: String, srcCol: String,
                          threshold: Double, maxBucketSize: Int,
                          appendBatches: Boolean,
                          onCensus: (LshSkew.CapCensus, Long) => Unit)(
      onPairs: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      // re-load per batch: append adds files, and a cached listing
      // would pair this batch against a stale corpus
      val index = load(spark, path)
      // None: a replay, paired against the index minus its own rows
      val writer = IndexFiles.resolveReplay(spark, path, batchId)
      val (bBase, bBanded) = frames(batch, srcCol, index.meta)
      try {
        val corpus =
          if (writer.isDefined) index
          else {
            val (b, bd, bk) = LshIncremental.subtractBatch(
              index.base, index.banded, index.buckets, bBase, Keys)
            index.copy(base = b, banded = bd, buckets = bk)
          }
        val (out, census) =
          materialized(corpus, bBase, bBanded, threshold, maxBucketSize)
        onCensus(census, batchId)
        onPairs(out, batchId)
        if (appendBatches)
          writer.foreach(w => appendFrames(spark, path,
            s"${kind.name} streaming fold-in", bBase, bBanded, index.meta,
            Some(batchId -> w)))
      } finally {
        bBase.unpersist()
        bBanded.unpersist()
      }
    }
}

private[ext] object BandedIndex {

  /** A loaded index: its meta and its three (survivor) frames. */
  final case class Frames(meta: Meta, base: DataFrame, banded: DataFrame,
                          buckets: DataFrame)
}

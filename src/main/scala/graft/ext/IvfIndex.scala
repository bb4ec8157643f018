package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — the "train once, serve many batches"
  * production shape behind [[Similarity.ivfKnn]]: k-means training and
  * corpus assignment are the expensive corpus-sized passes, so both
  * are saved once to parquet and every later query batch runs
  * [[Similarity.ivfKnnPreassigned]] against the loaded frames (probe
  * ranking is queries × centroids, broadcast-sized; the corpus join
  * touches only the probed clusters).
  *
  * Same compute-once-reload contract as the S8 parquet cache
  * (`processors/_impl/plotting_impl.py:126-147`,
  * [[graft.sinks.Exporters.cached]]), applied to a two-frame artifact:
  *
  * {{{
  *   <path>/_ivf_meta.json       format version + column names
  *   <path>/centroids.parquet    (idCol, vecCol array<double>)
  *   <path>/assignments.parquet  (idCol, vecCol, centroid_id), optional
  * }}}
  *
  * Every mutation runs the [[IndexFiles]] transaction protocol: the
  * meta is published LAST, so a partially-written index (killed
  * writer) never loads — [[load]] fails on the missing meta, and
  * [[loadOrTrain]] retrains over it.
  *
  * Parquet round-trips both frames losslessly (float/double columns
  * are stored bit-exact), so search over a loaded index is
  * hash-identical to search over the fresh one — gated executably by
  * q107 (same oracle SQL as the fresh-index q62) and IvfIndexSpec.
  */
object IvfIndex {

  /** Bumped on layout changes; [[load]] rejects indexes written by a
    * different major layout rather than misreading them.
    */
  val FormatVersion = 1

  /** Stamped by [[remove]], stamped back by [[compactAssignments]]'
    * purge — the [[IndexFiles]] tombstone version: the
    * tombstone layout changes read semantics (served assignments),
    * so a pre-tombstone build must refuse the index loudly, not
    * return removed vectors as neighbors.
    */
  val TombstoneVersion = FormatVersion + 1

  final case class Index(centroids: DataFrame,
                         assignments: Option[DataFrame],
                         idCol: String, vecCol: String)

  /** Running assignment-distance counters persisted in the meta — the
    * cheap drift statistic behind [[driftStat]]: mean cosine distance
    * (1 − cosine) of each vector to its assigned centroid, tracked
    * separately for the TRAIN-TIME corpus (written once by [[save]])
    * and for everything [[append]]ed since (each append adds its
    * batch's count/sum — O(batch), no corpus re-scan ever). Appended
    * vectors are assigned against FROZEN centroids, so under
    * distribution drift their mean distance rises while the train
    * mean stays fixed — the ratio is the retrain dial (measured decay
    * curve: BASELINE.md §"IVF drift"; rule: SURVEY §9).
    */
  private[graft] final case class DriftCounters(
      trainN: Long, trainDistSum: Double,
      appendN: Long, appendDistSum: Double)

  /** [[driftStat]]'s answer: how far the appended population sits from
    * the frozen centroids, relative to the train-time population.
    * `ratio` ≈ 1 means appends look like the training data (recall
    * holds); a rising ratio means the centroids no longer describe
    * the arriving distribution and recall is decaying silently —
    * retrain past the measured threshold (SURVEY §9 row).
    */
  final case class DriftStat(trainN: Long, trainMeanDist: Double,
                             appendedN: Long,
                             appendedMeanDist: Option[Double],
                             appendedFraction: Double) {
    def ratio: Option[Double] =
      appendedMeanDist.filter(_ => trainMeanDist > 0).map(_ / trainMeanDist)
  }

  private[ext] object Kind extends IndexFiles.Kind("IvfIndex", "_ivf_meta.json",
      FormatVersion, TombstoneVersion,
      Seq("version", "idCol", "vecCol", "hasAssignments")) {
    def missing(dir: String): String =
      s"no IVF index at $dir: missing/incomplete (no _ivf_meta.json)"
    override def corrupt(dir: String, text: String): String =
      s"IvfIndex meta at $dir/$metaFile exists but is truncated/corrupt " +
        "(killed writer?) — the index is incomplete; loadOrTrain retrains " +
        "over it, or delete the index directory"
    override def newer(dir: String, v: Int): String =
      s"IvfIndex at $dir has format version $v, newer than this build's " +
        s"$FormatVersion — refusing to overwrite a newer build's index; " +
        "delete it explicitly to retrain"
  }

  /** The drift counter fields, appended to the meta after the required
    * ones (additive, same format version).
    */
  private val DriftFields = Seq("trainN", "trainDistSum", "appendN", "appendDistSum")

  /** The meta's drift counters: absent on metas written by a
    * pre-stats build or saved without assignments. A PARTIALLY-present
    * counter set is treated as absent rather than half-read.
    */
  private def drift(m: IndexFiles.Meta): Option[DriftCounters] = for {
    trainN <- m.get("trainN").flatMap(_.toLongOption)
    trainDistSum <- m.get("trainDistSum").flatMap(_.toDoubleOption)
    appendN <- m.get("appendN").flatMap(_.toLongOption)
    appendDistSum <- m.get("appendDistSum").flatMap(_.toDoubleOption)
  } yield DriftCounters(trainN, trainDistSum, appendN, appendDistSum)

  // drift sums are serialized with toString (Scala prints doubles
  // round-trip-exact since 2.13), so counters survive the meta
  // rewrite cycle bit-for-bit
  private def withDrift(m: IndexFiles.Meta, d: DriftCounters): IndexFiles.Meta =
    m.set(DriftFields.zip(d.productIterator.toSeq): _*)

  /** Persist a trained index. `centroids` is the [[Similarity.kmeansTrain]]
    * output (idCol, vecCol); pass `assignments` (the
    * [[Similarity.assignToCentroids]] output) to also skip the
    * corpus-sized assignment scan at serve time — at 100 TB that scan,
    * not training, is the dominant per-restart cost.
    */
  def save(spark: SparkSession, path: String,
           centroids: DataFrame, assignments: Option[DataFrame] = None,
           idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // the meta file is hand-rolled flat JSON; a quote/backslash in a
    // column name would be written unescaped and silently misparse on
    // load — refuse it here, at write time, with the name spelled out
    Seq("idCol" -> idCol, "vecCol" -> vecCol).foreach { case (k, v) =>
      require(!v.exists(c => c == '"' || c == '\\'),
        s"IvfIndex.save: $k '$v' contains a quote/backslash — not " +
          "representable in the index meta; rename the column before saving")
    }
    IndexFiles.withWriterLease(spark, path, "IvfIndex.save") {
      // an earlier save at this path may have written assignments — the
      // corpus-sized artifact; a save without them must not silently
      // retain it (nothing would ever read OR remove it)
      IndexFiles.reset(spark, Kind, path,
        Seq("assignments.parquet.tmp", "assignments.parquet"))
      centroids
        .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids.parquet")
      val meta = Kind.meta(FormatVersion, idCol, vecCol, assignments.nonEmpty)
      IndexFiles.publish(spark, Kind, path, assignments match {
        case Some(a) =>
          a.select(col(idCol), col(vecCol), col("centroid_id"))
            .write.mode(SaveMode.Overwrite).parquet(s"$path/assignments.parquet")
          // train-time drift counters, computed from the WRITTEN frame
          // (one map-side scan with the centroids broadcast — never
          // re-evaluates the caller's assignment plan): the baseline
          // the append-side counters are compared against
          withDrift(meta, distCounters(spark,
            spark.read.parquet(s"$path/assignments.parquet"),
            spark.read.parquet(s"$path/centroids.parquet"), idCol, vecCol))
        case None => meta
      })
    }
  }

  /** (count, sum) of per-vector cosine distance (1 − cosine) to the
    * assigned centroid — one map-side pass over `assigned`, centroids
    * broadcast. Null cosines (zero-magnitude vectors) are excluded
    * from both count and sum, consistently on every path.
    */
  private def distCounters(spark: SparkSession, assigned: DataFrame,
                           centroids: DataFrame, idCol: String,
                           vecCol: String): DriftCounters = {
    val cents = centroids.select(col(idCol).as("centroid_id"),
      col(vecCol).as("cent_vec"))
    val row = assigned.join(broadcast(cents), "centroid_id")
      .select((lit(1.0) - Similarity.cosine(col(vecCol), col("cent_vec")))
        .as("dist"))
      .agg(count(col("dist")), coalesce(sum(col("dist")), lit(0.0))).head()
    DriftCounters(row.getLong(0), row.getDouble(1), 0L, 0.0)
  }

  /** Load a saved index. Fails with an explicit message on a missing /
    * incomplete index or a format-version mismatch.
    */
  def load(spark: SparkSession, path: String): Index = {
    val meta = IndexFiles.readMeta(spark, Kind, path)
    val (idCol, vecCol) = (meta.str("idCol"), meta.str("vecCol"))
    // removed vectors invisible map-side (the IndexFiles tombstone
    // semantics): a taken-down vector must never come back as a
    // neighbor; compactAssignments purges physically
    val assignments = Option.when(meta.bool("hasAssignments"))(
      IndexFiles.survivors(spark, path,
        spark.read.parquet(s"$path/assignments.parquet"), idCol))
    Index(spark.read.parquet(s"$path/centroids.parquet"), assignments,
      idCol, vecCol)
  }

  /** Take vectors DOWN — the index family's takedown contract
    * ([[LshIndex.remove]]) for the IVF index: append the ids to the
    * tombstone frame (O(removed)); [[load]] anti-joins them out of
    * the served assignments, so [[search]] can never return a removed
    * id; [[compactAssignments]] purges the rows physically and drops
    * the frame. Idempotent. The drift counters are NOT rewound:
    * they describe the population the centroids were trained/appended
    * against, which removal does not change — serving visibility and
    * drift history are different ledgers. A removed id must not be
    * re-[[append]]ed before a purge (the anti-join would suppress it).
    *
    * `ids`: any frame whose FIRST column is the vector id.
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    require(IndexFiles.readMeta(spark, Kind, path).bool("hasAssignments"),
      s"IvfIndex at $path was saved without assignments — there is " +
        "nothing persisted to remove from; rebuild the corpus instead")
    IndexFiles.transaction(spark, Kind, path, "IvfIndex.remove") { meta =>
      IndexFiles.commit(spark, Kind, path,
        meta.set("version" -> TombstoneVersion), None) {
        IndexFiles.appendTombstones(path,
          IndexFiles.freshTombstones(spark, path, ids))
      }
    }
  }

  /** The cache-or-build face: load the index at `path` if complete,
    * otherwise run `train`, save its result (with assignments), and
    * return the LOADED copy — so first and later calls serve from the
    * same parquet-backed frames.
    *
    * Version handling is asymmetric on purpose: an index written by an
    * OLDER format is a cache miss (retrain + Overwrite — the upgrade
    * path this face exists for), but an index written by a NEWER
    * format still throws — an old build silently clobbering a newer
    * build's artifact would be data loss, not cache maintenance.
    */
  def loadOrTrain(spark: SparkSession, path: String,
                  idCol: String = "vec_id", vecCol: String = "embedding")
                 (train: => (DataFrame, Option[DataFrame])): Index = {
    // a meta that exists but does not parse is a writer killed
    // mid-meta-write: an INCOMPLETE index (cache miss, retrain), not a
    // permanent error; only a meta that parses can assert a version
    // worth protecting
    if (!IndexFiles.cacheHit(spark, Kind, path)(_.version == FormatVersion)) {
      val (centroids, assignments) = train
      save(spark, path, centroids, assignments, idCol, vecCol)
    }
    load(spark, path)
  }

  /** Fold newly-arrived vectors into a saved index: assign them
    * against the EXISTING centroids (the map-side
    * [[Similarity.assignToCentroids]] scan — O(batch), no retraining,
    * no corpus re-assignment) and append the rows to
    * `assignments.parquet`. The corpus-growth serve path, mirroring
    * [[LshIndex.append]]: a later [[load]] + [[search]] sees
    * corpus ∪ batch exactly as if both had been assigned together,
    * because assignment is per-row against a fixed centroid matrix
    * (spec-pinned in IvfIndexSpec).
    *
    * Centroids are NOT updated — by design: retraining on drifted data
    * is a deliberate rebuild ([[save]] from a fresh
    * [[Similarity.kmeansTrain]]), not something an append should do
    * silently, since moving centroids would invalidate every existing
    * assignment. Only valid on an index saved WITH assignments (an
    * assignments-free index has nothing to append to — search there
    * assigns its corpus per call).
    *
    * Caller contract (same as [[LshIndex]]'s): ids unique across the
    * corpus and every batch — append never re-checks, and a duplicate
    * id would make search return the same `vec_id` twice, displacing a
    * legitimate neighbor. Append is NOT idempotent on its own (a
    * retried append duplicates the rows); a caller retrying after an
    * ambiguous failure passes `batchMarker` — the id is recorded
    * inside the transaction (before the meta write), so [[appendedThrough]]
    * tells the retry whether the previous attempt committed.
    *
    * Crash-safety: meta deleted first, rewritten after the append — a
    * killed append leaves an index that refuses to load; rebuild it.
    */
  def append(spark: SparkSession, path: String, newVectors: DataFrame,
             batchMarker: Option[Long] = None): Unit =
    appendAs(spark, path, newVectors, batchMarker, IndexFiles.ManualWriter)

  /** [[append]] under an explicit writer identity — the streaming
    * fold-in passes its query id so its marker stays identity-scoped.
    */
  private def appendAs(spark: SparkSession, path: String,
                       newVectors: DataFrame, batchMarker: Option[Long],
                       writer: String): Unit = {
    val meta0 = IndexFiles.readMeta(spark, Kind, path)
    val (idCol, vecCol) = (meta0.str("idCol"), meta0.str("vecCol"))
    require(meta0.bool("hasAssignments"),
      s"IvfIndex at $path was saved without assignments — append has " +
        "nothing to fold into; rebuild with save(..., assignments = Some(...))")
    // identity pre-flight BEFORE the transaction: a mismatch must be a
    // clean refusal, not a mid-transaction abort that leaves no meta
    batchMarker.foreach(_ => IndexFiles.requireWriter(spark, path, writer))
    val centroids = spark.read.parquet(s"$path/centroids.parquet")
    // localCheckpoint: the frame feeds both the parquet append and the
    // drift counters — one assignment scan, not two
    val assigned = Similarity.assignToCentroids(
      newVectors, centroids, idCol, vecCol).localCheckpoint(true)
    try {
      // the BATCH's distance counters are a pure function of the batch
      // and the frozen centroids — computable outside the lease
      val batchCounters = drift(meta0).map(_ =>
        distCounters(spark, assigned, centroids, idCol, vecCol))
      // batch-sized write, not partition-count-sized (the BandedIndex
      // append sizing): ~2 M (id, 64-float vector, centroid) rows ≈
      // 100 MB-class files
      val parts = IndexFiles.fileCount(assigned.count(), RowsPerAppendFile)
      IndexFiles.transaction(spark, Kind, path, "IvfIndex.append") { fresh =>
        // the drift read-modify-write commits against the FRESH meta —
        // folding into the pre-lease meta0 would lose a concurrent
        // append's counter update (and re-stamp a concurrent remove's
        // tombstone version back to plain). A params drift means a
        // concurrent rebuild: this batch was assigned against dead
        // centroids — loud refusal.
        val volatile = "version" +: DriftFields
        require(fresh.without(volatile: _*) == meta0.without(volatile: _*),
          s"IvfIndex at $path was rebuilt with different params while " +
            s"this append was assigning its batch (assigned with $meta0, " +
            s"index now $fresh) — re-run the append against the current index")
        val next = (for { dc <- drift(fresh); b <- batchCounters } yield
          withDrift(fresh, dc.copy(appendN = dc.appendN + b.trainN,
            appendDistSum = dc.appendDistSum + b.trainDistSum))).getOrElse(fresh)
        IndexFiles.commit(spark, Kind, path, next, batchMarker.map(_ -> writer)) {
          assigned.select(col(idCol), col(vecCol), col("centroid_id"))
            .coalesce(parts)
            .write.mode(SaveMode.Append).parquet(s"$path/assignments.parquet")
        }
      }
    } finally assigned.unpersist()
  }

  /** The drift statistic ([[DriftStat]]): how far the APPENDED
    * population's mean assignment distance sits from the TRAIN-TIME
    * mean — read straight from the meta's running counters, O(1), no
    * scan of anything. The executable "when to retrain" dial:
    * [[append]] assigns against frozen centroids, which is correct
    * but decays recall silently under distribution drift; the
    * measured decay curve (BASELINE.md §"IVF drift") maps this ratio
    * to recall, and SURVEY §9 carries the threshold rule. Requires an
    * index saved with assignments by a stats-aware build (the
    * counters live in the meta; an older meta has none).
    */
  def driftStat(spark: SparkSession, path: String): DriftStat = {
    val dc = drift(IndexFiles.readMeta(spark, Kind, path)).getOrElse(sys.error(
      s"IvfIndex at $path carries no drift counters (saved without " +
        "assignments, or by a pre-stats build) — re-save with " +
        "assignments to enable drift tracking"))
    require(dc.trainN > 0,
      s"IvfIndex at $path: drift counters exist but trainN=0 — the " +
        "train-time corpus had no measurable vectors; retrain")
    mkDriftStat(dc)
  }

  /** [[driftStat]] that reports an UNUSABLE baseline as None instead
    * of throwing — what automated paths (the streaming face) consume,
    * so an index saved by a pre-stats build (no counters) OR trained
    * on a corpus with no measurable vectors (counters present,
    * trainN=0 — every train cosine was null) degrades to "no stat",
    * never to a post-mutation crash loop. The diagnosing throws live
    * only in the interactive [[driftStat]] face.
    */
  def driftStatOption(spark: SparkSession, path: String): Option[DriftStat] =
    drift(IndexFiles.readMeta(spark, Kind, path)).filter(_.trainN > 0)
      .map(mkDriftStat)

  private def mkDriftStat(dc: DriftCounters): DriftStat =
    DriftStat(dc.trainN, dc.trainDistSum / dc.trainN,
      dc.appendN,
      if (dc.appendN > 0) Some(dc.appendDistSum / dc.appendN) else None,
      dc.appendN.toDouble / (dc.trainN + dc.appendN))

  /** What the retrain dial decided: the stat it read (None when the
    * index carries no usable baseline) and whether the retrain fired.
    */
  final case class RetrainReport(stat: Option[DriftStat], retrained: Boolean)

  /** The §9 retrain rule as an OPERATOR — the [[graft.ext.LabelStore]]
    * `compactIfOverMass` mirror for the index family's last advisory
    * dial: read the O(1) drift ratio from the meta; at or past
    * `threshold` (the measured ~2 sustained — BASELINE §"IVF drift"),
    * retrain on the index's CURRENT survivor corpus and [[save]] over
    * the index — fresh train-time counters, appended counters reset,
    * so the dial re-arms against the new centroids. Below threshold
    * (or no usable stat — saved without assignments, or nothing
    * appended yet), the index is untouched.
    *
    * `train` receives the survivor corpus (`(idCol, vecCol)` — the
    * served assignments view, tombstones excluded) and returns
    * `(centroids, assignments)` exactly as [[save]] consumes them —
    * the caller owns k/iters/seed choices ([[Similarity.kmeansTrain]]
    * + [[Similarity.assignToCentroids]] is the standard pair). The
    * heavy train runs OUTSIDE any lease; [[save]]'s own lease +
    * meta-last protocol makes the swap transactional. Save clears the
    * append marker too (a rebuilt index contains no marked batches),
    * so quiesce a streaming ingestion across a retrain — the same
    * maintenance-window rule as `compactFrames`.
    */
  def retrainIfDrifted(spark: SparkSession, path: String,
                       threshold: Double = 2.0)
                      (train: DataFrame => (DataFrame, Option[DataFrame]))
                      : RetrainReport = {
    require(threshold > 0, s"retrainIfDrifted: threshold must be positive: $threshold")
    val stat = driftStatOption(spark, path)
    if (!stat.exists(_.ratio.exists(_ >= threshold))) RetrainReport(stat, false)
    else {
      val idx = load(spark, path)
      val corpus = idx.assignments.getOrElse(sys.error(
        s"IvfIndex at $path: drift fired but the index serves no " +
          "assignments — nothing to retrain from")) // unreachable: no
        // assignments ⇒ no counters ⇒ stat is None
        .select(col(idx.idCol), col(idx.vecCol))
      val (centroids, assignments) = train(corpus)
      // STAGE before save: the retrained frames' lineage READS the
      // very assignments.parquet save is about to overwrite — writing
      // them directly would recompute partitions against deleted files
      // (FAILED_READ_FILE, caught by the spec). One underscore-named
      // staging dir (invisible to listings) breaks the cycle; a crash
      // mid-save still leaves the documented incomplete-index recovery
      val stage = s"$path/_retrain_tmp"
      IndexFiles.clear(spark, path, Seq("_retrain_tmp"))
      try {
        centroids.write.parquet(s"$stage/centroids")
        assignments.foreach(_.write.parquet(s"$stage/assignments"))
        save(spark, path,
          spark.read.parquet(s"$stage/centroids"),
          assignments.map(_ => spark.read.parquet(s"$stage/assignments")),
          idx.idCol, idx.vecCol)
      } finally IndexFiles.clear(spark, path, Seq("_retrain_tmp"))
      RetrainReport(stat, true)
    }
  }

  /** Append-write sizing: assignment rows carry the full vector, so
    * ~2 M rows keeps the ~100 MB-file shape of the other indexes'
    * append writes.
    */
  private val RowsPerAppendFile = 2000000L

  /** The highest batch id folded in via `append(..., batchMarker)`;
    * −1 if no marked append ever completed. [[IndexFiles]] marker
    * semantics: monotonic (out-of-order ids never regress it),
    * identity-checked on write.
    */
  def appendedThrough(spark: SparkSession, path: String): Long =
    IndexFiles.appendedThrough(spark, path)

  /** Streaming corpus-growth ingestion for the IVF index — the
    * `foreachBatch` body completing the index family's streaming
    * symmetry ([[LshIndex.streamingDedupBatch]] /
    * [[SrpIndex.streamingDedupBatch]] dedup their batches; arriving
    * vectors have nothing to dedup, so this face FOLDS each
    * micro-batch in ([[append]]: assign against frozen centroids,
    * O(batch)) and hands the post-fold [[DriftStat]] to `onStat` —
    * the retrain dial read live, per micro-batch, so a drifting
    * stream is detected while it arrives rather than at the next
    * offline audit.
    *
    * Exactly-once via the shared identity-scoped marker
    * ([[IndexFiles.resolveReplay]]): a replayed micro-batch (engine
    * restart after a crash between the fold-in and the checkpoint
    * commit) is SKIPPED — the fold-in is this body's only effect, and
    * the marker proves it already happened; a different stream
    * identity (fresh/changed checkpoint) is a hard error. `onStat`
    * still fires on replays (same values — the index is unchanged),
    * so a stats sink sees every batch id exactly as the original run
    * did.
    *
    * Usage:
    * {{{
    *   EventStream.streamTo(vecStream, "ivf_ingest", Some(ckpt))(
    *     IvfIndex.streamingAppendBatch(spark, path)(
    *       (stat, id) => require(stat.flatMap(_.ratio).forall(_ < 2.0),
    *         s"drift at batch $id: retrain")))
    * }}}
    */
  def streamingAppendBatch(spark: SparkSession, path: String)(
      onStat: (Option[DriftStat], Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      IndexFiles.resolveReplay(spark, path, batchId).foreach(writerId =>
        appendAs(spark, path, batch, Some(batchId), writerId))
      // Option, NOT the throwing face: a pre-stats index must degrade
      // to "no stat", never crash-loop a stream AFTER its fold-in
      onStat(driftStatOption(spark, path), batchId)
    }

  /** Bound the per-append small-file growth of the assignments frame
    * — the [[IndexFiles.swap]] compaction applied to this
    * index's one appendable artifact: every [[append]] writes a fresh
    * small file set into `assignments.parquet`, and after many
    * fold-ins listing + footer reads tax every [[search]]. The
    * rewrite is footer-verified row-parity
    * ([[graft.ops.Compaction.compactTo]]), swapped inside the
    * meta-deleted-first window; centroids (small, rewritten only by
    * [[save]]) and the marker/drift counters are untouched.
    * QUIESCE FIRST: run between serve/append cycles, not against a
    * live reader.
    */
  def compactAssignments(spark: SparkSession, path: String,
                         targetFileBytes: Long = 128L * 1024 * 1024)
      : graft.ops.Compaction.Report = {
    require(IndexFiles.readMeta(spark, Kind, path).bool("hasAssignments"),
      s"IvfIndex at $path was saved without assignments — nothing to compact")
    IndexFiles.transaction(spark, Kind, path, "IvfIndex.compactAssignments") { meta =>
      IndexFiles.clear(spark, path, Seq("assignments.parquet.tmp"))
      val report = IndexFiles.rewriteFrame(spark, path, "assignments.parquet",
        meta.str("idCol"), targetFileBytes)
      IndexFiles.swap(spark, Kind, path,
        Seq("assignments.parquet.tmp" -> "assignments.parquet"),
        Seq(IndexFiles.Tombstones), meta.set("version" -> FormatVersion))
      report
    }
  }

  /** Search a loaded index: [[Similarity.ivfKnnPreassigned]] over the
    * saved assignments, or over `corpus` assigned on the fly
    * ([[Similarity.assignToCentroids]]) when none were saved.
    */
  def search(index: Index, queries: DataFrame, k: Int, nprobe: Int,
             corpus: Option[DataFrame] = None): DataFrame =
    Similarity.ivfKnnPreassigned(
      index.assignments.getOrElse(Similarity.assignToCentroids(
        corpus.getOrElse(sys.error(
          "IvfIndex.search: index saved without assignments — pass the corpus")),
        index.centroids, index.idCol, index.vecCol)),
      index.centroids, queries, k, nprobe, index.idCol, index.vecCol)
}

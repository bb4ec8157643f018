package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Persisted dup-cluster labeling with O(batch) mutation — the state
  * half the incremental cluster story was missing: [[DupClusters
  * .incrementalComponents]] and [[DupClusters.removeFromLabeling]]
  * return the updated labeling as a FRAME, leaving persistence (and
  * therefore exactly-once streaming fold-in, concurrent-mutator
  * safety, and crash recovery) to the caller — while the pair half of
  * the story already has all three ([[LshIndex]]'s marker / lease /
  * meta-last protocol). This store closes the asymmetry: cluster
  * labels live on disk under the [[IndexFiles]] protocol, and
  * every mutation writes O(batch), never the corpus.
  *
  * Reference contract anchor: the dedup bookkeeping of
  * `df_helpers.py:287-336` (cluster keys must stay valid under
  * mutation) — here made durable and incremental.
  *
  * == Layout ==
  *
  *  - `labels.parquet` — append-only base rows `(id, label)`, both
  *    LONG. A row's stored label is its label AS OF its fold-in; the
  *    delta log rewrites history without touching it.
  *  - `deltas.parquet` — the driver-sized operation log: rows
  *    `(seq, kind, a, b)` where kind 1 = label remap `a → b` (a
  *    fold-in merged component `a` into `b`), kind 2 = per-id
  *    override `id a ↦ label b` (a takedown re-elected a touched
  *    component, or a fold-in's new node landed on a label that was
  *    once remapped away — see the collision rule below), kind 3 =
  *    tombstone of id `a` (takedown). One fold-in or takedown = one
  *    `seq`; ops are totally ordered by it.
  *  - `_labels_meta.json` — `{"version":V,"opSeq":N}`, with
  *    `_appended_through` and `_writer_lock`: the [[IndexFiles]]
  *    protocol (meta deleted first and published last around every
  *    mutation, identity-scoped marker, heartbeating lease).
  *
  * == Read path ==
  *
  * [[load]] folds the delta log DRIVER-side (it is capped at
  * [[MaxDeltaRows]] — past that the store refuses and directs to
  * [[compact]]) into three broadcastable maps, then reads the base in
  * ONE pass and at most TWO broadcast joins: tombstones and overrides
  * share the id key so they ride one combined broadcast (the
  * anti-join is a flag filter), then the composed remap joins on the
  * stored label, `coalesce(override, remap, stored)`. Zero shuffles;
  * the corpus is scanned exactly once per read. At 100 TB this is the
  * shape that matters: reads are corpus-sized because the ANSWER is
  * corpus-sized, but every mutation between compactions is
  * batch-sized.
  *
  * == Why stored labels compose under one total remap ==
  *
  * Remap targets are strictly smaller than their sources (a merged
  * component's label is the min over its parts), so a label that was
  * remapped away can only become current again via a takedown's
  * override (a split re-electing it). When that happens, every base
  * row that could be confused (the pre-split component's members) has
  * an override by construction, and [[foldBatch]] routes any LATER
  * new node landing on such a label to an override row instead of a
  * base row (the collision rule) — so no base row's stored label ever
  * postdates a remap of that label, and applying the sequence-composed
  * total remap to all base rows is exact. Overrides compose
  * per-entry with the remaps that follow them; tombstoned ids are
  * terminal ([[foldBatch]] refuses to re-insert one — [[compact]]
  * clears the log, after which the id is a fresh identity).
  * LabelStoreSpec pins the full cycle (merge → split-restore →
  * colliding fold) against a from-scratch recompute, and the q115/
  * q116 gates hash the composed store against DuckDB's full-pipeline
  * oracle at both scale factors.
  */
object LabelStore {

  val FormatVersion = 1

  /** Delta-log bound: past this the driver fold (and the broadcast
    * read plan) would no longer be driver-sized — the store refuses
    * mutations and loads loudly and directs to [[compact]]. 4 M rows
    * = two longs each ≈ 64 MB driver-side, the [[LshSkew
    * .MaxBroadcastKeys]] size class. A stream folding 1 k-row deltas
    * hits this after ~4 000 micro-batches — compaction cadence
    * belongs in the same maintenance window as
    * [[LshIndex.compactFrames]] (SURVEY §9).
    */
  val MaxDeltaRows: Long = 4000000L

  private val KindRemap = 1
  private val KindOverride = 2
  private val KindTomb = 3

  private[ext] object Kind extends IndexFiles.Kind("label store",
      "_labels_meta.json", FormatVersion, FormatVersion, Seq("version", "opSeq")) {
    def missing(dir: String): String =
      s"no label store at $dir: missing/incomplete (no _labels_meta" +
        ".json — a killed writer leaves the meta absent; rebuild or " +
        "restore the store)"
    override def corrupt(dir: String, text: String): String =
      s"label store meta at $dir is corrupt ('${text.trim}') — the store " +
        "is incomplete; rebuild it"
    override def unreadable(dir: String, v: Int): String =
      s"label store at $dir has format version $v; this build reads " +
        s"$FormatVersion — upgrade the reader, do not mutate"
  }

  /** The delta log folded driver-side (see class doc): `remap` is the
    * sequence-composed total label remap for base rows, `over` the
    * forward-composed per-id overrides, `tomb` the dropped ids, and
    * `remapSources` every label EVER remapped away (the collision
    * rule's lookup set — note: reset by [[compact]], which makes
    * stored labels current again).
    */
  private final case class State(meta: IndexFiles.Meta, tomb: Set[Long],
                                 over: Map[Long, Long],
                                 remap: Map[Long, Long],
                                 remapSources: Set[Long],
                                 deltaRows: Long)

  /** Create the store from a complete labeling (the
    * [[DupClusters.components]]/`componentsStar` output shape:
    * `(id, label)`, both LONG, labels = canonical min member ids).
    * Refuses an existing store.
    */
  def create(spark: SparkSession, path: String, labels: DataFrame): Unit = {
    val cols = labels.columns.toSeq
    require(cols == Seq("id", "label"),
      s"LabelStore.create: expected columns (id, label), got $cols")
    requireLongIds(labels, "create")
    IndexFiles.withWriterLease(spark, path, "LabelStore.create") {
      require(!IndexFiles.hasMeta(spark, Kind, path),
        s"label store already exists at $path")
      IndexFiles.reset(spark, Kind, path,
        Seq("labels.parquet", "labels.parquet.tmp", "deltas.parquet"))
      labels.write.mode(SaveMode.ErrorIfExists).parquet(s"$path/labels.parquet")
      IndexFiles.publish(spark, Kind, path, Kind.meta(FormatVersion, 0L))
    }
  }

  private def requireLongIds(df: DataFrame, op: String): Unit =
    require(DupClusters.allLongIds(df),
      s"LabelStore.$op: ids and labels must be LONG (the delta log " +
        s"and its driver fold are long-keyed), got ${df.schema}")

  private def readState(spark: SparkSession, path: String): State = {
    val meta = IndexFiles.readMeta(spark, Kind, path)
    val dp = new Path(s"$path/deltas.parquet")
    val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // seq <= meta.opSeq pins the delta view to the META's snapshot: a
    // read racing a concurrent writer's commit (delta appended, meta
    // not yet swapped) must not compose old meta with the in-flight
    // op's rows (ConcurrentWriterSoakSpec's seam; writers are
    // additionally safe via the in-lease opSeq re-check)
    // EXPLICIT schema: the delta layout is fixed, and schema inference
    // over a dir a concurrent writer just created (its first append's
    // files still under _temporary) fails UNABLE_TO_INFER_SCHEMA —
    // with the schema given, an in-flight dir reads as zero rows,
    // consistent with the meta snapshot (ConcurrentWriterSoakSpec)
    val deltaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.LongType)))
    val raw =
      if (!fs.exists(dp)) Array.empty[org.apache.spark.sql.Row]
      else spark.read.schema(deltaSchema).parquet(dp.toString)
        .filter(col("seq") <= meta.long("opSeq"))
        .select(col("seq"), col("kind"), col("a"), col("b"))
        .limit((MaxDeltaRows + 1).toInt).collect()
    require(raw.length <= MaxDeltaRows,
      s"label store at $path has > $MaxDeltaRows delta rows — the log " +
        "is no longer driver-sized; run LabelStore.compact before " +
        "reading or mutating")
    val tomb = scala.collection.mutable.HashSet.empty[Long]
    val over = scala.collection.mutable.HashMap.empty[Long, Long]
    val remap = scala.collection.mutable.HashMap.empty[Long, Long]
    val sources = scala.collection.mutable.HashSet.empty[Long]
    // inverse indexes: current label value -> base labels / ids at it,
    // so a remap updates exactly the affected entries (O(affected))
    val invRemap = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    val invOver = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    // total order: seq is the op order; within one op, remaps before
    // overrides (disjoint by construction — pinned in LabelStoreSpec —
    // the sort just makes the fold deterministic)
    raw.sortBy(r => (r.getLong(0), r.getInt(1))).foreach { r =>
      val kind = r.getInt(1); val a = r.getLong(2); val b = r.getLong(3)
      kind match {
        case KindRemap if a != b =>
          sources += a
          val bl = invRemap.remove(a)
            .getOrElse(scala.collection.mutable.HashSet.empty[Long])
          bl.foreach(base => remap(base) = b)
          // stored-label-a rows are current-a only while a has no
          // remap entry of its own (class doc: a stale remap(a) means
          // every live row at a is override-covered)
          if (!remap.contains(a)) { remap(a) = b; bl += a }
          invRemap.getOrElseUpdate(b,
            scala.collection.mutable.HashSet.empty[Long]) ++= bl
          val ol = invOver.remove(a)
            .getOrElse(scala.collection.mutable.HashSet.empty[Long])
          ol.foreach(id => over(id) = b)
          invOver.getOrElseUpdate(b,
            scala.collection.mutable.HashSet.empty[Long]) ++= ol
        case KindRemap => // identity rows never written; ignore
        case KindOverride =>
          over.get(a).foreach(old => invOver.get(old).foreach(_ -= a))
          over(a) = b
          invOver.getOrElseUpdate(b,
            scala.collection.mutable.HashSet.empty[Long]) += a
        case KindTomb =>
          tomb += a
          over.remove(a).foreach(old => invOver.get(old).foreach(_ -= a))
        case other => sys.error(
          s"label store at $path: unknown delta kind $other — written " +
            "by a newer build? upgrade the reader")
      }
    }
    State(meta, tomb.toSet, over.toMap, remap.toMap, sources.toSet,
      raw.length.toLong)
  }

  /** The current labeling `(id, label)` — one base scan, zero
    * shuffles (delta maps ride explicit broadcasts; see class doc).
    */
  def load(spark: SparkSession, path: String): DataFrame =
    currentPlan(spark, path, readState(spark, path))

  private def currentPlan(spark: SparkSession, path: String,
                          st: State): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$path/labels.parquet")
    // tombstones and overrides share the id key — ONE combined
    // broadcast serves both (the anti-join is the null-safe filter on
    // the tomb flag), so the corpus pays at most two join probes per
    // row between compactions: id-ops, then the label remap
    val withIdOps =
      if (st.tomb.isEmpty && st.over.isEmpty)
        base.withColumn("olabel", lit(null).cast("long"))
      else {
        val idOps =
          st.tomb.toSeq.map(id => (id, None: Option[Long], true)) ++
            st.over.toSeq.map { case (id, l) => (id, Some(l), false) }
        base.join(broadcast(idOps.toDF("id", "olabel", "tomb")),
            Seq("id"), "left")
          .filter(col("tomb").isNull || !col("tomb"))
      }
    val withRemap =
      if (st.remap.isEmpty)
        withIdOps.withColumn("rlabel", lit(null).cast("long"))
      else withIdOps.join(broadcast(st.remap.toSeq.toDF("label", "rlabel")),
        Seq("label"), "left")
    withRemap.select(col("id"),
      coalesce(col("olabel"), col("rlabel"), col("label")).as("label"))
  }

  /** The highest batch id folded in via a marked [[foldBatch]]; −1 if
    * none ([[IndexFiles]] marker semantics — monotonic,
    * identity-scoped).
    */
  def appendedThrough(spark: SparkSession, path: String): Long =
    IndexFiles.appendedThrough(spark, path)

  /** The store's op counter (one per completed fold/remove). */
  def opSeq(spark: SparkSession, path: String): Long =
    IndexFiles.readMeta(spark, Kind, path).long("opSeq")

  /** Fold a batch into the labeling — [[DupClusters
    * .incrementalComponents]]' exact contract (same shared quotient
    * solver), persisted as O(batch) rows: the batch's labels append to
    * the base, the quotient's non-identity roots append to the delta
    * log as remaps (collision-routed new nodes as overrides — class
    * doc). Caller contract is incrementalComponents': `newNodes`
    * (single id column) disjoint from the stored ids, every `newEdges`
    * endpoint in stored ∪ new. Re-inserting a tombstoned id, or an
    * edge touching one, is a hard error — a takedown is terminal
    * until [[compact]].
    *
    * `batchMarker` records the fold in the store's
    * `_appended_through` under [[IndexFiles.ManualWriter]] — the
    * exactly-once handle for batch callers; the streaming face
    * ([[streamingLabelBatch]]) passes the query-identity writer
    * instead.
    */
  def foldBatch(spark: SparkSession, path: String, newNodes: DataFrame,
                newEdges: DataFrame, maxIter: Int = 50,
                mode: CheckpointMode = CheckpointMode.Local,
                batchMarker: Option[Long] = None): Unit =
    foldBatchAs(spark, path, newNodes, newEdges, maxIter, mode,
      batchMarker, IndexFiles.ManualWriter)

  private[ext] def foldBatchAs(spark: SparkSession, path: String,
                               newNodes0: DataFrame, newEdges: DataFrame,
                               maxIter: Int, mode: CheckpointMode,
                               batchMarker: Option[Long],
                               writer: String): Unit = {
    import spark.implicits._
    // identity pre-flight BEFORE the transaction (the LshIndex.append
    // discipline): a mismatch is a clean refusal, not a mid-transaction
    // abort that leaves no meta
    batchMarker.foreach(_ => IndexFiles.requireWriter(spark, path, writer))
    val st = readState(spark, path)
    val prev = currentPlan(spark, path, st)
    // integral ids only, REFUSED otherwise (the create/remove
    // discipline): a blind cast("long") on e.g. string UUIDs yields
    // null ids that would corrupt the persisted labeling silently
    val idType = newNodes0.schema(newNodes0.columns.head).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(idType),
      s"LabelStore.foldBatch at $path: id column must be an integral " +
        s"type, got $idType — map ids to longs before folding")
    val newNodes = newNodes0
      .select(col(newNodes0.columns.head).cast("long").as("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nNew = newNodes.count()
      if (st.tomb.nonEmpty) {
        val tombDf = broadcast(st.tomb.toSeq.toDF("id"))
        require(newNodes.join(tombDf, Seq("id"), "left_semi").isEmpty,
          s"LabelStore.foldBatch at $path: a new node id is tombstoned " +
            "— a takedown is terminal; compact the store first if the " +
            "id is a genuinely fresh identity")
        val endpoints = newEdges.select(col("s").as("id"))
          .union(newEdges.select(col("t").as("id")))
        require(endpoints.join(tombDf, Seq("id"), "left_semi").isEmpty,
          s"LabelStore.foldBatch at $path: an edge touches a " +
            "tombstoned id — pairs must come from the post-removal " +
            "survivor view (LshIndex.incrementalPairs after remove)")
      }
      val (roots, caches) = DupClusters.quotientRoots(prev, newNodes,
        newEdges, maxIter, mode, LshSkew.MaxBroadcastKeys)
      def hintedN(df: DataFrame): DataFrame =
        if (nNew <= LshSkew.MaxBroadcastKeys) broadcast(df) else df
      val rootsOld = roots.join(hintedN(newNodes), Seq("id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // quotient vertices are prior LABELS ∪ new-node IDS (disjoint:
        // labels are old ids) — membership in newNodes splits them
        val rootsNew = roots.join(hintedN(newNodes), Seq("id"), "left_semi")
        val newLabels = newNodes
          .join(
            if (roots.count() <= LshSkew.MaxBroadcastKeys)
              broadcast(rootsNew.withColumnRenamed("label", "newl"))
            else rootsNew.withColumnRenamed("label", "newl"),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("newl"), col("id")).as("label"))
        // collision rule (class doc): a new node whose label was EVER
        // remapped away must carry its label as an override row, or
        // the total base remap would misapply history to it. Its base
        // row stores the node's OWN id as the label — a fresh id was
        // never a remap source, so the stored value is inert (the
        // override wins at read), and the row itself must exist
        // because overrides relabel base rows, they don't create them.
        val (baseRows, overRows) =
          if (st.remapSources.isEmpty) (newLabels, None)
          else {
            val srcDf = broadcast(
              st.remapSources.toSeq.toDF("label").withColumn("coll", lit(true)))
            val marked = newLabels.join(srcDf, Seq("label"), "left")
            (marked.select(col("id"),
              when(col("coll"), col("id")).otherwise(col("label"))
                .as("label")),
              Some(marked.filter(col("coll")).select(col("id"), col("label"))))
          }
        val seq = st.meta.long("opSeq") + 1
        val remapRows = rootsOld
          .select(lit(seq).as("seq"), lit(KindRemap).as("kind"),
            col("id").as("a"), col("label").as("b"))
        val overDelta = overRows.map(_.select(lit(seq).as("seq"),
          lit(KindOverride).as("kind"), col("id").as("a"),
          col("label").as("b")))
        val delta = overDelta.fold(remapRows)(remapRows.unionByName(_))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val nDelta = delta.count()
          require(st.deltaRows + nDelta <= MaxDeltaRows,
            s"label store at $path would exceed $MaxDeltaRows delta " +
              "rows — run LabelStore.compact, then re-run this fold")
          IndexFiles.transaction(spark, Kind, path, "LabelStore fold-in") { fresh =>
            // the quotient above ran against the PRE-lease labeling —
            // any concurrent mutation made it stale: loud refusal
            requireUnchanged(path, st.meta, fresh, "fold")
            // batch-sized writes (the BandedIndex append sizing): a
            // micro-batch lands as one file per frame
            val parts = IndexFiles.fileCount(nNew, RowsPerAppendFile)
            IndexFiles.commit(spark, Kind, path, fresh.set("opSeq" -> seq),
              batchMarker.map(_ -> writer)) {
              if (nNew > 0)
                baseRows.coalesce(parts).write.mode(SaveMode.Append)
                  .parquet(s"$path/labels.parquet")
              if (nDelta > 0)
                delta.coalesce(1).write.mode(SaveMode.Append)
                  .parquet(s"$path/deltas.parquet")
            }
          }
        } finally delta.unpersist()
      } finally {
        rootsOld.unpersist()
        caches.foreach(_.unpersist())
      }
    } finally newNodes.unpersist()
  }

  /** What a takedown just cost the read path, reported by [[remove]]:
    * `overrides` is the override mass — surviving members of touched
    * components, each now a delta-log row riding the read's broadcast
    * id-ops join until the next [[compact]] (the 8 M measurement:
    * a dense-dup-graph takedown's override mass is what turns a
    * compacted-price read into a 4–7 s penalized one — BASELINE
    * §"Label store maintenance"). `deltaRowsAfter` is the whole log's
    * standing size against [[MaxDeltaRows]]; `compacted` records
    * whether the `compactIfOverMass` gate fired.
    */
  final case class RemovalMass(tombstones: Long, overrides: Long,
                               deltaRowsAfter: Long, compacted: Boolean)

  /** Takedown face — [[DupClusters.removeFromLabeling]]'s exact
    * contract (same shared core), persisted as O(removed + touched)
    * rows: tombstones for the removed ids, overrides for every
    * surviving member of a touched component (with its re-elected
    * label). `survivorEdges` is removeFromLabeling's: touched
    * surviving ids ⇒ their pairs under the CURRENT corpus
    * ([[LshIndex.pairsAmong]] against the post-remove index). Shares
    * its cap-regime caveat too.
    *
    * Returns the [[RemovalMass]] — the runbook's "compact promptly
    * after takedowns" made a signal instead of a rule of thumb. Pass
    * `compactIfOverMass` > 0 to make it executable ([[compact]] runs
    * right after the remove transaction whenever this takedown's
    * override mass reaches the threshold — the
    * `streamingLabelBatchWith` `compactEveryOps` twin for the
    * takedown path): override rows are the read penalty, so the
    * threshold is "how many penalized reads am I willing to serve",
    * priced per store by the BASELINE row.
    */
  def remove(spark: SparkSession, path: String, removedIds: DataFrame,
             survivorEdges: DataFrame => DataFrame, maxIter: Int = 50,
             mode: CheckpointMode = CheckpointMode.Local,
             compactIfOverMass: Long = 0L): RemovalMass = {
    val st = readState(spark, path)
    val prev = currentPlan(spark, path, st)
    requireLongIds(removedIds.select(
      col(removedIds.columns.head).as("id")), "remove")
    val core = DupClusters.touchedRelabel(prev, removedIds, survivorEdges,
      maxIter, mode, DupClusters.LocalCcMaxEdges)
    try {
      val seq = st.meta.long("opSeq") + 1
      val delta = core.rem
        .select(lit(seq).as("seq"), lit(KindTomb).as("kind"),
          col("id").as("a"), lit(0L).as("b"))
        .unionByName(core.relabeled
          .select(lit(seq).as("seq"), lit(KindOverride).as("kind"),
            col("id").as("a"), col("label").as("b")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // one pass over the persisted delta splits the mass by kind —
        // tombstones are the removed ids, overrides the touched
        // survivors (the read-price signal)
        val byKind = delta.groupBy(col("kind")).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val nTomb = byKind.getOrElse(KindTomb, 0L)
        val nOver = byKind.getOrElse(KindOverride, 0L)
        val nDelta = nTomb + nOver
        require(st.deltaRows + nDelta <= MaxDeltaRows,
          s"label store at $path would exceed $MaxDeltaRows delta rows " +
            "— run LabelStore.compact, then re-run this remove")
        IndexFiles.transaction(spark, Kind, path, "LabelStore.remove") { fresh =>
          requireUnchanged(path, st.meta, fresh, "remove")
          IndexFiles.commit(spark, Kind, path, fresh.set("opSeq" -> seq), None) {
            delta.coalesce(1).write.mode(SaveMode.Append)
              .parquet(s"$path/deltas.parquet")
          }
        }
        // the gate runs OUTSIDE the remove's lease (compact takes its
        // own), AFTER the transaction is durable — a crash between the
        // two leaves a valid store with a pending penalty, never a
        // half-removed one
        val fire = compactIfOverMass > 0 && nOver >= compactIfOverMass
        if (fire) compact(spark, path)
        RemovalMass(nTomb, nOver,
          if (fire) 0L else st.deltaRows + nDelta, fire)
      } finally delta.unpersist()
    } finally core.caches.foreach(_.unpersist())
  }

  /** Fold the delta log into the base: rewrite `labels.parquet` as the
    * CURRENT labeling and clear `deltas.parquet` — the maintenance
    * face that keeps the log driver-sized (the [[IndexFiles.swap]]
    * contract: meta-deleted-first swap window, marker untouched so a
    * streaming fold-in resumes across it). Also the only way a tombstoned id becomes insertable again
    * (class doc). Parity-checked: rows out == current rows in.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    IndexFiles.withWriterLease(spark, path, "LabelStore.compact") {
      val st = readState(spark, path)
      IndexFiles.clear(spark, path, Seq("labels.parquet.tmp"))
      val cur = currentPlan(spark, path, st)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // ~16 bytes/row raw (two longs)
        IndexFiles.writeChecked(spark, path, "labels.parquet.tmp",
          "LabelStore.compact", cur, 16L, targetFileBytes)
        IndexFiles.swap(spark, Kind, path,
          Seq("labels.parquet.tmp" -> "labels.parquet"), Seq("deltas.parquet"),
          st.meta)
      } finally cur.unpersist()
    }

  /** The optimistic-concurrency check of a fold or remove: the store
    * must still be at the op counter its pre-lease compute read.
    */
  private def requireUnchanged(path: String, read: IndexFiles.Meta,
                               fresh: IndexFiles.Meta, op: String): Unit =
    require(fresh.long("opSeq") == read.long("opSeq"),
      s"label store at $path was mutated (opSeq ${read.long("opSeq")} " +
        s"-> ${fresh.long("opSeq")}) while this $op was computing " +
        s"against its labeling — re-run the $op")

  /** Append-write sizing (the [[LshIndex]] constant's label-row
    * equivalent): label rows are two longs, so far more rows fit a
    * target file.
    */
  private val RowsPerAppendFile = 8000000L

  /** STREAMING cluster election — the `foreachBatch` body that
    * completes the streaming dedup loop: run the micro-batch through
    * [[LshIndex.streamingDedupBatch]] (incremental pairs + index
    * fold-in, exactly-once under the INDEX's marker), then fold the
    * same pairs into this label store under the STORE's own marker.
    * After every micro-batch the store holds the exact labeling of
    * everything streamed so far — no corpus CC ever re-runs.
    *
    * Exactly-once composition: the store fold runs AFTER the index
    * fold, so `store marker ≤ index marker` always. A crash between
    * them replays the batch; the index side reproduces the pair frame
    * EXACTLY (its marker says already-folded, so the pre-append view
    * is reconstructed by subtraction — [[LshIndex.streamingDedupBatch]]
    * scaladoc), and the store, whose marker does not yet cover the
    * batch, folds those exact pairs once. A batch both markers cover
    * re-runs `onPairs` with the reproduced frame and mutates nothing.
    * Identity-scoped like everything marker-bearing: a fresh/changed
    * checkpoint is a hard error on BOTH artifacts, never a silent
    * misclassification. Pinned cross-JVM in StreamIncLshRestartSpec
    * and oracle-gated end-to-end by q115 (final store labeling
    * hash-equals q47's one-shot full recompute).
    *
    * @param idCol the batch's id column (the index's id column)
    */
  def streamingLabelBatch(spark: SparkSession, indexPath: String,
                          storePath: String, textCol: String,
                          idCol: String, threshold: Double = 0.9,
                          maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
                          onCensus: (LshSkew.CapCensus, Long) => Unit =
                            (_, _) => (),
                          compactEveryOps: Int = 0)(
      onPairs: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    streamingLabelBatchWith(spark, storePath, idCol, compactEveryOps,
      LshIndex.streamingDedupBatch(spark, indexPath, textCol, threshold,
        maxBucketSize, appendBatches = true, onCensus))(onPairs)

  /** [[streamingLabelBatch]]'s embedding twin: the SRP index's
    * streaming fold-in produces the micro-batch's near-dup pairs,
    * then the same pairs fold into this store — live cluster labels
    * over a growing VECTOR corpus, same exactly-once composition,
    * same markers, same recovery windows (the store machinery is
    * index-family-agnostic: it consumes ids and pairs).
    */
  def streamingLabelBatchSrp(spark: SparkSession, indexPath: String,
                             storePath: String,
                             vecCol: String = "embedding",
                             idCol: String = "vec_id",
                             threshold: Double = 0.9,
                             maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
                             onCensus: (LshSkew.CapCensus, Long) => Unit =
                               (_, _) => (),
                             compactEveryOps: Int = 0)(
      onPairs: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    streamingLabelBatchWith(spark, storePath, idCol, compactEveryOps,
      SrpIndex.streamingDedupBatch(spark, indexPath, vecCol, threshold,
        maxBucketSize, appendBatches = true, onCensus))(onPairs)

  /** The shared composition core of the streaming faces: run the
    * index family's `foreachBatch` body (which must emit the batch's
    * pairs and fold the batch into ITS index under ITS marker), then
    * fold the captured pairs into this store under the store's own
    * marker. One definition — a divergent copy per index family is
    * exactly the replay bug surface the scaladoc above describes.
    *
    * `compactEveryOps` > 0 is the runbook's compaction cadence made
    * executable: after every `compactEveryOps`-th fold the store
    * auto-[[compact]]s, keeping the delta log far from [[MaxDeltaRows]]
    * (which would otherwise crash-loop the stream once crossed) and
    * the read path at its compacted price. Safe mid-stream BY the
    * spec-pinned invariants: compact is labeling-invariant and leaves
    * the marker untouched, so a crash straddling it replays exactly
    * as without it. The INDEX's compactFrames is deliberately NOT
    * auto-run here — it rewrites corpus-sized frames and belongs in a
    * quiesced maintenance window (SURVEY §9); the store's compact is
    * delta-log-sized.
    */
  private def streamingLabelBatchWith(spark: SparkSession,
                                      storePath: String, idCol: String,
                                      compactEveryOps: Int,
                                      indexFold: ((DataFrame, Long) => Unit)
                                        => ((DataFrame, Long) => Unit))(
      onPairs: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      var captured: DataFrame = null
      indexFold((pairs, _) => captured = pairs)(batch, batchId)
      IndexFiles.resolveReplay(spark, storePath, batchId).foreach { writerId =>
        // no pre-cast: foldBatchAs owns the integral-type refusal —
        // casting here would mask a corrupting id column
        foldBatchAs(spark, storePath,
          batch.select(col(idCol).as("id")),
          captured.select(col("id_a").as("s"), col("id_b").as("t")),
          maxIter = 50, mode = CheckpointMode.Local,
          batchMarker = Some(batchId), writer = writerId)
        if (compactEveryOps > 0 &&
            opSeq(spark, storePath) % compactEveryOps == 0)
          compact(spark, storePath)
      }
      onPairs(captured, batchId)
    }
}

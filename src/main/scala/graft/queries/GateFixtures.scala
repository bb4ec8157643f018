package graft.queries

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Session-scoped built-index cache for the index-lifecycle gates
  * (q109/q112/q113/q114): the gates share two LshIndex params/corpus
  * combinations, and each used to build its own copy from scratch —
  * at the bench SF that was ~10 s of duplicate build work per run
  * (VERDICT r14 §5). Build once per (sfDir, corpus-slice) per
  * session instead; gates that MUTATE the index (remove/append) take
  * a private filesystem COPY — a copy preserves hash-exact frames
  * and costs far less than a rebuild, and mutation on a shared
  * fixture would leak state between gates (the IndexMaintProbe
  * discipline, applied to the gate suite).
  *
  * The cache root lives under the session temp dir and is removed by
  * a JVM shutdown hook; per-gate copies are deleted by their gate
  * (SourceQueries.materializeThenDelete), shared builds persist for
  * the session.
  */
private[queries] object GateFixtures {

  private lazy val root: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_gatefix_")
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile); ()
    }
    d.toString
  }

  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val copyN = new java.util.concurrent.atomic.AtomicLong()

  private def keyOf(dir: String, maxDocId: Int): String =
    s"lsh_${Integer.toHexString(dir.hashCode)}_$maxDocId"

  /** READ-ONLY shared LshIndex over `documents`(doc_id < maxDocId)
    * with the gates' canonical banding params (width 1, 24 hashes,
    * 3 bands — q30's pipeline), built at most once per session.
    * Callers must not mutate it — take [[lshDocsIndexCopy]] instead.
    */
  def lshDocsIndex(spark: SparkSession, dir: String, maxDocId: Int): String =
    built.computeIfAbsent(keyOf(dir, maxDocId), _ => {
      val p = s"$root/${keyOf(dir, maxDocId)}"
      graft.ext.LshIndex.build(spark, p,
        graft.Tables(spark, dir, "documents")
          .filter(col("doc_id") < maxDocId),
        "text", "doc_id", shingleWidth = 1, numHashes = 24, numBands = 3)
      p
    })

  /** Shared PRIOR LABELING over `documents`(doc_id < maxDocId) —
    * near-dup pairs (canonical banding, threshold 0.9) fed through
    * `DupClusters.componentsStar`, persisted to parquet once per
    * session. q113 and q114 both seed their incremental fold-ins
    * from this identical labeling; recomputing it per gate was pure
    * duplicate CC work, and loading persisted labels is exactly the
    * operator's production contract (the labeling IS the state
    * batches fold into — `incrementalComponents` scaladoc).
    */
  def priorLabels(spark: SparkSession, dir: String, maxDocId: Int)
      : org.apache.spark.sql.DataFrame = {
    val key = s"labels_${Integer.toHexString(dir.hashCode)}_$maxDocId"
    val p = built.computeIfAbsent(key, _ => {
      val path = s"$root/$key"
      val corpus = graft.Tables(spark, dir, "documents")
        .filter(col("doc_id") < maxDocId)
      graft.ext.DupClusters.componentsStar(
          graft.ext.Dedup.lshNearDupPairs(corpus, "text", "doc_id",
              shingleWidth = 1, numHashes = 24, numBands = 3,
              threshold = 0.9)
            .select(col("id_a").as("s"), col("id_b").as("t")),
          corpus.select(col("doc_id").as("id")))
        .write.parquet(path)
      path
    })
    spark.read.parquet(p)
  }

  /** Session-shared STREAMED label store: the q115 streaming loop —
    * a private index copy + a store seeded from [[priorLabels]], with
    * documents [200, 300) streamed through
    * [[graft.ext.LabelStore.streamingLabelBatch]] (index fold-in
    * first, store fold under its own marker, exactly-once) — run ONCE
    * per sfDir per session. q115 (cluster summary) and q121 (the
    * curation selection) hash DIFFERENT projections of this same
    * artifact against their own full-recompute oracles; building the
    * stream twice was pure duplicate work (the r14→r15 GateFixtures
    * lesson applied to the store — ~9 s/sweep). READ-ONLY for
    * callers; the streaming machinery's kill/resume lifecycle is
    * separately pinned by StreamIncLshRestartSpec. Returns the store
    * path.
    */
  def streamedLabelStore(spark: SparkSession, dir: String): String = {
    val key = s"stlabels_${Integer.toHexString(dir.hashCode)}"
    // resolve the shared fixtures BEFORE the outer computeIfAbsent:
    // both are computeIfAbsent calls on the same map, and a nested one
    // throws "Recursive update" whenever its key shares a bin with `key`
    val sharedIdx = lshDocsIndex(spark, dir, 200)
    val prior = priorLabels(spark, dir, 200)
    built.computeIfAbsent(key, _ => {
      import org.apache.spark.sql.streaming.Trigger
      val base = s"$root/$key"
      // a FAILED earlier build caches nothing here but leaves the
      // store/batches/checkpoint dirs behind — a same-session retry
      // would then resume the stale checkpoint against a FRESH index
      // copy and build an inconsistent fixture; always start from an
      // empty directory instead (ADVICE r16)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val idxPath = copyOf(spark, sharedIdx, keyOf(dir, 200))
      val storePath = s"$base/store"
      graft.ext.LabelStore.create(spark, storePath, prior)
      val batchDir = s"$base/batches"
      graft.Tables(spark, dir, "documents")
        .filter(col("doc_id") >= 200 && col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
        .repartition(2).write.parquet(batchDir)
      val q = spark.readStream
        .schema(spark.read.parquet(batchDir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(batchDir)
        .writeStream
        .foreachBatch(graft.ext.LabelStore.streamingLabelBatch(
          spark, idxPath, storePath, "text", "doc_id", threshold = 0.9,
          onCensus = (census, _) => require(!census.anyDropped,
            "streamedLabelStore: gate fixture must not hit the bucket cap"))(
          (_, _) => ()))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      storePath
    })
  }

  private val pqCbs = new java.util.concurrent.ConcurrentHashMap[
    String, graft.ext.Pq.Codebooks]()

  /** Session-shared PQ codebooks over the embeddings slice
    * (vec_id < 400, m=8, 16 seeds, 2 Lloyd rounds) — q144 and q147
    * train the IDENTICAL (deterministic, rounded-Lloyd) codebooks, so
    * building them twice per session was pure duplicate work; sharing
    * preserves hash-exact gates by the same determinism argument as
    * [[lshDocsIndex]].
    */
  def pqCodebooks(spark: SparkSession, dir: String): graft.ext.Pq.Codebooks =
    pqCbs.computeIfAbsent(s"pq_${Integer.toHexString(dir.hashCode)}", _ => {
      // the clustered+noise fixture (r19) — the PQ family's corpus
      val e = ExtensionQueries.clusteredVecs(spark, dir)
      graft.ext.Pq.trainCodebooks(e, e.filter(col("vec_id") < 16),
        m = 8, dims = 64, iters = 2)
    })

  /** Private MUTABLE copy of the shared index — an FS copy of the
    * built frames, bit-identical to a fresh build (the q107 parquet
    * round-trip argument). The caller owns and deletes it.
    */
  def lshDocsIndexCopy(spark: SparkSession, dir: String, maxDocId: Int): String =
    copyOf(spark, lshDocsIndex(spark, dir, maxDocId), keyOf(dir, maxDocId))

  private def copyOf(spark: SparkSession, src: String, key: String): String = {
    val dst = s"$root/copy_${copyN.incrementAndGet()}_$key"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(src).getFileSystem(conf)
    require(FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, conf),
      s"GateFixtures: filesystem copy $src -> $dst failed")
    dst
  }
}

package graft.ext

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted SRP embedding index + incremental batch dedup — the
  * embedding twin of LshIndexSpec's contract: the incremental pair set
  * must equal the full-recompute run restricted to batch-touching
  * pairs (including under an active bucket cap), append must be
  * indistinguishable from a rebuild over the union, partial writes
  * must not load, and the streaming fold-in must reproduce replays
  * exactly without double-appending.
  */
class SrpIndexSpec extends SparkSpec {

  private lazy val vecs = Tables(spark, sf, "embeddings")

  private val Split = 120L
  private lazy val corpus = vecs.filter(col("vec_id") < Split)
  private lazy val batch =
    vecs.filter(col("vec_id") >= Split && col("vec_id") < 200)
  private lazy val union = vecs.filter(col("vec_id") < 200)

  private val Bands = 2
  private val Planes = 4
  private val Dims = 64
  private val Thr = 0.3

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_srpidx_").toString

  private def delete(root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("id_a", "id_b").collect().map(_.toString).toSeq

  /** Full-run pairs over the union slice, restricted to pairs with
    * ≥ 1 batch id (ids ordered, batch is the upper range).
    */
  private def fullRestricted(maxBucketSize: Int): DataFrame =
    Similarity.srpNearDupPairs(union, Thr, Bands, Planes, Dims,
        maxBucketSize = maxBucketSize)
      .filter(col("id_b") >= Split)

  private def buildIndex(root: String): SrpIndex.Index = {
    SrpIndex.build(spark, s"$root/idx", corpus, "vec_id", "embedding",
      Bands, Planes, Dims)
    SrpIndex.load(spark, s"$root/idx")
  }

  test("incremental pairs equal the full recompute restricted to the batch") {
    val root = tmp()
    try {
      val index = buildIndex(root)
      val (pairs, census) = SrpIndex.incrementalPairs(index, batch,
        threshold = Thr)
      census.anyDropped shouldBe false
      val expected = rows(fullRestricted(LshSkew.DefaultMaxBucketSize))
      expected should not be empty // a vacuous equality gates nothing
      rows(pairs) shouldBe expected
    } finally delete(root)
  }

  test("incremental capping reproduces the full run's union-bucket cap") {
    val root = tmp()
    try {
      val index = buildIndex(root)
      // 2 bands × 4 planes over clustered synthetic vectors crowd the
      // sign buckets, so a small cap overflows union buckets
      val cap = 8
      val (pairs, census) = SrpIndex.incrementalPairs(index, batch,
        threshold = Thr, maxBucketSize = cap)
      census.anyDropped shouldBe true // otherwise this test gates nothing
      rows(pairs) shouldBe rows(fullRestricted(cap))
    } finally delete(root)
  }

  test("pairsAmong equals the full run restricted to subset×subset, incl. tombstoned + capped") {
    // LshIndexSpec's three-regime contract, embedding side: healthy,
    // under an ACTIVE cap (stored corpus totals decide), and on a
    // tombstoned index (subset implicitly intersected with survivors)
    val root = tmp()
    try {
      buildIndex(root)
      val subset = vecs.filter(col("vec_id") >= 10 && col("vec_id") < 60)
        .select("vec_id")
      def fullAmong(df: DataFrame, cap: Int): Seq[String] = rows(
        Similarity.srpNearDupPairs(df, Thr, Bands, Planes, Dims,
            maxBucketSize = cap)
          .filter(col("id_a") >= 10 && col("id_a") < 60 &&
            col("id_b") >= 10 && col("id_b") < 60))
      val idx = SrpIndex.load(spark, s"$root/idx")
      val (p0, c0) = SrpIndex.pairsAmong(idx, subset, threshold = Thr)
      c0.anyDropped shouldBe false
      val expect0 = fullAmong(corpus, LshSkew.DefaultMaxBucketSize)
      expect0 should not be empty
      rows(p0) shouldBe expect0
      val cap = 8
      val (p1, c1) = SrpIndex.pairsAmong(idx, subset, threshold = Thr,
        maxBucketSize = cap)
      c1.anyDropped shouldBe true
      rows(p1) shouldBe fullAmong(corpus, cap)
      SrpIndex.remove(spark, s"$root/idx",
        vecs.filter(col("vec_id") >= 20 && col("vec_id") < 35)
          .select("vec_id"))
      val survIdx = SrpIndex.load(spark, s"$root/idx")
      val (p2, c2) = SrpIndex.pairsAmong(survIdx, subset, threshold = Thr)
      c2.anyDropped shouldBe false
      val survCorpus = corpus.filter(col("vec_id") < 20 || col("vec_id") >= 35)
      val expect2 = fullAmong(survCorpus, LshSkew.DefaultMaxBucketSize)
      rows(p2) shouldBe expect2
      expect2 should not be expect0 // the removal is load-bearing
    } finally delete(root)
  }

  test("append is indistinguishable from a rebuild over the union") {
    val rootA = tmp()
    val rootB = tmp()
    try {
      SrpIndex.build(spark, s"$rootA/idx", corpus, "vec_id", "embedding",
        Bands, Planes, Dims)
      SrpIndex.append(spark, s"$rootA/idx", batch)
      SrpIndex.build(spark, s"$rootB/idx", union, "vec_id", "embedding",
        Bands, Planes, Dims)
      val a = SrpIndex.load(spark, s"$rootA/idx")
      val b = SrpIndex.load(spark, s"$rootB/idx")
      def dump(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      dump(a.base) shouldBe dump(b.base)
      dump(a.banded) shouldBe dump(b.banded)
      // counts are delta rows; equality holds at per-bucket TOTALS
      def totals(df: DataFrame): Seq[String] = dump(
        df.groupBy(col("band_idx"), col("bucket"))
          .agg(sum(col("bucket_n")).as("bucket_n")))
      totals(a.buckets) shouldBe totals(b.buckets)
      // and the appended index serves the NEXT batch identically
      val next = vecs.filter(col("vec_id") >= 200 && col("vec_id") < 230)
      rows(SrpIndex.incrementalPairs(a, next, threshold = Thr)._1)
        .shouldBe(rows(SrpIndex.incrementalPairs(b, next, threshold = Thr)._1))
    } finally { delete(rootA); delete(rootB) }
  }

  test("a partial index (no meta) refuses to load; append refuses too") {
    val root = tmp()
    try {
      corpus.limit(1).write.parquet(s"$root/idx/base.parquet")
      intercept[IllegalArgumentException] {
        SrpIndex.load(spark, s"$root/idx")
      }.getMessage should include("missing/incomplete")
      intercept[IllegalArgumentException] {
        SrpIndex.append(spark, s"$root/idx", batch)
      }
    } finally delete(root)
  }

  test("the batch is bucketed with the INDEX's params, not the caller's") {
    val root = tmp()
    try {
      val index = buildIndex(root)
      index.numBands shouldBe Bands
      index.planesPerBand shouldBe Planes
      index.dims shouldBe Dims
      index.idCol shouldBe "vec_id"
    } finally delete(root)
  }

  test("streaming fold-in: micro-batched pairs union equals one batch run; replay exact") {
    val rootS = tmp()
    val rootB = tmp()
    try {
      SrpIndex.build(spark, s"$rootS/idx", corpus, "vec_id", "embedding",
        Bands, Planes, Dims)
      val b1 = vecs.filter(col("vec_id") >= Split && col("vec_id") < 160)
      val b2 = vecs.filter(col("vec_id") >= 160 && col("vec_id") < 200)
      val emissions = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val body = SrpIndex.streamingDedupBatch(spark, s"$rootS/idx",
        threshold = Thr)((pairs, _) => emissions += rows(pairs))
      body(b1, 0L)
      body(b2, 1L)
      SrpIndex.appendedThrough(spark, s"$rootS/idx") shouldBe 1L
      // one-shot reference: index over the corpus, whole batch at once
      SrpIndex.build(spark, s"$rootB/idx", corpus, "vec_id", "embedding",
        Bands, Planes, Dims)
      val (whole, _) = SrpIndex.incrementalPairs(
        SrpIndex.load(spark, s"$rootB/idx"), batch, threshold = Thr)
      val expected = rows(whole)
      expected should not be empty
      emissions.flatten.sorted shouldBe expected.sorted
      // crash-replay of batch 1: original pairs reproduced exactly
      // (pre-append view reconstructed), index NOT double-appended
      val bandedRows = SrpIndex.load(spark, s"$rootS/idx").banded.count()
      body(b2, 1L)
      emissions.size shouldBe 3
      emissions(2) shouldBe emissions(1)
      SrpIndex.load(spark, s"$rootS/idx").banded.count() shouldBe bandedRows
    } finally { delete(rootS); delete(rootB) }
  }

  test("a remove landing mid-micro-batch keeps its tombstone stamp after the fold-in") {
    val root = tmp()
    try {
      buildIndex(root)
      def metaText(): String = {
        val p = new org.apache.hadoop.fs.Path(s"$root/idx/_srp_meta.json")
        val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      // LshIndexSpec's race, embedding side: a takedown completing
      // between the body's meta read and its fold-in lease must not
      // have its TombstoneVersion stamp overwritten by the append
      val body = SrpIndex.streamingDedupBatch(spark, s"$root/idx",
        threshold = Thr)((_, _) =>
          SrpIndex.remove(spark, s"$root/idx",
            vecs.filter(col("vec_id") < 5).select("vec_id")))
      body(batch, 0L)
      SrpIndex.appendedThrough(spark, s"$root/idx") shouldBe 0L // folded in
      metaText() should include(s""""version":${SrpIndex.TombstoneVersion}""")
      val idx = SrpIndex.load(spark, s"$root/idx")
      idx.base.filter(col("id") < 5).count() shouldBe 0L
      idx.base.filter(col("id") >= Split).count() should be > 0L // batch landed
    } finally delete(root)
  }

  test("streaming label face: index + store folds compose exactly-once across the crash window") {
    // streamingLabelBatchSrp through the same critical window the LSH
    // face pins (StreamIncLshRestartSpec): index fold lands, store
    // fold does not, the replay reconstructs the exact pairs and folds
    // the store once; a batch both markers cover is a pure no-op.
    val root = tmp()
    try {
      buildIndex(root)
      def ccOf(d: DataFrame): DataFrame =
        DupClusters.componentsStar(
          Similarity.srpNearDupPairs(d, Thr, Bands, Planes, Dims)
            .select(col("id_a").as("s"), col("id_b").as("t")),
          d.select(col("vec_id").as("id")))
      def dump(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      LabelStore.create(spark, s"$root/store", ccOf(corpus))
      val body = LabelStore.streamingLabelBatchSrp(spark, s"$root/idx",
        s"$root/store", threshold = Thr)((_, _) => ())
      val b0 = vecs.filter(col("vec_id") >= Split && col("vec_id") < 160)
        .select(col("vec_id"), col("embedding"))
      val b1 = vecs.filter(col("vec_id") >= 160 && col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
      body(b0, 0L)
      LabelStore.appendedThrough(spark, s"$root/store") shouldBe 0L
      // crash window: batch 1's INDEX fold lands, the store fold dies
      SrpIndex.streamingDedupBatch(spark, s"$root/idx",
        threshold = Thr)((_, _) => ())(b1, 1L)
      SrpIndex.appendedThrough(spark, s"$root/idx") shouldBe 1L
      LabelStore.appendedThrough(spark, s"$root/store") shouldBe 0L
      body(b1, 1L) // the replay completes the composition
      LabelStore.appendedThrough(spark, s"$root/store") shouldBe 1L
      val after = dump(LabelStore.load(spark, s"$root/store"))
      after shouldBe dump(ccOf(union))
      body(b1, 1L) // both markers cover: pure no-op
      SrpIndex.appendedThrough(spark, s"$root/idx") shouldBe 1L
      LabelStore.appendedThrough(spark, s"$root/store") shouldBe 1L
      dump(LabelStore.load(spark, s"$root/store")) shouldBe after
    } finally delete(root)
  }

  test("loadOrBuild: cache hit on matching params, rebuild on a param change") {
    val root = tmp()
    try {
      SrpIndex.loadOrBuild(spark, s"$root/idx", corpus, "vec_id", "embedding",
        Bands, Planes, Dims)
      // matching params → cache hit: the by-name df must not be touched
      val hit = SrpIndex.loadOrBuild(spark, s"$root/idx",
        sys.error("cache hit expected: df must not be evaluated"),
        "vec_id", "embedding", Bands, Planes, Dims)
      hit.numBands shouldBe Bands
      // banding is part of the index's identity: a param change rebuilds
      val rebuilt = SrpIndex.loadOrBuild(spark, s"$root/idx", corpus,
        "vec_id", "embedding", Bands + 1, Planes, Dims)
      rebuilt.numBands shouldBe Bands + 1
      SrpIndex.load(spark, s"$root/idx").numBands shouldBe Bands + 1
    } finally delete(root)
  }

  test("incremental plan: corpus banded/buckets scans are shuffle-free, batch side broadcasts") {
    // The same pin as LshIndexSpec's — kept on BOTH faces even though
    // the candidate machinery is one shared definition, because this
    // test also guards the SRP-side frame plumbing (a dropped persist
    // or a reordered column in srpFrames would surface here first).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.SparkPlan
    val root = tmp()
    try {
      val index = buildIndex(root)
      withConfs(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val (bBase, bBanded) = Similarity.srpFrames(batch, "vec_id",
          "embedding", Bands, Planes, Dims)
        try {
          val (pairs, caches, _) = LshIncremental.batchPairs(
            Similarity.banding, index.base, index.banded, index.buckets,
            bBase, bBanded, Thr, LshSkew.DefaultMaxBucketSize)
          try {
            val plan = pairs.queryExecution.executedPlan
            def scansUnder(p: SparkPlan, what: String): Int = p.collect {
              case sc: FileSourceScanExec
                  if sc.relation.location.rootPaths.exists(_.toString.contains(what)) => ()
            }.size
            // buckets frame ABSENT: the counts semi-join ran eagerly in
            // the census (zero drops on this fixture)
            scansUnder(plan, "banded.parquet") should be >= 1
            scansUnder(plan, "buckets.parquet") shouldBe 0
            val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
            withClue("expected exactly the candidate join as BroadcastHashJoin: ") {
              bhj.size shouldBe 1
            }
            val streamed = bhj.head.children(
              if (bhj.head.buildSide.toString.contains("Right")) 0 else 1)
            scansUnder(streamed, "banded.parquet") shouldBe 1
            withClue("shuffle between the corpus banded scan and the candidate join: ") {
              streamed.collect { case e: ShuffleExchangeExec => e } shouldBe empty
            }
            scansUnder(plan, "base.parquet") should be >= 1
            plan.collect { case e: BroadcastExchangeExec => e }.size shouldBe 1
          } finally caches.foreach(_.unpersist())
        } finally { bBase.unpersist(); bBanded.unpersist() }
      }
    } finally delete(root)
  }

  test("remove makes vectors invisible; compactFrames purges; reads equal a rebuild-without") {
    val rootA = tmp()
    val rootB = tmp()
    try {
      SrpIndex.build(spark, s"$rootA/idx", union, "vec_id", "embedding",
        Bands, Planes, Dims)
      SrpIndex.remove(spark, s"$rootA/idx",
        vecs.filter(col("vec_id") >= 130 && col("vec_id") < 160)
          .select("vec_id"))
      SrpIndex.build(spark, s"$rootB/idx",
        union.filter(col("vec_id") < 130 || col("vec_id") >= 160),
        "vec_id", "embedding", Bands, Planes, Dims)
      val next = vecs.filter(col("vec_id") >= 200 && col("vec_id") < 230)
      def serve(root: String) = SrpIndex.incrementalPairs(
        SrpIndex.load(spark, s"$root/idx"), next,
        threshold = Thr, maxBucketSize = 8)
      val (pa, ca) = serve(rootA)
      val (pb, cb) = serve(rootB)
      ca shouldBe cb
      val expected = rows(pb)
      expected should not be empty
      rows(pa) shouldBe expected
      // purge: tombstones gone, physical rows gone, reads unchanged
      SrpIndex.compactFrames(spark, s"$rootA/idx")
      new java.io.File(s"$rootA/idx/tombstones.parquet").exists() shouldBe false
      val idx = SrpIndex.load(spark, s"$rootA/idx")
      idx.base.filter(col("id") >= 130 && col("id") < 160).count() shouldBe 0L
      val (pc, cc) = SrpIndex.incrementalPairs(idx, next,
        threshold = Thr, maxBucketSize = 8)
      cc shouldBe ca
      rows(pc) shouldBe expected
    } finally { delete(rootA); delete(rootB) }
  }

  test("compactFrames bounds file counts; reads identical pre/post") {
    val root = tmp()
    try {
      SrpIndex.build(spark, s"$root/idx", corpus, "vec_id", "embedding",
        Bands, Planes, Dims)
      (0 until 4).foreach { i =>
        SrpIndex.append(spark, s"$root/idx",
          vecs.filter(col("vec_id") >= Split + i * 20
            && col("vec_id") < Split + i * 20 + 20))
      }
      val next = vecs.filter(col("vec_id") >= 200 && col("vec_id") < 230)
      val before = SrpIndex.incrementalPairs(
        SrpIndex.load(spark, s"$root/idx"), next,
        threshold = Thr, maxBucketSize = 30)
      val report = SrpIndex.compactFrames(spark, s"$root/idx")
      report.base.filesAfter shouldBe 1
      report.bucketRowsAfter should be < report.bucketRowsBefore
      val after = SrpIndex.incrementalPairs(
        SrpIndex.load(spark, s"$root/idx"), next,
        threshold = Thr, maxBucketSize = 30)
      after._2 shouldBe before._2
      rows(after._1) shouldBe rows(before._1)
    } finally delete(root)
  }

  test("build rejects a banding it cannot honour, before writing anything") {
    val root = tmp()
    try {
      Seq((0, Planes, Dims, "numBands"), (Bands, 0, Dims, "planesPerBand"),
          (Bands, 65, Dims, "planesPerBand"), (Bands, Planes, 0, "dims")).foreach {
        case (bands, planes, dims, param) =>
          withClue(s"bands=$bands planes=$planes dims=$dims: ") {
            val e = intercept[IllegalArgumentException] {
              SrpIndex.build(spark, s"$root/idx", corpus, "vec_id", "embedding",
                bands, planes, dims)
            }
            e.getMessage should include(param)
          }
      }
      new java.io.File(s"$root/idx").exists() shouldBe false
    } finally delete(root)
  }
}

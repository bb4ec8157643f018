package graft.ext

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted LSH index + incremental batch dedup: the incremental pair
  * set must equal the full-recompute run restricted to batch-touching
  * pairs (including under an active bucket cap), append must be
  * indistinguishable from a rebuild over the union, and partial writes
  * must not load.
  */
class LshIndexSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf, "documents")

  private val Split = 40L
  private lazy val corpus = docs.filter(col("doc_id") < Split)
  private lazy val batch =
    docs.filter(col("doc_id") >= Split && col("doc_id") < 60)
  private lazy val union = docs.filter(col("doc_id") < 60)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_lshidx_").toString

  private def delete(root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("id_a", "id_b").collect().map(_.toString).toSeq

  /** Full-run pairs over the union slice, restricted to pairs with
    * ≥ 1 batch id (ids are ordered and the batch is the upper range,
    * so id_b ≥ Split ⇔ at least one batch member).
    */
  private def fullRestricted(maxBucketSize: Int): DataFrame =
    Dedup.lshNearDupPairs(union, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2, threshold = 0.5,
        maxBucketSize = maxBucketSize)
      .filter(col("id_b") >= Split)

  private def buildIndex(root: String): LshIndex.Index = {
    LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
      shingleWidth = 1, numHashes = 8, numBands = 2)
    LshIndex.load(spark, s"$root/idx")
  }

  test("incremental pairs equal the full recompute restricted to the batch") {
    val root = tmp()
    try {
      val index = buildIndex(root)
      val (pairs, census) = LshIndex.incrementalPairs(index, batch, "text",
        threshold = 0.5)
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
      // cap small enough that union buckets overflow: the synthetic
      // corpus shares one vocabulary, so band buckets are crowded
      val cap = 5
      val (pairs, census) = LshIndex.incrementalPairs(index, batch, "text",
        threshold = 0.5, maxBucketSize = cap)
      census.anyDropped shouldBe true // otherwise this test gates nothing
      rows(pairs) shouldBe rows(fullRestricted(cap))
    } finally delete(root)
  }

  test("a batch-only bucket over the cap is dropped (new-new capping)") {
    val root = tmp()
    try {
      // corpus and batch share NO vocabulary: every union bucket is
      // pure-corpus or pure-batch, so a cap of 1 exercises capping of
      // buckets the stored counts know nothing about
      import spark.implicits._
      val corp = Seq((1L, "alpha beta"), (2L, "gamma delta"))
        .toDF("doc_id", "text")
      val b = Seq((10L, "epsilon zeta"), (11L, "epsilon zeta"),
        (12L, "eta theta")).toDF("doc_id", "text")
      LshIndex.build(spark, s"$root/idx", corp, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val index = LshIndex.load(spark, s"$root/idx")
      val (dup, c0) = LshIndex.incrementalPairs(index, b, "text",
        threshold = 0.9)
      c0.anyDropped shouldBe false
      dup.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq shouldBe Seq((10L, 11L))
      val (none, c1) = LshIndex.incrementalPairs(index, b, "text",
        threshold = 0.9, maxBucketSize = 1)
      c1.anyDropped shouldBe true
      none.count() shouldBe 0L
    } finally delete(root)
  }

  test("pairsAmong equals the full run restricted to subset×subset, incl. tombstoned + capped") {
    val root = tmp()
    try {
      buildIndex(root)
      val subset = docs.filter(col("doc_id") >= 10 && col("doc_id") < 30)
        .select("doc_id")
      def fullAmong(df: DataFrame, cap: Int): Seq[String] = rows(
        Dedup.lshNearDupPairs(df, "text", "doc_id",
            shingleWidth = 1, numHashes = 8, numBands = 2, threshold = 0.5,
            maxBucketSize = cap)
          .filter(col("id_a") >= 10 && col("id_a") < 30 &&
            col("id_b") >= 10 && col("id_b") < 30))
      val idx = LshIndex.load(spark, s"$root/idx")
      val (p0, c0) = LshIndex.pairsAmong(idx, subset, threshold = 0.5)
      c0.anyDropped shouldBe false
      val expect0 = fullAmong(corpus, LshSkew.DefaultMaxBucketSize)
      expect0 should not be empty // a vacuous equality gates nothing
      rows(p0) shouldBe expect0
      // under an ACTIVE cap: the subset's pairs must reproduce the
      // full run's CORPUS-total cap decisions (stored counts carry
      // them — the subset's own rows are already inside)
      val cap = 5
      val (p1, c1) = LshIndex.pairsAmong(idx, subset, threshold = 0.5,
        maxBucketSize = cap)
      c1.anyDropped shouldBe true // otherwise the cap case gates nothing
      rows(p1) shouldBe fullAmong(corpus, cap)
      // on a TOMBSTONED index the subset intersects the survivors and
      // totals are the delta-corrected post-removal counts: equality
      // holds against a corpus that never saw the removed docs
      LshIndex.remove(spark, s"$root/idx",
        docs.filter(col("doc_id") >= 15 && col("doc_id") < 20).select("doc_id"))
      val survIdx = LshIndex.load(spark, s"$root/idx")
      val (p2, c2) = LshIndex.pairsAmong(survIdx, subset, threshold = 0.5)
      c2.anyDropped shouldBe false
      val survCorpus = corpus.filter(col("doc_id") < 15 || col("doc_id") >= 20)
      val expect2 = fullAmong(survCorpus, LshSkew.DefaultMaxBucketSize)
      rows(p2) shouldBe expect2
      expect2 should not be expect0 // the removal is load-bearing
    } finally delete(root)
  }

  test("append is indistinguishable from a rebuild over the union") {
    val rootA = tmp()
    val rootB = tmp()
    try {
      LshIndex.build(spark, s"$rootA/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      LshIndex.append(spark, s"$rootA/idx", batch, "text")
      LshIndex.build(spark, s"$rootB/idx", union, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val a = LshIndex.load(spark, s"$rootA/idx")
      val b = LshIndex.load(spark, s"$rootB/idx")
      def dump(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      dump(a.base) shouldBe dump(b.base)
      dump(a.banded) shouldBe dump(b.banded)
      // counts are delta rows (append adds one row per touched
      // bucket); equality holds at the per-bucket TOTALS readers sum
      def totals(df: DataFrame): Seq[String] = dump(
        df.groupBy(col("band_idx"), col("band_hash"))
          .agg(sum(col("bucket_n")).as("bucket_n")))
      totals(a.buckets) shouldBe totals(b.buckets)
      // and the appended index serves the NEXT batch identically
      val next = docs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
      rows(LshIndex.incrementalPairs(a, next, "text", threshold = 0.5)._1)
        .shouldBe(rows(LshIndex.incrementalPairs(b, next, "text", threshold = 0.5)._1))
    } finally { delete(rootA); delete(rootB) }
  }

  test("a partial index (no meta) refuses to load; append refuses too") {
    val root = tmp()
    try {
      corpus.limit(1).write.parquet(s"$root/idx/base.parquet")
      val e = intercept[IllegalArgumentException] {
        LshIndex.load(spark, s"$root/idx")
      }
      e.getMessage should include("missing/incomplete")
      intercept[IllegalArgumentException] {
        LshIndex.append(spark, s"$root/idx", batch, "text")
      }
    } finally delete(root)
  }

  test("a truncated meta is an incomplete index with an explicit message") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val p = new org.apache.hadoop.fs.Path(s"$root/idx/_lsh_meta.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      out.write("""{"version":1,"idC""".getBytes("UTF-8"))
      out.close()
      val e = intercept[RuntimeException] { LshIndex.load(spark, s"$root/idx") }
      e.getMessage should include("truncated/corrupt")
    } finally delete(root)
  }

  test("incremental plan: corpus banded/buckets scans are shuffle-free, batch side broadcasts") {
    // The operator's whole scale argument, pinned as a plan shape:
    // the stored counts and banded frames must be consumed by
    // map-side joins against EXPLICITLY broadcast batch frames (the
    // hints are size-guarded in code, not left to the AQE threshold).
    // AQE off + auto-broadcast -1 so only the explicit hints can
    // produce a broadcast, and the executed tree is inspectable.
    // The verify joins are exempt BY DESIGN (candidate volume is
    // runtime-data-dependent; AQE decides there), so the corpus BASE
    // scan may sit under an exchange in this pinned conf — only
    // banded + buckets carry the no-corpus-shuffle guarantee.
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
        val (bBase, bBanded) = Dedup.bandedFrame(batch, "text", "doc_id",
          1, 8, 2, Dedup.VerifyOn.HashSets)
        val (pairs, planCaches, _) = LshIncremental.batchPairs(
          Dedup.banding(Dedup.VerifyOn.HashSets), index.base, index.banded,
          index.buckets, bBase, bBanded, 0.5, LshSkew.DefaultMaxBucketSize)
        val caches = Seq(bBase, bBanded) ++ planCaches
        try {
          val plan = pairs.queryExecution.executedPlan
          def scansUnder(p: SparkPlan, what: String): Int = p.collect {
            case s: FileSourceScanExec
                if s.relation.location.rootPaths.exists(_.toString.contains(what)) => ()
          }.size
          // the corpus banded scan is in the plan, the buckets frame is
          // ABSENT by design: its semi-join ran eagerly inside the
          // census (zero drops on this fixture), so the pair plan
          // carries no counts subtree at all
          scansUnder(plan, "banded.parquet") should be >= 1
          scansUnder(plan, "buckets.parquet") shouldBe 0
          // the candidate join is the ONE BroadcastHashJoin (the
          // size-guarded hint survived planning; under threshold -1
          // only the explicit hint can produce it), its STREAMED side
          // holds the corpus banded scan, and no shuffle sits between
          // that scan and the join — the corpus flows into the join
          // exactly as written to disk
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
          // the verify joins are un-hinted by design — under this conf
          // their SMJ re-shuffles the base payload, which is AQE's
          // runtime call in production — so base appears, un-pinned
          scansUnder(plan, "base.parquet") should be >= 1
          plan.collect { case e: BroadcastExchangeExec => e }.size shouldBe 1
        } finally caches.foreach(_.unpersist())
      }
    } finally delete(root)
  }

  test("streaming fold-in: micro-batched pairs union equals one batch run") {
    val rootS = tmp()
    val rootB = tmp()
    try {
      // the closure is a plain function — drive it directly with two
      // "micro-batches" (the q110 gate drives the real streaming engine)
      LshIndex.build(spark, s"$rootS/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val b1 = docs.filter(col("doc_id") >= Split && col("doc_id") < 50)
      val b2 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 60)
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      val body = LshIndex.streamingDedupBatch(spark, s"$rootS/idx", "text",
        threshold = 0.5)((pairs, _) => got ++= rows(pairs))
      body(b1, 0L)
      body(b2, 1L)
      // one-shot reference: index over the corpus, whole batch at once
      LshIndex.build(spark, s"$rootB/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val (whole, _) = LshIndex.incrementalPairs(
        LshIndex.load(spark, s"$rootB/idx"), batch, "text", threshold = 0.5)
      val expected = rows(whole)
      expected should not be empty
      // cross-batch pairs (a b1 doc near-dup of a b2 doc) must be in
      // the union — the fold-in is what makes them reachable
      got.sorted.toSeq shouldBe expected.sorted
    } finally { delete(rootS); delete(rootB) }
  }

  test("a replayed micro-batch reproduces its ORIGINAL pairs, never double-appends") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val emissions = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val body = LshIndex.streamingDedupBatch(spark, s"$root/idx", "text",
        threshold = 0.5)((pairs, _) => emissions += rows(pairs))
      body(batch, 7L)
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe 7L
      val rowsAfterFirst = LshIndex.load(spark, s"$root/idx").banded.count()
      body(batch, 7L) // crash-replay of the same micro-batch
      emissions.size shouldBe 2
      emissions.head should not be empty
      // CONTENT equality: the index already contains the batch on
      // replay, so the body must reconstruct the pre-append view —
      // pairing the batch against itself through the index would emit
      // duplicated/cap-distorted rows here
      emissions(1) shouldBe emissions.head
      LshIndex.load(spark, s"$root/idx").banded.count() shouldBe rowsAfterFirst
    } finally delete(root)
  }

  test("a remove landing mid-micro-batch keeps its tombstone stamp after the fold-in") {
    val root = tmp()
    try {
      buildIndex(root)
      def metaText(): String = {
        val p = new org.apache.hadoop.fs.Path(s"$root/idx/_lsh_meta.json")
        val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      // the foreachBatch body reads the meta at batch start; a takedown
      // lands while the batch is mid-flight (inside onPairs — after
      // that read, before the fold-in lease). The fold-in must re-read
      // the meta inside its transaction: writing the STALE pre-remove
      // meta back would re-stamp FormatVersion over TombstoneVersion
      // while tombstones.parquet still exists, re-enabling pre-tombstone
      // builds to serve the removed documents.
      val body = LshIndex.streamingDedupBatch(spark, s"$root/idx", "text",
        threshold = 0.5)((_, _) =>
          LshIndex.remove(spark, s"$root/idx",
            docs.filter(col("doc_id") < 5).select("doc_id")))
      body(batch, 0L)
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe 0L // folded in
      metaText() should include(s""""version":${LshIndex.TombstoneVersion}""")
      // and the takedown holds through the survivor view
      val idx = LshIndex.load(spark, s"$root/idx")
      idx.base.filter(col("id") < 5).count() shouldBe 0L
      idx.base.filter(col("id") >= Split).count() should be > 0L // batch landed
    } finally delete(root)
  }

  test("a replay AFTER an intervening remove emits the current-truth view exactly") {
    val rootS = tmp()
    val rootR = tmp()
    try {
      // stream folds the batch in, then a takedown removes one corpus
      // document, then the batch is REPLAYED (crash-restart after the
      // remove): the emission must equal an incremental run of the
      // batch against (corpus minus the removed doc) — removed docs
      // scrubbed from the replayed output, counts not double-
      // subtracted (the visible-view subtraction in subtractBatch)
      LshIndex.build(spark, s"$rootS/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val emissions = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val body = LshIndex.streamingDedupBatch(spark, s"$rootS/idx", "text",
        threshold = 0.5)((pairs, _) => emissions += rows(pairs))
      body(batch, 0L)
      // remove a corpus doc that participates in batch-touching pairs
      val victim = emissions.head.head // "[id_a,id_b,...]" — id_a is corpus-side
      val victimId = victim.drop(1).takeWhile(_ != ',').toLong
      import spark.implicits._
      LshIndex.remove(spark, s"$rootS/idx", Seq(victimId).toDF("doc_id"))
      body(batch, 0L) // crash-replay, post-remove
      emissions.size shouldBe 2
      // reference: fresh index over corpus minus the victim
      LshIndex.build(spark, s"$rootR/idx",
        corpus.filter(col("doc_id") =!= victimId), "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val (ref, _) = LshIndex.incrementalPairs(
        LshIndex.load(spark, s"$rootR/idx"), batch, "text", threshold = 0.5)
      val expected = rows(ref)
      expected should not be empty
      emissions(1) shouldBe expected
      emissions(1) should not be emissions.head // the scrub is load-bearing
    } finally { delete(rootS); delete(rootR) }
  }

  test("rebuild clears the streaming replay marker") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      LshIndex.append(spark, s"$root/idx", batch, "text", batchMarker = Some(5L))
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe 5L
      // rebuild = a fresh corpus with NONE of the streamed batches; a
      // stale marker would make a restarted stream skip folding them in
      LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe -1L
    } finally delete(root)
  }

  test("compactBuckets folds deltas to one row per bucket; reads unchanged") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      LshIndex.append(spark, s"$root/idx", batch, "text")
      val before = LshIndex.incrementalPairs(
        LshIndex.load(spark, s"$root/idx"),
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 70),
        "text", threshold = 0.5, maxBucketSize = 5)
      LshIndex.compactBuckets(spark, s"$root/idx")
      val idx = LshIndex.load(spark, s"$root/idx")
      // one row per bucket after compaction
      idx.buckets.groupBy(col("band_idx"), col("band_hash"))
        .count().filter(col("count") > 1).count() shouldBe 0L
      // and a CAP-ACTIVE read over the compacted counts is unchanged
      val after = LshIndex.incrementalPairs(idx,
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 70),
        "text", threshold = 0.5, maxBucketSize = 5)
      after._2 shouldBe before._2
      rows(after._1) shouldBe rows(before._1)
    } finally delete(root)
  }

  test("compactFrames bounds every frame's file count; reads identical pre/post") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      // many tiny fold-ins: each append writes a fresh small file set
      // into all three frames — the growth compactFrames exists to bound
      (0 until 6).foreach { i =>
        LshIndex.append(spark, s"$root/idx",
          docs.filter(col("doc_id") >= Split + i * 2
            && col("doc_id") < Split + i * 2 + 2), "text",
          batchMarker = Some(i.toLong))
      }
      def files(frame: String): Int = {
        val dir = new java.io.File(s"$root/idx/$frame")
        dir.listFiles().count(f => f.isFile && !f.getName.startsWith(".")
          && !f.getName.startsWith("_"))
      }
      val next = docs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
      val before = LshIndex.incrementalPairs(
        LshIndex.load(spark, s"$root/idx"), next, "text",
        threshold = 0.5, maxBucketSize = 5)
      val filesBefore = Frames.map(files)
      filesBefore.foreach(_ should be > 6) // growth actually happened
      val report = LshIndex.compactFrames(spark, s"$root/idx")
      // every frame collapsed to the byte-sized file count (tiny here)
      Frames.map(files) shouldBe Seq(1, 1, 1)
      report.base.filesAfter shouldBe 1
      report.banded.filesAfter shouldBe 1
      report.bucketFilesAfter shouldBe 1
      report.bucketRowsAfter should be < report.bucketRowsBefore
      // a CAP-ACTIVE read over the compacted frames is unchanged
      val idx = LshIndex.load(spark, s"$root/idx")
      val after = LshIndex.incrementalPairs(idx, next, "text",
        threshold = 0.5, maxBucketSize = 5)
      after._2 shouldBe before._2
      rows(after._1) shouldBe rows(before._1)
      // the replay marker survives: compaction changes layout, never
      // which batches are folded in
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe 5L
      // and the compacted index still accepts appends
      LshIndex.append(spark, s"$root/idx",
        docs.filter(col("doc_id") >= 70 && col("doc_id") < 72), "text",
        batchMarker = Some(6L))
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe 6L
    } finally delete(root)
  }

  private val Frames = Seq("base.parquet", "banded.parquet", "buckets.parquet")

  test("remove makes documents invisible: reads equal a rebuild without them") {
    val rootA = tmp()
    val rootB = tmp()
    try {
      LshIndex.build(spark, s"$rootA/idx", union, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      LshIndex.remove(spark, s"$rootA/idx",
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 50).select("doc_id"))
      LshIndex.build(spark, s"$rootB/idx",
        union.filter(col("doc_id") < 40 || col("doc_id") >= 50),
        "text", "doc_id", shingleWidth = 1, numHashes = 8, numBands = 2)
      val a = LshIndex.load(spark, s"$rootA/idx")
      val b = LshIndex.load(spark, s"$rootB/idx")
      def dump(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      dump(a.base) shouldBe dump(b.base)
      dump(a.banded) shouldBe dump(b.banded)
      def totals(df: DataFrame): Seq[String] = dump(
        df.groupBy(col("band_idx"), col("band_hash"))
          .agg(sum(col("bucket_n")).as("bucket_n"))
          .filter(col("bucket_n") =!= 0))
      totals(a.buckets) shouldBe totals(b.buckets)
      // and the removed index serves the NEXT batch identically —
      // under an ACTIVE cap, so the corrected union totals are what
      // decide bucket survival (a bucket the removed docs pushed over
      // the cap can drop back under and resurrect surviving pairs)
      val next = docs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
      val (pa, ca) = LshIndex.incrementalPairs(a, next, "text",
        threshold = 0.5, maxBucketSize = 5)
      val (pb, cb) = LshIndex.incrementalPairs(b, next, "text",
        threshold = 0.5, maxBucketSize = 5)
      ca shouldBe cb
      val expected = rows(pb)
      expected should not be empty
      rows(pa) shouldBe expected
    } finally { delete(rootA); delete(rootB) }
  }

  test("remove is idempotent; never-indexed ids are a no-op") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", union, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      val victims = docs.filter(col("doc_id") >= 40 && col("doc_id") < 50)
        .select("doc_id")
      LshIndex.remove(spark, s"$root/idx", victims)
      def totals(): Seq[String] =
        LshIndex.load(spark, s"$root/idx").buckets
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(sum(col("bucket_n")).as("bucket_n"))
          .collect().map(_.toString).sorted.toSeq
      val t1 = totals()
      // retried remove: already-tombstoned ids contribute no deltas —
      // a double-subtraction would distort every cap decision
      LshIndex.remove(spark, s"$root/idx", victims)
      totals() shouldBe t1
      // never-indexed ids: no deltas, no phantom tombstone effects
      import spark.implicits._
      LshIndex.remove(spark, s"$root/idx", Seq(99999L).toDF("doc_id"))
      totals() shouldBe t1
    } finally delete(root)
  }

  test("remove reports the buckets it un-caps — the labeling-repair regime guard") {
    // the documented cap-regime caveat (removeFromLabeling scaladoc)
    // made executable: a takedown that drops a degenerate bucket back
    // under the cap resurrects pairs in components it never touched,
    // so the repair must detect it. 8 identical docs land in one
    // bucket per band (2 bands); cap 5.
    import spark.implicits._
    val root = tmp()
    try {
      val same = (0L until 8L).map(i => (i, "all the same words here"))
      val distinctDocs = (100L until 105L).map(i => (i, s"unique text number $i of its own"))
      LshIndex.build(spark, s"$root/idx", (same ++ distinctDocs)
        .toDF("doc_id", "text"), "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      // pre 8 → post 7: still over the cap — nothing un-capped
      val r1 = LshIndex.remove(spark, s"$root/idx",
        Seq(0L).toDF("doc_id"), maxBucketSize = 5)
      r1.removed shouldBe 1L
      r1.anyUncapped shouldBe false
      // pre 7 → post 4: crosses the cap in BOTH bands
      val r2 = LshIndex.remove(spark, s"$root/idx",
        (1L until 4L).toDF("doc_id"), maxBucketSize = 5)
      r2.removed shouldBe 3L
      r2.uncappedBuckets shouldBe 2L
      // retried remove: no fresh ids, no deltas, no phantom un-caps
      val r3 = LshIndex.remove(spark, s"$root/idx",
        (0L until 4L).toDF("doc_id"), maxBucketSize = 5)
      r3.removed shouldBe 0L
      r3.anyUncapped shouldBe false
      // a takedown of never-degenerate docs reports zero
      val r4 = LshIndex.remove(spark, s"$root/idx",
        Seq(100L).toDF("doc_id"), maxBucketSize = 5)
      r4.removed shouldBe 1L
      r4.anyUncapped shouldBe false
      // a bucket emptied below 2 survivors serves no pairs — crossing
      // the cap downward into a 0/1-member bucket must NOT read as
      // un-capped (it cannot resurrect anything; flagging it would
      // force a pointless corpus rebuild). Bucket is at 4 (ids 4–7);
      // cap 2: pre 4 > 2, post 1 < 2 ⇒ zero.
      val r5 = LshIndex.remove(spark, s"$root/idx",
        (4L until 7L).toDF("doc_id"), maxBucketSize = 2)
      r5.removed shouldBe 3L
      r5.anyUncapped shouldBe false
    } finally delete(root)
  }

  test("compactBuckets on a tombstoned index: totals stay post-removal-correct") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", union, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      LshIndex.remove(spark, s"$root/idx",
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 50).select("doc_id"))
      val next = docs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
      val before = LshIndex.incrementalPairs(
        LshIndex.load(spark, s"$root/idx"), next, "text",
        threshold = 0.5, maxBucketSize = 5)
      // counts-only maintenance: the removal's negative deltas fold
      // into the aggregation (a fully-removed bucket drops out via the
      // > 0 filter), tombstones and version stamp stay untouched
      LshIndex.compactBuckets(spark, s"$root/idx")
      new java.io.File(s"$root/idx/tombstones.parquet").exists() shouldBe true
      val after = LshIndex.incrementalPairs(
        LshIndex.load(spark, s"$root/idx"), next, "text",
        threshold = 0.5, maxBucketSize = 5)
      after._2 shouldBe before._2
      rows(after._1) shouldBe rows(before._1)
    } finally delete(root)
  }

  test("tombstones stamp the format version: old readers refuse, purge restores") {
    val root = tmp()
    try {
      import spark.implicits._
      LshIndex.build(spark, s"$root/idx", union, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      def metaVersion(): Int = {
        val src = scala.io.Source.fromFile(s"$root/idx/_lsh_meta.json")
        try """"version":(\d+)""".r.findFirstMatchIn(src.mkString).get
          .group(1).toInt
        finally src.close()
      }
      metaVersion() shouldBe LshIndex.FormatVersion
      LshIndex.remove(spark, s"$root/idx", Seq(41L).toDF("doc_id"))
      // the layout changed read semantics — the version must change
      // WITH it, so a pre-tombstone build fails its version require
      // instead of silently serving the removed documents
      metaVersion() shouldBe LshIndex.TombstoneVersion
      // this build reads, appends to, and caches the tombstoned index
      LshIndex.load(spark, s"$root/idx").numHashes shouldBe 8
      LshIndex.append(spark, s"$root/idx",
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 62), "text")
      metaVersion() shouldBe LshIndex.TombstoneVersion // append preserves
      val hit = LshIndex.loadOrBuild(spark, s"$root/idx",
        sys.error("cache hit expected: removals are state, not identity"),
        "text", "doc_id", shingleWidth = 1, numHashes = 8, numBands = 2)
      hit.numHashes shouldBe 8
      // the purge restores the plain layout — and the plain version
      LshIndex.compactFrames(spark, s"$root/idx")
      metaVersion() shouldBe LshIndex.FormatVersion
    } finally delete(root)
  }

  test("compactFrames purges tombstones physically; reads unchanged") {
    val root = tmp()
    try {
      LshIndex.build(spark, s"$root/idx", union, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      LshIndex.remove(spark, s"$root/idx",
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 50).select("doc_id"))
      val next = docs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
      val before = LshIndex.incrementalPairs(
        LshIndex.load(spark, s"$root/idx"), next, "text",
        threshold = 0.5, maxBucketSize = 5)
      val report = LshIndex.compactFrames(spark, s"$root/idx")
      // purge parity: survivors in == rows out (Report enforces it);
      // the tombstone frame is gone and the physical rows with it
      new java.io.File(s"$root/idx/tombstones.parquet").exists() shouldBe false
      val idx = LshIndex.load(spark, s"$root/idx")
      idx.base.filter(col("id") >= 40 && col("id") < 50).count() shouldBe 0L
      report.base.rowsAfter shouldBe idx.base.count()
      val after = LshIndex.incrementalPairs(idx, next, "text",
        threshold = 0.5, maxBucketSize = 5)
      after._2 shouldBe before._2
      rows(after._1) shouldBe rows(before._1)
    } finally delete(root)
  }

  test("loadOrBuild: cache hit on matching params, rebuild on a param change") {
    val root = tmp()
    try {
      LshIndex.loadOrBuild(spark, s"$root/idx", corpus, "text", "doc_id",
        shingleWidth = 1, numHashes = 8, numBands = 2)
      // matching params → cache hit: the by-name df must not be touched
      val hit = LshIndex.loadOrBuild(spark, s"$root/idx",
        sys.error("cache hit expected: df must not be evaluated"),
        "text", "doc_id", shingleWidth = 1, numHashes = 8, numBands = 2)
      hit.numHashes shouldBe 8
      // banding is part of the index's identity: a param change rebuilds
      val rebuilt = LshIndex.loadOrBuild(spark, s"$root/idx", corpus,
        "text", "doc_id", shingleWidth = 1, numHashes = 8, numBands = 4)
      rebuilt.numBands shouldBe 4
      LshIndex.load(spark, s"$root/idx").numBands shouldBe 4
    } finally delete(root)
  }

  test("the batch is banded with the INDEX's params, not the caller's") {
    val root = tmp()
    try {
      // build with numHashes=8/numBands=2; incrementalPairs has no
      // banding knobs at all — the meta round-trip is what's pinned
      val index = buildIndex(root)
      index.numHashes shouldBe 8
      index.numBands shouldBe 2
      index.shingleWidth shouldBe 1
      index.idCol shouldBe "doc_id"
      index.verifyOn shouldBe Dedup.VerifyOn.HashSets
    } finally delete(root)
  }
}

package graft.ext

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** The index family's shared writer protocol ([[IndexFiles]]): the
  * single-writer lease (a live concurrent mutator fails loudly, a
  * crashed writer's stale lock is taken over), marker monotonicity
  * (an out-of-order manual batch id never regresses the replay
  * marker — a regressed marker would let a retry double-append), and
  * marker identity (a stream with a fresh/changed checkpoint must not
  * silently misclassify its batches against a dead writer's marker).
  */
class IndexGuardSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sf, "documents")
  private lazy val corpus = docs.filter(col("doc_id") < 40)
  private lazy val batch =
    docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_guard_").toString

  private def delete(root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def writeLock(dir: String, ageMs: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_writer_lock")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((System.currentTimeMillis() - ageMs).toString.getBytes("UTF-8"))
    finally out.close()
  }

  private def lockExists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_writer_lock")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def buildLsh(root: String): Unit =
    LshIndex.build(spark, s"$root/idx", corpus, "text", "doc_id",
      shingleWidth = 1, numHashes = 8, numBands = 2)

  test("a second concurrent LshIndex writer fails loudly on the lease") {
    val root = tmp()
    try {
      buildLsh(root)
      writeLock(s"$root/idx", ageMs = 0) // a live writer holds the lease
      val e = intercept[IllegalArgumentException] {
        LshIndex.append(spark, s"$root/idx", batch, "text")
      }
      e.getMessage should include("_writer_lock")
      e.getMessage should include("single-writer")
      // the failed attempt must NOT have released the other writer's lock
      lockExists(s"$root/idx") shouldBe true
      // and must not have mutated: the index still loads and serves
      LshIndex.load(spark, s"$root/idx").numHashes shouldBe 8
    } finally delete(root)
  }

  test("a crashed writer's stale lock is taken over, then released") {
    val root = tmp()
    try {
      buildLsh(root)
      writeLock(s"$root/idx", ageMs = IndexFiles.DefaultLeaseStaleMs + 60000)
      LshIndex.append(spark, s"$root/idx", batch, "text") // takes over
      lockExists(s"$root/idx") shouldBe false // released on completion
      LshIndex.load(spark, s"$root/idx").base.count() shouldBe
        corpus.count() + batch.count()
    } finally delete(root)
  }

  test("build acquires the lease too (a live lock blocks a rebuild)") {
    val root = tmp()
    try {
      buildLsh(root)
      writeLock(s"$root/idx", ageMs = 0)
      intercept[IllegalArgumentException] { buildLsh(root) }
        .getMessage should include("_writer_lock")
      LshIndex.load(spark, s"$root/idx").numHashes shouldBe 8

      // every store's build/save/create takes the same lease, and a
      // refused rebuild leaves the existing store readable
      import spark.implicits._
      def refusedUnderLiveLock(dir: String)(rebuild: => Unit): Unit = {
        writeLock(dir, ageMs = 0)
        intercept[IllegalArgumentException](rebuild)
          .getMessage should include("_writer_lock")
        lockExists(dir) shouldBe true
      }
      val e = Tables(spark, sf, "embeddings")
      def buildSrp(): Unit = SrpIndex.build(spark, s"$root/srp",
        e.filter(col("vec_id") < 40), numBands = 2, planesPerBand = 4, dims = 64)
      buildSrp()
      refusedUnderLiveLock(s"$root/srp")(buildSrp())
      SrpIndex.load(spark, s"$root/srp").base.count() shouldBe 40L

      val centroids = e.filter(col("vec_id") < 4)
      def saveIvf(): Unit = IvfIndex.save(spark, s"$root/ivf", centroids,
        Some(Similarity.assignToCentroids(e.filter(col("vec_id") < 40), centroids)))
      saveIvf()
      refusedUnderLiveLock(s"$root/ivf")(saveIvf())
      IvfIndex.load(spark, s"$root/ivf").assignments.get.count() shouldBe 40L

      val labels = Seq(1L -> 1L, 2L -> 1L).toDF("id", "label")
      LabelStore.create(spark, s"$root/labels", labels)
      refusedUnderLiveLock(s"$root/labels")(
        LabelStore.create(spark, s"$root/labels", labels))
      LabelStore.load(spark, s"$root/labels").count() shouldBe 2L

      val seeds = Seq("h0.test/d/0").toDF("nurl")
      Frontier.create(spark, s"$root/frontier", seeds)
      refusedUnderLiveLock(s"$root/frontier")(
        Frontier.create(spark, s"$root/frontier", seeds, overwrite = true))
      Frontier.rounds(spark, s"$root/frontier") shouldBe 0L
      Frontier.seen(spark, s"$root/frontier").count() shouldBe 1L
    } finally delete(root)
  }

  test("the lease HEARTBEATS: a live long-running writer cannot be aged out") {
    val root = tmp()
    try {
      val dir = s"$root/idx"
      def lockTs(): Long = {
        // the heartbeat rewrite is non-atomic — retry through the
        // empty window, exactly as the product's age check treats it
        var v: Option[Long] = None
        while (v.isEmpty) {
          val src = scala.io.Source.fromFile(s"$dir/_writer_lock")
          try v = src.mkString.trim.toLongOption finally src.close()
          if (v.isEmpty) Thread.sleep(10)
        }
        v.get
      }
      // staleMs = 900 ms → heartbeat every 300 ms; a body outliving
      // the stale threshold must keep its lock timestamp fresh, or a
      // concurrent writer's age-based takeover would steal the lease
      // from a LIVE compaction and re-enable the dual-writer race
      IndexFiles.withWriterLease(spark, dir, "test", staleMs = 900) {
        val t0 = lockTs()
        Thread.sleep(1200)
        val t1 = lockTs()
        (t1 - t0) should be >= 300L // refreshed at least once
        (System.currentTimeMillis() - t1) should be < 900L // never stale
      }
      lockExists(dir) shouldBe false // released on completion
    } finally delete(root)
  }

  test("marker is monotonic: an out-of-order manual id never regresses it") {
    val root = tmp()
    try {
      buildLsh(root)
      LshIndex.append(spark, s"$root/idx", batch, "text", batchMarker = Some(7L))
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe 7L
      // a caller writing ids out of order: the marker keeps the max —
      // regressing to 5 would make batches 6..7 look un-folded and a
      // retry would double-append them
      val more = docs.filter(col("doc_id") >= 60 && col("doc_id") < 62)
      LshIndex.append(spark, s"$root/idx", more, "text", batchMarker = Some(5L))
      LshIndex.appendedThrough(spark, s"$root/idx") shouldBe 7L
    } finally delete(root)
  }

  test("IvfIndex marker is monotonic and its save/append hold the lease") {
    val root = tmp()
    try {
      val e = Tables(spark, sf, "embeddings")
      val centroids = e.filter(col("vec_id") < 4)
      IvfIndex.save(spark, s"$root/idx", centroids,
        Some(Similarity.assignToCentroids(e.filter(col("vec_id") < 50), centroids)))
      IvfIndex.append(spark, s"$root/idx",
        e.filter(col("vec_id") >= 50 && col("vec_id") < 60),
        batchMarker = Some(3L))
      IvfIndex.append(spark, s"$root/idx",
        e.filter(col("vec_id") >= 60 && col("vec_id") < 70),
        batchMarker = Some(1L))
      IvfIndex.appendedThrough(spark, s"$root/idx") shouldBe 3L
      writeLock(s"$root/idx", ageMs = 0)
      intercept[IllegalArgumentException] {
        IvfIndex.append(spark, s"$root/idx",
          e.filter(col("vec_id") >= 70 && col("vec_id") < 80))
      }.getMessage should include("_writer_lock")
    } finally delete(root)
  }

  test("a stream with a different identity than the marker fails loudly") {
    val root = tmp()
    try {
      buildLsh(root)
      val sc = spark.sparkContext
      val body = LshIndex.streamingDedupBatch(spark, s"$root/idx", "text",
        threshold = 0.5)((_, _) => ())
      // stream A folds batch 0 in (identity rides the thread-local
      // property exactly as Structured Streaming sets it)
      sc.setLocalProperty("sql.streaming.queryId", "stream-A")
      try body(batch, 0L)
      finally sc.setLocalProperty("sql.streaming.queryId", null)
      // a DIFFERENT stream (fresh checkpoint → fresh query id, batch
      // ids restart at 0) against the same index: batch 0 would be
      // misclassified as a replay — hard error instead
      sc.setLocalProperty("sql.streaming.queryId", "stream-B")
      val e =
        try intercept[IllegalArgumentException] {
          body(docs.filter(col("doc_id") >= 60 && col("doc_id") < 70), 0L)
        } finally sc.setLocalProperty("sql.streaming.queryId", null)
      e.getMessage should include("stream-A")
      e.getMessage should include("stream-B")
      // same identity, same checkpoint → the replay path still works
      sc.setLocalProperty("sql.streaming.queryId", "stream-A")
      try body(batch, 0L)
      finally sc.setLocalProperty("sql.streaming.queryId", null)
    } finally delete(root)
  }

  test("a manual marked append cannot silently mix with a stream's marker") {
    val root = tmp()
    try {
      buildLsh(root)
      val sc = spark.sparkContext
      val body = LshIndex.streamingDedupBatch(spark, s"$root/idx", "text",
        threshold = 0.5)((_, _) => ())
      sc.setLocalProperty("sql.streaming.queryId", "stream-A")
      try body(batch, 0L)
      finally sc.setLocalProperty("sql.streaming.queryId", null)
      // manual batch ids are unrelated to stream-A's numbering
      intercept[IllegalArgumentException] {
        LshIndex.append(spark, s"$root/idx",
          docs.filter(col("doc_id") >= 60 && col("doc_id") < 70), "text",
          batchMarker = Some(9L))
      }.getMessage should include("stream-A")
      // an UNMARKED manual append stays allowed: it claims no batch id,
      // so it cannot corrupt the replay check
      LshIndex.append(spark, s"$root/idx",
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 70), "text")
    } finally delete(root)
  }

  test("an EMPTY lock (writer killed mid-heartbeat) ages by mtime, not forever") {
    val root = tmp()
    try {
      buildLsh(root)
      // the heartbeat rewrites the lock non-atomically (truncate, then
      // write): a writer KILLED inside that window leaves an empty
      // lock. Unparsable contents must age by the file's mtime — a
      // frozen age-0 reading would brick the index forever (the
      // takeover could never fire).
      val p = new org.apache.hadoop.fs.Path(s"$root/idx/_writer_lock")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(p, true).close()
      // fresh mtime: the writer may be ALIVE mid-rewrite — still blocks
      intercept[IllegalArgumentException] {
        LshIndex.append(spark, s"$root/idx", batch, "text")
      }.getMessage should include("_writer_lock")
      // mtime past the stale threshold: the takeover fires and the
      // mutation completes (lock released after)
      fs.setTimes(p,
        System.currentTimeMillis() - IndexFiles.DefaultLeaseStaleMs - 60000L, -1L)
      LshIndex.append(spark, s"$root/idx", batch, "text")
      lockExists(s"$root/idx") shouldBe false
      LshIndex.load(spark, s"$root/idx").base.count() should be > 0L
    } finally delete(root)
  }
}

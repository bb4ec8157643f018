package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The persisted multi-round crawl frontier ([[Frontier]]) on a
  * hand-computed five-page web — every fold's frontier, seen delta and
  * report is asserted against the BFS worked out by hand, and the
  * index-family guarantees are pinned through the REAL streaming
  * engine: stream≡batch store equality, a kill in the replay window
  * (commit file removed — byte-for-byte what a driver death leaves),
  * the meta-last crash marker refusing to load a half-written store,
  * and the writer-identity guard against mixing batch numberings.
  *
  * The web (hosts h0/h1; robots: /private deny, /private/ok allow,
  * and /p2 deny on h0 only):
  *
  *   h0.test/d/0          → ../d/1, http://www.h1.test/private/ok/5
  *                          ?utm_source=x, /p2/9
  *   h0.test/d/1          → ../d/2, ../d/0
  *   h0.test/d/2          → ../d/3
  *   h0.test/d/3          → (no links)
  *   h1.test/private/ok/5 → /d/7   (a page the web does not contain)
  *
  * Seeds {h0.test/d/0}; the BFS:
  *   r1: discover {d/1, h1/private/ok/5, h0/p2/9} — all new (nNew 3),
  *       p2 denied on h0 ⇒ frontier {d/1, private/ok/5} (nFrontier 2)
  *   r2: discover {d/2, d/0 (seen), h1/d/7} ⇒ nNew 2, frontier
  *       {d/2, h1/d/7} (both allowed)
  *   r3: only d/2 is a real page ⇒ discover {d/3} ⇒ frontier {d/3}
  */
class FrontierSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_frontier_").toString

  private def delete(root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def web: DataFrame = Seq(
    ("h0.test/d/0",
      "<html><body><a href=\"../d/1\">a</a>" +
        "<a href=\"http://www.h1.test/private/ok/5?utm_source=x\">b</a>" +
        "<a href=\"/p2/9\">c</a></body></html>"),
    ("h0.test/d/1",
      "<html><body><a href=\"../d/2\">a</a>" +
        "<a href=\"../d/0\">b</a></body></html>"),
    ("h0.test/d/2",
      "<html><body><a href=\"../d/3\">a</a></body></html>"),
    ("h0.test/d/3", "<html><body>leaf</body></html>"),
    ("h1.test/private/ok/5",
      "<html><body><a href=\"/d/7\">a</a></body></html>")
  ).toDF("nurl", "html")

  private def rules: DataFrame = Seq(
    ("h0.test", false, "/private"), ("h0.test", true, "/private/ok"),
    ("h0.test", false, "/p2"),
    ("h1.test", false, "/private"), ("h1.test", true, "/private/ok")
  ).toDF("host", "allow", "pattern")

  private def seeds: DataFrame = Seq("h0.test/d/0").toDF("nurl")

  private def urls(df: DataFrame): Seq[String] =
    df.select("nurl").collect().map(_.getString(0)).sorted.toSeq

  private def pagesAt(store: String): DataFrame =
    web.join(Frontier.frontier(spark, store, Frontier.rounds(spark, store)),
      Seq("nurl"))

  /** Three manual folds of the worked-out BFS. */
  private def foldAll(store: String): Seq[Frontier.RoundReport] =
    (1 to 3).map { _ =>
      Frontier.foldRound(spark, store,
        Frontier.discoveredLinks(pagesAt(store)), rules)
    }

  test("discoveredLinks drops non-http(s) schemes before normalization") {
    // mailto:/javascript:/tel: hrefs resolve to absolute URIs of their
    // own scheme — normalizeUrl would mint garbage frontier keys from
    // them (ADVICE r20); only fetchable links may enter the seen set
    val pages = Seq(
      ("h0.test/d/0",
        "<html><body><a href=\"mailto:user@example.com\">m</a>" +
          "<a href=\"javascript:void(0)\">j</a>" +
          "<a href=\"tel:+15551234\">t</a>" +
          "<a href=\"ftp://files.test/x\">f</a>" +
          "<a href=\"../d/1\">ok</a>" +
          "<a href=\"https://h1.test/d/2\">ok2</a></body></html>")
    ).toDF("nurl", "html")
    urls(Frontier.discoveredLinks(pages)) shouldBe
      Seq("h0.test/d/1", "h1.test/d/2")
  }

  test("create refuses a target holding foreign data unless overwrite") {
    val root = tmp()
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$root/precious.txt"), "data")
      an[IllegalArgumentException] should be thrownBy
        Frontier.create(spark, root, seeds)
      // the foreign file survived the refusal
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/precious.txt")) shouldBe true
      // explicit overwrite clobbers; an EXISTING store recreates
      // without the flag (rebuild is maintenance, not data loss)
      Frontier.create(spark, root, seeds, overwrite = true)
      Frontier.create(spark, root, seeds)
      Frontier.rounds(spark, root) shouldBe 0L

      // the protocol's own files are recognised: a crashed writer's
      // stale leftover lock is taken over, not mistaken for foreign data
      def writeLock(ageMs: Long): Unit = java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$root/_writer_lock"),
        (System.currentTimeMillis() - ageMs).toString)
      writeLock(IndexFiles.DefaultLeaseStaleMs + 60000L)
      Frontier.create(spark, root, seeds)
      Frontier.rounds(spark, root) shouldBe 0L
      // a LIVE writer's lock refuses the create, even with overwrite,
      // and the store it guards is left intact
      writeLock(0L)
      Seq(false, true).foreach { overwrite =>
        intercept[IllegalArgumentException] {
          Frontier.create(spark, root, seeds, overwrite)
        }.getMessage should include("_writer_lock")
        Frontier.rounds(spark, root) shouldBe 0L
        urls(Frontier.seen(spark, root)) shouldBe Seq("h0.test/d/0")
      }
    } finally delete(root)
  }

  test("batch folds reproduce the hand-computed BFS, round by round") {
    val root = tmp()
    try {
      val store = s"$root/frontier"
      Frontier.create(spark, store, seeds)
      Frontier.rounds(spark, store) shouldBe 0L
      urls(Frontier.frontier(spark, store, 0)) shouldBe Seq("h0.test/d/0")

      val r = foldAll(store)
      r(0) shouldBe Frontier.RoundReport(1, 3, 2)
      r(1) shouldBe Frontier.RoundReport(2, 2, 2)
      r(2) shouldBe Frontier.RoundReport(3, 1, 1)
      urls(Frontier.frontier(spark, store, 1)) shouldBe
        Seq("h0.test/d/1", "h1.test/private/ok/5")
      urls(Frontier.frontier(spark, store, 2)) shouldBe
        Seq("h0.test/d/2", "h1.test/d/7")
      urls(Frontier.frontier(spark, store, 3)) shouldBe Seq("h0.test/d/3")
      // seen = everything ever discovered, INCLUDING the denied /p2/9
      // (a disallowed URL is never re-gated)
      urls(Frontier.seen(spark, store)) shouldBe Seq(
        "h0.test/d/0", "h0.test/d/1", "h0.test/d/2", "h0.test/d/3",
        "h0.test/p2/9", "h1.test/d/7", "h1.test/private/ok/5")
      // a fourth fold discovers nothing: d/3 is a leaf
      Frontier.foldRound(spark, store,
        Frontier.discoveredLinks(pagesAt(store)), rules) shouldBe
        Frontier.RoundReport(4, 0, 0)
    } finally delete(root)
  }

  /** One AvailableNow pass over the trigger manifest: each micro-batch
    * drives one crawl round off the persisted frontier.
    */
  private def runStream(session: SparkSession, root: String,
                        store: String): Unit = {
    val q = session.readStream
      .option("maxFilesPerTrigger", 1)
      .text(s"$root/manifest")
      .writeStream
      .foreachBatch(Frontier.streamingRoundBatch(session, store, web, rules) _)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def writeTriggers(root: String, names: Seq[String]): Unit = {
    val man = java.nio.file.Paths.get(s"$root/manifest")
    if (!java.nio.file.Files.exists(man))
      java.nio.file.Files.createDirectory(man)
    names.foreach { n =>
      java.nio.file.Files.write(man.resolve(s"$n.txt"),
        s"$n\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  test("stream≡batch; kill in the replay window resumes with no double fold") {
    val root = tmp()
    try {
      val store = s"$root/frontier"
      Frontier.create(spark, store, seeds)
      writeTriggers(root, Seq("t0", "t1", "t2"))
      runStream(spark, root, store)
      Frontier.rounds(spark, store) shouldBe 3L
      Frontier.appendedThrough(spark, store) shouldBe 2L

      // stream ≡ batch: a manually folded reference store holds the
      // same rounds, frontiers and seen set
      val ref = s"$root/ref"
      Frontier.create(spark, ref, seeds)
      foldAll(ref)
      (0 to 3).foreach { r =>
        urls(Frontier.frontier(spark, store, r)) shouldBe
          urls(Frontier.frontier(spark, ref, r))
      }
      urls(Frontier.seen(spark, store)) shouldBe urls(Frontier.seen(spark, ref))

      // kill after batch 2's fold but before its commit (the window
      // Structured Streaming replays); seen-set COMPACTION lands while
      // the stream is down (the operational maintenance window), then
      // a NEW session resumes: the marker must survive the compaction
      // and classify the replay, nothing folds twice
      val commit2 = new org.apache.hadoop.fs.Path(s"$root/ckpt/commits/2")
      commit2.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(commit2, false) shouldBe true
      Frontier.compactSeen(spark, store)
      Frontier.appendedThrough(spark, store) shouldBe 2L
      urls(Frontier.seen(spark, store)) shouldBe urls(Frontier.seen(spark, ref))
      runStream(spark.newSession(), root, store)
      Frontier.rounds(spark, store) shouldBe 3L
      Frontier.appendedThrough(spark, store) shouldBe 2L
      urls(Frontier.frontier(spark, store, 3)) shouldBe Seq("h0.test/d/3")

      // new trigger files resume the crawl where it stopped (round 4
      // discovers nothing — d/3 is a leaf)
      writeTriggers(root, Seq("t3"))
      runStream(spark.newSession(), root, store)
      Frontier.rounds(spark, store) shouldBe 4L
      Frontier.appendedThrough(spark, store) shouldBe 3L
      urls(Frontier.frontier(spark, store, 4)) shouldBe Seq.empty
    } finally delete(root)
  }

  test("compactSeen merges the delta frames; history, folds and reloads are unchanged") {
    val root = tmp()
    try {
      val store = s"$root/frontier"
      Frontier.create(spark, store, seeds)
      foldAll(store)
      val seenBefore = urls(Frontier.seen(spark, store))
      Frontier.compactSeen(spark, store)
      // one merged frame, same content, same rounds, history intact
      urls(Frontier.seen(spark, store)) shouldBe seenBefore
      Frontier.rounds(spark, store) shouldBe 3L
      urls(Frontier.frontier(spark, store, 1)) shouldBe
        Seq("h0.test/d/1", "h1.test/private/ok/5")
      val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      (0 to 2).foreach { i =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$store/seen/d$i")) shouldBe
          false
      }
      // a second compact is a no-op; a fold after compaction dedups
      // against the merged frame exactly as before (round 4 is empty:
      // d/3 is a leaf)
      Frontier.compactSeen(spark, store)
      urls(Frontier.seen(spark, store)) shouldBe seenBefore
      Frontier.foldRound(spark, store,
        Frontier.discoveredLinks(pagesAt(store)), rules) shouldBe
        Frontier.RoundReport(4, 0, 0)
      urls(Frontier.seen(spark, store)) shouldBe seenBefore
    } finally delete(root)
  }

  test("politeSlice: per-host crawl-delay budgets, cross-multiplied boundaries") {
    // cycle 4 s; delays: h0 1 s (4 slots), h1 2 s (2 slots), h2 5 s
    // (delay > cycle → the guaranteed single slot), h3 absent
    // (defaultDelay 1 → 4 slots)
    val frontier = (0 until 4).flatMap(h =>
      (0 until 3).map(i => s"h$h.test/d/$i")).toDF("nurl")
    val delays = Seq(("h0.test", 1L), ("h1.test", 2L), ("h2.test", 5L))
      .toDF("host", "delay")
    val out = Frontier.politeSlice(frontier, delays, cycleSeconds = 4L)
      .orderBy("nurl")
      .select("nurl", "delay", "rank", "fetch_now")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getBoolean(3)))
    out.filter(_._1.startsWith("h0")).map(_._4).toSeq shouldBe
      Seq(true, true, true)                        // 3 urls, 4 slots
    out.filter(_._1.startsWith("h1")).map(_._4).toSeq shouldBe
      Seq(true, true, false)                       // rank 2·2 ≤ 4, 3·2 > 4
    out.filter(_._1.startsWith("h2")).map(_._4).toSeq shouldBe
      Seq(true, false, false)                      // minimum-one slot
    out.filter(_._1.startsWith("h3")).map(_._4).toSeq shouldBe
      Seq(true, true, true)                        // default delay 1
    out.filter(_._1.startsWith("h2")).map(_._2).toSeq shouldBe Seq(5L, 5L, 5L)
    out.map(_._3).toSeq shouldBe Seq.fill(4)(Seq(1, 2, 3)).flatten
  }

  test("a fold killed mid-transaction leaves a store that refuses to load") {
    val root = tmp()
    try {
      val store = s"$root/frontier"
      Frontier.create(spark, store, seeds)
      // the crash window: meta deleted (transaction open), writer died
      // before republishing — exactly what a kill inside foldRound
      // leaves behind
      val meta = new org.apache.hadoop.fs.Path(s"$store/_frontier_meta.json")
      meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(meta, false) shouldBe true
      val e = intercept[IllegalArgumentException] {
        Frontier.rounds(spark, store)
      }
      e.getMessage should include("rebuild")
    } finally delete(root)
  }

  test("a manual fold against a stream-folded store fails loudly") {
    val root = tmp()
    try {
      val store = s"$root/frontier"
      Frontier.create(spark, store, seeds)
      writeTriggers(root, Seq("t0"))
      runStream(spark, root, store)
      Frontier.appendedThrough(spark, store) shouldBe 0L
      // a manual marked fold carries ManualWriter identity — its batch
      // numbering is unrelated to the dead stream's, so the pre-flight
      // identity check must refuse, not misclassify
      val e = intercept[IllegalArgumentException] {
        Frontier.foldRound(spark, store,
          Frontier.discoveredLinks(pagesAt(store)), rules,
          batchMarker = Some(1L))
      }
      e.getMessage should include("misclassify")
    } finally delete(root)
  }
}

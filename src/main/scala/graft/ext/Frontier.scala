package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted multi-round CRAWL FRONTIER (north-star ✚) — the stateful
  * system the one-shot q157 round composes into: a real crawl
  * ITERATES, and the state is the SEEN SET (every URL ever enqueued
  * or fetched) plus the per-round frontier election. This store is an
  * index-family artifact: `_frontier_meta.json`, `_appended_through`
  * and `_writer_lock` are the [[IndexFiles]] protocol, so kills,
  * replays and concurrent writers behave exactly like the
  * LSH/SRP/IVF/label stores (a replayed micro-batch is a no-op via
  * [[IndexFiles.resolveReplay]]). `seen/d{r}` delta frames and
  * `frontier/r{r}` round artifacts are immutable once the meta
  * covering them is published.
  *
  * Scale shape: [[foldRound]] is O(batch): the round's links are
  * distinct-ed and anti-joined against the seen set, then gated by
  * the per-host robots election ([[Robots.withAllowedPatterns]] —
  * one broadcast join). The seen set is the only growing side; at
  * corpus scale its frames would be bucketed by `nurl` so the
  * anti-join shuffles the batch only — the layout hook is the same
  * delta-frame structure the index family buckets.
  */
object Frontier {

  /** What a fold did: the round it created, new URLs enqueued (after
    * seen-dedup), and the frontier size after the robots gate.
    */
  final case class RoundReport(round: Long, nNew: Long, nFrontier: Long)

  private[ext] object Kind extends IndexFiles.Kind("frontier",
      "_frontier_meta.json", 1, 1, Seq("version", "rounds", "seenFrom")) {
    def missing(dir: String): String =
      s"frontier at $dir: _frontier_meta.json missing — the store was " +
        "never created or a mutation died mid-transaction; rebuild it"
    override def corrupt(dir: String, text: String): String =
      s"frontier at $dir: _frontier_meta.json is corrupt ('$text') — " +
        "rebuild the store"
    override def unreadable(dir: String, v: Int): String =
      s"frontier at $dir has format version $v; this build reads $version " +
        "— upgrade the reader, do not mutate"
  }

  /** Rounds folded so far (round 0 = the seeds). */
  def rounds(spark: SparkSession, path: String): Long =
    IndexFiles.readMeta(spark, Kind, path).long("rounds")

  /** Highest streaming batch id folded; −1 if none. */
  def appendedThrough(spark: SparkSession, path: String): Long =
    IndexFiles.appendedThrough(spark, path)

  /** The frontier elected at `round` (0 = seeds). */
  def frontier(spark: SparkSession, path: String, round: Long): DataFrame = {
    val r = rounds(spark, path)
    require(round >= 0 && round <= r,
      s"frontier at $path: round $round out of range [0, $r]")
    spark.read.parquet(s"$path/frontier/r$round")
  }

  /** Every URL ever enqueued or seeded (union of the live delta
    * frames — one merged frame plus post-compaction deltas).
    */
  def seen(spark: SparkSession, path: String): DataFrame = {
    val meta = IndexFiles.readMeta(spark, Kind, path)
    (meta.long("seenFrom") to meta.long("rounds"))
      .map(i => spark.read.parquet(s"$path/seen/d$i")).reduce(_ unionAll _)
  }

  /** Create the store: the distinct seeds become round 0's frontier
    * AND the initial seen set.
    *
    * Refuses to clobber foreign data (ADVICE r20): the target must be
    * absent, an empty directory, or an existing (possibly incomplete —
    * a killed create/fold leaves no meta) frontier store; anything
    * else needs `overwrite = true`. Recognition is by entry names —
    * every file a frontier store ever writes lives under `seen/`,
    * `frontier/` or one of the protocol files.
    */
  def create(spark: SparkSession, path: String, seeds: DataFrame,
             overwrite: Boolean = false): Unit = {
    require(seeds.columns.contains("nurl"),
      "Frontier.create: seeds must carry a 'nurl' column")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries = fs.listStatus(new Path(path)).map(_.getPath.getName).toSeq
    if (!overwrite && fs.exists(new Path(path))) {
      val foreign =
        entries.filterNot((Seq("seen", "frontier") ++ Kind.protocolFiles).contains)
      require(foreign.isEmpty,
        s"Frontier.create at $path: target contains non-frontier " +
          s"entries (${foreign.take(3).mkString(", ")}${
            if (foreign.length > 3) ", …" else ""}) — refusing to " +
          "destroy them; pass overwrite = true to clobber")
    }
    IndexFiles.withWriterLease(spark, path, "Frontier create") {
      // everything but the lease itself: an overwrite clobbers foreign
      // entries too, and only once no live writer holds the store
      IndexFiles.reset(spark, Kind, path, entries.filterNot(_ == IndexFiles.LockFile))
      val s = seeds.select("nurl").distinct()
      s.write.parquet(s"$path/seen/d0")
      s.write.parquet(s"$path/frontier/r0")
      IndexFiles.publish(spark, Kind, path, Kind.meta(1, 0L, 0L))
    }
  }

  /** The map-side discovery chain a fetched page feeds the fold:
    * extract hrefs ([[graft.functions.HtmlText.links]]), resolve each
    * against the page URL (RFC 3986, [[graft.functions.UrlResolve]]),
    * normalize into the frontier key ([[UrlOps.normalizeUrl]]). The
    * page URL is the page's own frontier key (scheme-less); http is
    * re-affixed for resolution.
    */
  def discoveredLinks(pages: DataFrame, urlCol: String = "nurl",
                      htmlCol: String = "html"): DataFrame =
    pages.select(
        concat(lit("http://"), col(urlCol)).as("_base"),
        explode(graft.functions.HtmlToTextFunctions.htmlLinks(col(htmlCol)))
          .as("_link"))
      .select(graft.functions.ResolveUrlFunctions
        .resolveUrl(col("_base"), col("_link")).as("_abs"))
      // fetchable schemes only (ADVICE r20): mailto:/javascript:/tel:
      // hrefs resolve to absolute URIs of their OWN scheme, and
      // normalizeUrl would mint garbage frontier keys from them (e.g.
      // the userinfo strip turns mailto:user@example.com into host
      // example.com) that then poison the persisted seen set
      .filter(col("_abs").startsWith("http://") ||
        col("_abs").startsWith("https://"))
      .select(UrlOps.normalizeUrl(col("_abs")).as("nurl"))

  /** Fold one crawl round: dedup the discovered links against the
    * seen set, gate the survivors through the per-host robots
    * election, persist the elected frontier as round `rounds+1` and
    * add it to the seen set (enqueued = seen — a disallowed or dead
    * URL is still not re-discovered).
    *
    * @param links normalized candidate URLs (`nurl`) — typically
    *              [[discoveredLinks]] of the pages fetched from the
    *              previous round's frontier
    * @param rules (host, allow, pattern) robots rules,
    *              [[graft.functions.RobotsRules]]-shaped
    * @param batchMarker streaming batch id to record (exactly-once
    *                    replay detection); None for batch callers
    */
  def foldRound(spark: SparkSession, path: String, links: DataFrame,
                rules: DataFrame, batchMarker: Option[Long] = None,
                writer: String = IndexFiles.ManualWriter): RoundReport = {
    IndexFiles.requireWriter(spark, path, writer)
    IndexFiles.transaction(spark, Kind, path, "Frontier foldRound") { meta =>
      val r = meta.long("rounds")
      // materialize the anti-join ONCE, before the meta swap: the
      // plan reads the seen frames this transaction is about to
      // extend, and both the robots election and the seen delta
      // derive from it
      val newUrls = links.select("nurl").distinct()
        .join(seen(spark, path), Seq("nurl"), "left_anti")
        .localCheckpoint(true)
      val withHostPath = UrlOps.withHostPath(newUrls)
      val elected = Robots
        .withAllowedPatterns(withHostPath, rules, Seq("nurl"))
        .filter(col("allowed")).select("nurl")
        .localCheckpoint(true)
      val nNew = newUrls.count()
      val nFrontier = elected.count()
      IndexFiles.commit(spark, Kind, path, meta.set("rounds" -> (r + 1)),
        batchMarker.map(_ -> writer)) {
        elected.write.parquet(s"$path/frontier/r${r + 1}")
        // the seen delta is EVERY newly discovered URL, elected or not:
        // a disallowed URL must not be re-gated each time a later page
        // links to it (the docstring's "still not re-discovered")
        newUrls.write.parquet(s"$path/seen/d${r + 1}")
      }
      RoundReport(r + 1, nNew, nFrontier)
    }
  }

  /** Merge the live seen-delta frames into ONE frame keyed at the
    * current round — a crawl runs thousands of rounds, and without
    * compaction every [[foldRound]] anti-join unions that many
    * parquet reads. The merged frame is written to a tmp path with
    * row-count parity REQUIRED ([[IndexFiles.writeChecked]]), then
    * swapped in by [[IndexFiles.swap]] — meta deleted only once the
    * replacement is complete on disk, append marker untouched
    * (compaction is maintenance, not a fold — replay classification
    * must survive it). Frontier round artifacts
    * are not touched either: they are the crawl's history.
    */
  def compactSeen(spark: SparkSession, path: String,
                  targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    IndexFiles.transaction(spark, Kind, path, "Frontier compactSeen") { meta =>
      val (r, s0) = (meta.long("rounds"), meta.long("seenFrom"))
      if (s0 < r) {
        IndexFiles.clear(spark, path, Seq("seen/compact.tmp"))
        // ~64 bytes/URL raw
        IndexFiles.writeChecked(spark, path, "seen/compact.tmp",
          "Frontier.compactSeen", seen(spark, path), 64L, targetFileBytes)
        IndexFiles.swap(spark, Kind, path, Seq("seen/compact.tmp" -> s"seen/d$r"),
          (s0 to r).map(i => s"seen/d$i"), meta.set("seenFrom" -> r))
      }
    }

  /** Per-host POLITENESS slice of a round's frontier — a crawler may
    * fetch a host at most once per its Crawl-delay, so a fetch cycle
    * of `cycleSeconds` gives each host `floor(cycle / delay)` slots
    * (never below 1: progress is guaranteed even when delay > cycle,
    * matching the deployed-crawler convention of one fetch per cycle
    * minimum). URLs are ranked per host in deterministic `nurl`
    * order; `fetch_now` marks the in-budget slice and the remainder
    * is the deferred set the next cycle re-ranks. The verdict is the
    * CROSS-MULTIPLIED integer predicate `rank = 1 OR rank·delay ≤
    * cycle` — no division, so a SQL oracle replays every boundary
    * exactly. Hosts without a Crawl-delay line get `defaultDelay`.
    *
    * Scale shape: one broadcast join (per-host delays are one row per
    * host) + one exchange on `host` for the rank — the frontier round
    * is orders of magnitude smaller than the corpus, and the rank
    * window is the minimum any per-host budget needs.
    */
  def politeSlice(frontier: DataFrame, delays: DataFrame,
                  cycleSeconds: Long, defaultDelay: Long = 1L,
                  hostCol: String = "host"): DataFrame = {
    require(cycleSeconds >= 1 && defaultDelay >= 1,
      "Frontier.politeSlice: cycleSeconds and defaultDelay must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val withHost =
      if (frontier.columns.contains(hostCol)) frontier
      else frontier.withColumn(hostCol, UrlOps.hostOf(col("nurl")))
    val d = broadcast(delays.select(col(hostCol).as("_d_host"),
      col("delay").cast("long").as("_d_delay")))
    withHost.join(d, col(hostCol) === col("_d_host"), "left")
      .withColumn("delay",
        greatest(coalesce(col("_d_delay"), lit(defaultDelay)), lit(1L)))
      .drop("_d_host", "_d_delay")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(hostCol)).orderBy(col("nurl"))))
      .withColumn("fetch_now",
        col("rank") === 1 || col("rank") * col("delay") <= lit(cycleSeconds))
  }

  /** The streaming face: each micro-batch drives ONE crawl round —
    * fetch the latest frontier against the landed `web` (frontier ∩
    * web on `nurl`), discover links, fold. The batch's own rows are
    * only the trigger (a manifest line per landed archive set); the
    * round's input is the persisted frontier, so a replayed batch
    * (post-fold crash before the checkpoint commit) is detected by
    * the marker and skipped — the store already holds its round.
    */
  def streamingRoundBatch(spark: SparkSession, path: String,
                          web: DataFrame, rules: DataFrame)(
      batch: DataFrame, batchId: Long): Unit = {
    IndexFiles.resolveReplay(spark, path, batchId).foreach { writerId =>
      val fr = frontier(spark, path, rounds(spark, path))
      val pages = web.join(fr, Seq("nurl"))
      foldRound(spark, path, discoveredLinks(pages), rules,
        Some(batchId), writerId)
    }
  }
}

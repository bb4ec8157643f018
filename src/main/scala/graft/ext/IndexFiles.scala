package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The one transaction kernel of the five persisted stores
  * ([[LshIndex]], [[SrpIndex]], [[IvfIndex]], [[LabelStore]],
  * [[Frontier]]). Each store keeps a meta file beside its frames, and
  * every mutation of every store runs the protocol defined here, once.
  * The stores supply only values — a [[Kind]] (meta file name, format
  * versions, required fields, messages) and their frame writes; the
  * kernel takes no option and never branches on which store calls it.
  *
  * '''Meta''' (`_<store>_meta.json`): one flat JSON object ([[Meta]]),
  * the store's completeness marker and format contract. It is deleted
  * FIRST and published LAST (written to `.tmp`, renamed) around every
  * mutation, so a killed writer leaves a store with no meta, which
  * refuses to load and is rebuilt — never an old meta over new
  * frames. [[readMeta]] decodes it and requires the store's format
  * version or its tombstone version (stamped while a tombstone frame
  * changes read semantics, so a pre-tombstone build refuses instead of
  * serving removed rows). [[cachedMeta]] is the cache-or-build read
  * (absent or corrupt is a miss) and [[cacheHit]] keeps an old build
  * from clobbering a newer build's store.
  *
  * '''Reader policy''': a meta ABSENT while another writer's lease is
  * live is that writer's mutation in flight, and the read waits it
  * out (bounded by the lease's liveness: a dead writer stops
  * heartbeating and its lock ages out); absent with no live lease, or
  * under the caller's own lease, is a missing or crashed store (the
  * store's own message, rebuild).
  *
  * '''Transactions''': [[transaction]] takes the writer lease and
  * hands its body the meta RE-READ inside the lease, so the caller can
  * check it still is the meta its pre-lease work was computed against.
  * [[commit]] is the mutation tail: delete the meta, append the frames,
  * write the append marker, publish the meta. [[swap]] is the
  * compaction tail: with the replacements already written to tmp
  * dirs (all heavy work before the meta is touched), delete the meta,
  * drop and rename frames, publish the meta. [[reset]] opens a
  * build/save/create inside the lease: meta, marker, tombstones and
  * the store's leftover tmp dirs deleted — rebuild owns recovery.
  * Takedowns are one idempotent tombstone frame per store
  * ([[freshTombstones]], [[appendTombstones]], [[survivors]]).
  *
  * '''Append marker''' (`_appended_through`): two lines — the highest
  * batch id folded in, and the WRITER IDENTITY that folded it (a
  * streaming query id, or [[ManualWriter]] for batch-API callers).
  * Identity is what makes the replay check sound: a marker only means
  * "batch id N is already in the index" to the SAME writer whose
  * batch numbering produced N. A restarted stream with a FRESH
  * checkpoint restarts batch ids at 0 while the old marker holds the
  * dead stream's high id — without the identity check every new batch
  * would be silently misclassified as a replay (never folded in,
  * cross-batch pairs lost, negative count deltas subtracted for docs
  * not in the index). With it, the mismatch is a hard error naming
  * the fix (rebuild the index, or resume the original checkpoint).
  *
  * Marker writes are MONOTONIC per identity: [[writeMarker]] records
  * `max(existing, new)`, so an out-of-order manual
  * `append(batchMarker = ...)` can never regress the marker and make
  * an already-folded batch look un-folded (a retry would then
  * double-append it — duplicate rows, inflated bucket counts).
  *
  * '''Writer lease''' (`_writer_lock`): best-effort single-writer
  * guard over store mutation. The meta protocol makes a KILLED writer
  * safe, but two CONCURRENT writers interleaving meta deletes can
  * both "succeed" and leave frames from two different transactions
  * behind one meta. [[withWriterLease]] makes the second writer fail
  * loudly instead: create-exclusive lock file, age-based takeover (a
  * crashed writer's stale lock must not brick the store forever),
  * released in `finally`. Best-effort BY DESIGN — HDFS/local rename
  * and create-exclusive are atomic, object stores may be weaker; the
  * lease narrows the race to the takeover window rather than claiming
  * distributed-lock semantics it cannot have on every filesystem.
  */
private[graft] object IndexFiles {

  /** What a three-frame `compactFrames` did ([[LshIndex.compactFrames]]
    * / [[SrpIndex.compactFrames]]) — footer-verified numbers for the
    * two row-preserving rewrites (base, banded —
    * [[graft.ops.Compaction.Report]] enforces row parity), plus the
    * counts frame's file/row shrink (its ROWS change by design:
    * deltas aggregate to one per bucket, so parity there is
    * per-bucket-total equality, spec-pinned).
    */
  final case class FramesReport(base: graft.ops.Compaction.Report,
                                banded: graft.ops.Compaction.Report,
                                bucketFilesBefore: Int, bucketFilesAfter: Int,
                                bucketRowsBefore: Long, bucketRowsAfter: Long)

  /** Identity recorded by batch-API callers (no streaming query). */
  val ManualWriter = "manual"

  /** Lock older than this is presumed crashed and taken over. */
  val DefaultLeaseStaleMs: Long = 30L * 60 * 1000

  private def fsFor(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  val LockFile = "_writer_lock"
  val MarkerFile = "_appended_through"

  /** The taken-down ids of a store (one `id` column). */
  val Tombstones = "tombstones.parquet"

  private def markerPath(dir: String) = new Path(s"$dir/$MarkerFile")
  private def lockPath(dir: String) = new Path(s"$dir/$LockFile")

  private def readText(spark: SparkSession, p: Path): String = {
    val in = fsFor(spark, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def writeText(spark: SparkSession, p: Path, text: String): Unit = {
    val out = fsFor(spark, p).create(p, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  /** (highest folded batch id, writer identity), or None if no marked
    * append ever completed. A one-line legacy marker (pre-identity
    * layout) reads as [[ManualWriter]]. A corrupt marker is an
    * incomplete index — loud error, rebuild.
    *
    * MIGRATION NOTE (documented, deliberate): an index whose marker
    * was written by a pre-identity build reads as `manual`, so a
    * stream resuming it — even the original stream with its original
    * checkpoint — fails the identity check loudly and must rebuild
    * the index once. Adopting the resuming stream's identity lazily
    * was considered and REJECTED: the marker cannot distinguish the
    * legitimate original stream from a different stream with a fresh
    * checkpoint, and guessing wrong silently misclassifies batches —
    * the exact failure the identity exists to prevent. One loud
    * rebuild at upgrade beats a silent corruption path forever.
    */
  def readMarker(spark: SparkSession, dir: String): Option[(Long, String)] = {
    if (!exists(spark, dir, MarkerFile)) None
    else {
      val lines = readText(spark, markerPath(dir)).split("\n", -1)
      val id = lines.head.trim.toLongOption.getOrElse(sys.error(
        s"index at $dir: _appended_through is corrupt " +
          s"('${lines.head.trim}') — the index is incomplete; rebuild it"))
      val writer = lines.drop(1).map(_.trim).find(_.nonEmpty)
        .getOrElse(ManualWriter)
      Some((id, writer))
    }
  }

  /** The highest batch id folded in; −1 if none. */
  def appendedThrough(spark: SparkSession, dir: String): Long =
    readMarker(spark, dir).map(_._1).getOrElse(-1L)

  /** Pre-flight identity check for a marked append — run BEFORE the
    * mutation transaction opens, so a mismatch is a clean refusal, not
    * a mid-transaction abort that leaves the index incomplete. Folding
    * marked batches from two different writers into one index makes
    * the replay check meaningless for both (their batch numberings are
    * unrelated), so the second writer must rebuild or adopt the
    * first's checkpoint, never silently mix.
    */
  def requireWriter(spark: SparkSession, dir: String, writer: String): Unit =
    readMarker(spark, dir).foreach { case (_, prevWriter) =>
      require(prevWriter == writer,
        s"index at $dir: _appended_through was written by '$prevWriter' " +
          s"but this writer is '$writer' — batch ids from different " +
          "writers are unrelated, so the replay check would misclassify " +
          "batches; rebuild the index, or resume the original stream's " +
          "checkpoint (index and checkpoint are created and deleted together)")
    }

  /** Record a fold-in: `max(existing, batchId)` under `writer`'s
    * identity ([[requireWriter]] re-checked here as defense — callers
    * must have run it pre-transaction).
    */
  def writeMarker(spark: SparkSession, dir: String, batchId: Long,
                  writer: String): Unit = {
    requireWriter(spark, dir, writer)
    val id = math.max(
      readMarker(spark, dir).map(_._1).getOrElse(Long.MinValue), batchId)
    writeText(spark, markerPath(dir), s"$id\n$writer")
  }

  /** The streaming fold-in's identity + replay resolution — ONE
    * definition for every index family's `foreachBatch` body
    * ([[LshIndex.streamingDedupBatch]], [[SrpIndex.streamingDedupBatch]],
    * [[IvfIndex.streamingAppendBatch]]), because this is exactly the
    * logic a divergent copy would silently break: the writer identity
    * is the streaming query id (stable across restarts WITH the same
    * checkpoint — it is recorded in the checkpoint's metadata file —
    * and fresh with a fresh one; [[ManualWriter]] when no streaming
    * thread), a marker from a DIFFERENT writer is a hard error (its
    * batch numbering is unrelated — comparing against it would
    * misclassify every batch), and a batch is a replay iff OUR marker
    * already covers its id.
    *
    * @return the writer identity to fold the batch in under, or None
    *         when the batch is a replay (already folded in)
    */
  def resolveReplay(spark: SparkSession, dir: String,
                    batchId: Long): Option[String] = {
    val writerId = Option(spark.sparkContext
        .getLocalProperty("sql.streaming.queryId"))
      .getOrElse(ManualWriter)
    requireWriter(spark, dir, writerId)
    Option.when(appendedThrough(spark, dir) < batchId)(writerId)
  }

  /** Age of the writer lock at `dir`, if one exists: milliseconds
    * since its heartbeat timestamp (modification time when the
    * timestamp is mid-rewrite — the [[withWriterLease]] read
    * discipline), None when absent/vanished. The READER-side liveness
    * probe: a store whose meta is missing while a lock younger than
    * the stale threshold exists is in a live writer's swap window
    * (transient — wait), not crashed (permanent — fail).
    */
  def lockAgeMs(spark: SparkSession, dir: String): Option[Long] = {
    val p = lockPath(dir)
    try {
      Some(readText(spark, p).trim.toLongOption.map(System.currentTimeMillis() - _)
        .getOrElse(System.currentTimeMillis() -
          fsFor(spark, p).getFileStatus(p).getModificationTime))
    } catch { case _: java.io.IOException => None }
  }

  /** Run `body` holding the index's writer lease. A live concurrent
    * writer (lock younger than `staleMs`) fails loudly; a crashed
    * writer's stale lock is taken over. The lease is released in
    * `finally` — including when `body` throws, because the index
    * protocol already handles a failed mutation (no meta → refuses to
    * load → rebuild), and a lock surviving the failure would only
    * delay that recovery by `staleMs`.
    *
    * The holder HEARTBEATS: a daemon thread rewrites the lock's
    * timestamp every `staleMs / 3` while `body` runs, so a LIVE
    * long-running mutation (a corpus-scale compaction takes hours at
    * 100 TB) can never age past the takeover threshold — age-based
    * takeover fires only when the writer is genuinely dead and its
    * heartbeats have stopped. (Best-effort, like the lease itself: a
    * writer frozen longer than `staleMs` — not crashed, not
    * heartbeating — can still be taken over; filesystems without
    * atomic create-exclusive narrow to the same window.)
    */
  def withWriterLease[T](spark: SparkSession, dir: String, op: String,
                         staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    val p = lockPath(dir)
    val fs = fsFor(spark, p)
    def stamp(out: java.io.OutputStream): Unit =
      try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
      finally out.close()
    def touch(exclusive: Boolean): Boolean =
      try {
        if (exclusive && (fs.getUri.getScheme == null ||
            fs.getUri.getScheme == "file")) {
          // Hadoop's local create(overwrite=false) is CHECK-then-create
          // — two simultaneous acquirers can both win and interleave
          // meta swaps (ConcurrentWriterSoakSpec caught exactly that as
          // a failed meta rename). POSIX O_CREAT|O_EXCL via
          // createNewFile IS atomic; HDFS keeps the fs.create path
          // below (its exclusive create is atomic server-side).
          val f = new java.io.File(p.toUri.getPath)
          Option(f.getParentFile).foreach(_.mkdirs())
          f.createNewFile() && { stamp(new java.io.FileOutputStream(f)); true }
        } else { stamp(fs.create(p, !exclusive)); true }
      } catch { case _: java.io.IOException => false }
    if (!touch(exclusive = true)) {
      // Read discipline matters here: the holder's heartbeat rewrites
      // the file non-atomically (truncate, then write), so a lock that
      // EXISTS but reads empty/garbage means a writer is rewriting it
      // RIGHT NOW — but only while that writer is ALIVE. A writer
      // killed inside the truncate-write window leaves an empty lock
      // forever, so pinning unparsable to age 0 would brick the index
      // (takeover can never fire). The file's MODIFICATION TIME
      // disambiguates: a live rewrite just touched the file (age-by-
      // mtime ≈ 0, no takeover), a killed writer's empty lock has a
      // frozen mtime that ages past the threshold like any stale
      // lock. Only a VANISHED lock (open/stat throws) is a raced
      // release, retried as a fresh acquire.
      val ageMs = lockAgeMs(spark, dir) // None: vanished, i.e. released
      val stale = ageMs.exists(_ > staleMs)
      require(stale || ageMs.isEmpty,
        s"$op at $dir: another writer holds _writer_lock " +
          s"(age ${ageMs.getOrElse(-1L)} ms < stale threshold $staleMs ms) — " +
          "index mutation is single-writer; wait for it to finish, or " +
          "delete the lock if you know the writer is dead")
      if (stale) fs.delete(p, false)
      require(touch(exclusive = true),
        s"$op at $dir: lost the takeover race for _writer_lock to another " +
          "writer — retry once the winner finishes")
    }
    val beat = new java.util.concurrent.ScheduledThreadPoolExecutor(1, r => {
      val t = new Thread(r, s"lease-heartbeat-$op")
      t.setDaemon(true)
      t
    })
    beat.scheduleAtFixedRate(() => touch(exclusive = false),
      math.max(1L, staleMs / 3), math.max(1L, staleMs / 3),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    held.set(held.get + dir)
    try body
    finally {
      held.set(held.get - dir)
      beat.shutdownNow()
      fs.delete(p, false)
    }
  }

  /** A store's meta: flat JSON fields in file order, each value kept
    * as its JSON text, so decode + encode reproduces the file's bytes.
    */
  final case class Meta(fields: Seq[(String, String)]) {
    def get(k: String): Option[String] = fields.collectFirst { case (`k`, v) => v }
    private def raw(k: String): String =
      get(k).getOrElse(sys.error(s"meta $text has no field '$k'"))
    def str(k: String): String = raw(k).stripPrefix("\"").stripSuffix("\"")
    def int(k: String): Int = raw(k).toInt
    def long(k: String): Long = raw(k).toLong
    def bool(k: String): Boolean = raw(k).toBoolean
    def version: Int = int("version")

    /** Each field replaced in place, or appended when absent. */
    def set(kv: (String, Any)*): Meta = kv.foldLeft(this) { case (m, (k, v)) =>
      val j = Meta.json(v)
      if (m.get(k).isEmpty) Meta(m.fields :+ (k -> j))
      else Meta(m.fields.map { case (`k`, _) => k -> j; case f => f })
    }
    def without(ks: String*): Meta = Meta(fields.filterNot(f => ks.contains(f._1)))
    def text: String = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    override def toString: String = text
  }

  object Meta {
    private[IndexFiles] def json(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case other => other.toString
    }
    private val Field = """"([^"]*)":("[^"]*"|[^,"{}]+)""".r

    /** None unless `text` is exactly one flat JSON object. */
    def parse(text: String): Option[Meta] = {
      val t = text.trim
      val fields = Field.findAllMatchIn(t.drop(1).dropRight(1)).toSeq
      Option.when(t.startsWith("{") && t.endsWith("}") &&
          fields.map(_.matched).mkString("{", ",", "}") == t)(
        Meta(fields.map(m => m.group(1) -> m.group(2))))
    }
  }

  /** What one store kind tells the kernel: its meta file, its format
    * and tombstone versions (equal when the store has no tombstones),
    * the meta fields every complete meta carries, and its messages.
    */
  abstract class Kind(val name: String, val metaFile: String,
                      val version: Int, val tombstoneVersion: Int,
                      val fields: Seq[String]) {
    def missing(dir: String): String
    def corrupt(dir: String, text: String): String =
      s"$name meta at $dir/$metaFile exists but is truncated/corrupt " +
        "(killed writer?) — the index is incomplete; rebuild it"
    def unreadable(dir: String, v: Int): String =
      s"$name at $dir has format version $v; this build reads $version " +
        s"(and $tombstoneVersion = tombstoned)"
    def newer(dir: String, v: Int): String =
      s"$name at $dir has format version $v, newer than this build's " +
        s"$version — refusing to overwrite a newer build's index; delete " +
        "it explicitly to rebuild"

    /** A meta of this kind: `values` in [[fields]] order. */
    def meta(values: Any*): Meta =
      Meta(fields.zip(values).map { case (k, v) => k -> Meta.json(v) })

    /** Every file name the protocol writes into a store directory. */
    def protocolFiles: Seq[String] =
      Seq(metaFile, s"$metaFile.tmp", LockFile, MarkerFile)
  }

  private def exists(spark: SparkSession, dir: String, name: String): Boolean = {
    val p = new Path(s"$dir/$name")
    fsFor(spark, p).exists(p)
  }

  /** Delete `names` under `dir` (recursively; absent names are fine). */
  def clear(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach(n => fsFor(spark, new Path(dir)).delete(new Path(s"$dir/$n"), true))

  /** Store dirs whose writer lease the current thread holds. */
  private val held = ThreadLocal.withInitial[Set[String]](() => Set.empty)

  /** The meta text, under the reader policy (class doc): while the
    * meta is absent and ANOTHER writer's lease on `dir` is live, wait —
    * the wait is bounded by that lease's liveness, since a dead
    * writer's lock stops heartbeating and ages out. Absent otherwise
    * (no live lease, or the caller's own) is the store's missing
    * message. Opening, not an exists probe, decides absence, so a
    * meta deleted mid-read is waited on too.
    */
  private def metaText(spark: SparkSession, kind: Kind, dir: String): String = {
    val p = new Path(s"$dir/${kind.metaFile}")
    def read(): Option[String] =
      try Some(readText(spark, p))
      catch { case _: java.io.FileNotFoundException => None }
    var text = read()
    while (text.isEmpty) {
      if (held.get.contains(dir) ||
          !lockAgeMs(spark, dir).exists(_ <= DefaultLeaseStaleMs))
        throw new IllegalArgumentException(kind.missing(dir))
      Thread.sleep(50)
      text = read()
    }
    text.get
  }

  private def decode(kind: Kind, text: String): Option[Meta] =
    Meta.parse(text).filter(m => kind.fields.forall(m.get(_).isDefined))

  /** The store's meta, complete and of a version this build reads. */
  def readMeta(spark: SparkSession, kind: Kind, dir: String): Meta = {
    val text = metaText(spark, kind, dir)
    val m = decode(kind, text).getOrElse(sys.error(kind.corrupt(dir, text)))
    require(m.version == kind.version || m.version == kind.tombstoneVersion,
      kind.unreadable(dir, m.version))
    m
  }

  def hasMeta(spark: SparkSession, kind: Kind, dir: String): Boolean =
    exists(spark, dir, kind.metaFile)

  /** The cache-or-build read: None when the meta is absent or corrupt
    * (an incomplete store is a cache miss), the tombstone version read
    * as the format version (removals are state, not identity).
    */
  def cachedMeta(spark: SparkSession, kind: Kind, dir: String): Option[Meta] =
    if (!hasMeta(spark, kind, dir)) None
    else decode(kind, metaText(spark, kind, dir)).map(m =>
      if (m.version == kind.tombstoneVersion) m.set("version" -> kind.version)
      else m)

  /** The cache-or-build decision: whether the [[cachedMeta]] is one
    * `hit` accepts. A newer build's store is refused rather than
    * missed — an old build silently clobbering it would be data loss,
    * not cache maintenance.
    */
  def cacheHit(spark: SparkSession, kind: Kind, dir: String)(
      hit: Meta => Boolean): Boolean = {
    val found = cachedMeta(spark, kind, dir)
    found.foreach(m => require(m.version <= kind.version, kind.newer(dir, m.version)))
    found.exists(hit)
  }

  /** Atomic publish: write to `.tmp`, rename. A direct create() is
    * truncate-then-write, and a reader opening the file in between
    * would read an EMPTY meta and report the store corrupt. The
    * target is normally absent (the meta is deleted first); the
    * defensive delete keeps the rename overwrite-free on every fs.
    */
  def publish(spark: SparkSession, kind: Kind, dir: String, m: Meta): Unit = {
    val p = new Path(s"$dir/${kind.metaFile}")
    val tmp = new Path(s"$p.tmp")
    val fs = fsFor(spark, p)
    writeText(spark, tmp, m.text)
    fs.delete(p, false)
    require(fs.rename(tmp, p),
      s"meta rename failed at $p — left meta-less (incomplete) for " +
        "loud recovery, never half-written")
  }

  /** Open a build/save/create — call holding the lease: the meta goes
    * first (a killed rebuild leaves an incomplete store), then the
    * replay marker (a rebuilt store holds none of the marked batches),
    * the tombstones (a rebuilt corpus has no removals) and `leftovers`.
    */
  def reset(spark: SparkSession, kind: Kind, dir: String,
            leftovers: Seq[String]): Unit =
    clear(spark, dir, Seq(kind.metaFile, MarkerFile, Tombstones) ++ leftovers)

  /** Run `body` holding the writer lease `op`, with the meta re-read
    * inside the lease. The meta is also read before the lease, so a
    * missing or unreadable store is refused without touching it.
    */
  def transaction[T](spark: SparkSession, kind: Kind, dir: String, op: String)(
      body: Meta => T): T = {
    readMeta(spark, kind, dir)
    withWriterLease(spark, dir, op)(body(readMeta(spark, kind, dir)))
  }

  /** The commit tail, inside a [[transaction]]: meta deleted, `append`
    * writes the frames, the marker recorded, `next` published last.
    */
  def commit(spark: SparkSession, kind: Kind, dir: String, next: Meta,
             marker: Option[(Long, String)])(append: => Unit): Unit = {
    clear(spark, dir, Seq(kind.metaFile))
    append
    marker.foreach { case (id, writer) => writeMarker(spark, dir, id, writer) }
    publish(spark, kind, dir, next)
  }

  /** The compaction tail, inside a [[transaction]], once every
    * replacement is written to its tmp dir: meta deleted, `drop`
    * deleted, each `tmp -> target` renamed over its target, `next`
    * published. The marker is untouched — compaction changes layout,
    * never which batches are folded in.
    */
  def swap(spark: SparkSession, kind: Kind, dir: String,
           renames: Seq[(String, String)], drop: Seq[String], next: Meta): Unit = {
    val fs = fsFor(spark, new Path(dir))
    clear(spark, dir, kind.metaFile +: drop)
    renames.foreach { case (tmp, target) =>
      fs.delete(new Path(s"$dir/$target"), true)
      require(fs.rename(new Path(s"$dir/$tmp"), new Path(s"$dir/$target")),
        s"${kind.name}: rename failed for $target at $dir")
    }
    publish(spark, kind, dir, next)
  }

  /** The requested takedown ids (first column of `ids`) not yet
    * tombstoned — a retried remove adds nothing twice.
    */
  def freshTombstones(spark: SparkSession, dir: String, ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val requested = ids.select(col(ids.columns.head).as("id")).distinct()
    if (!exists(spark, dir, Tombstones)) requested
    else requested.join(spark.read.parquet(s"$dir/$Tombstones"), Seq("id"), "left_anti")
  }

  /** Append [[freshTombstones]] to the tombstone frame (in a [[commit]]). */
  def appendTombstones(dir: String, fresh: DataFrame): Unit =
    fresh.coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/$Tombstones")

  /** `df` without its tombstoned rows: a broadcast anti-join on
    * `idCol`, map-side (the tombstone set is ids only, and compaction
    * purges it), or `df` itself when nothing is tombstoned.
    */
  def survivors(spark: SparkSession, dir: String, df: DataFrame,
                idCol: String): DataFrame =
    if (!exists(spark, dir, Tombstones)) df
    else df.join(org.apache.spark.sql.functions.broadcast(
      spark.read.parquet(s"$dir/$Tombstones").withColumnRenamed("id", idCol)),
      Seq(idCol), "left_anti")

  /** Files of ~`perFile` each for `size` (rows or bytes): at least one. */
  def fileCount(size: Long, perFile: Long): Int =
    math.max(1L, (size + perFile - 1) / perFile).toInt

  /** Write `rows` to `dir/tmp` sized at ~`rowBytes` per row, and
    * require row-count parity before any swap (the tmp dir is left for
    * inspection when it fails; the store is unchanged).
    */
  def writeChecked(spark: SparkSession, dir: String, tmp: String, op: String,
                   rows: DataFrame, rowBytes: Long, targetFileBytes: Long): Unit = {
    val n = rows.count()
    rows.coalesce(math.max(1L, n * rowBytes / targetFileBytes).toInt)
      .write.parquet(s"$dir/$tmp")
    val nOut = spark.read.parquet(s"$dir/$tmp").count()
    require(nOut == n,
      s"$op at $dir: parity check failed ($n rows in, $nOut rows out) — " +
        "tmp left for inspection, store unchanged")
  }

  /** Rewrite `dir/frame` into `dir/frame.tmp` at ~`targetFileBytes`
    * per file — the compaction of every index frame. Without
    * tombstones it is the footer-verified row-parity rewrite
    * ([[graft.ops.Compaction.compactTo]]). With tombstones it is also
    * the physical PURGE: the tombstoned rows are anti-joined out, the
    * output sized to the SURVIVING bytes (double arithmetic —
    * `bytes × survivors` overflows a Long at the 100 TB design point),
    * and the report's `rowsBefore` carries the surviving count, so its
    * embedded parity check becomes "survivors in == rows out".
    */
  def rewriteFrame(spark: SparkSession, dir: String, frame: String,
                   idColName: String,
                   targetFileBytes: Long): graft.ops.Compaction.Report = {
    import org.apache.spark.sql.functions.broadcast
    val (srcDir, tmpDir) = (s"$dir/$frame", s"$dir/$frame.tmp")
    if (!exists(spark, dir, Tombstones))
      graft.ops.Compaction.compactTo(spark, srcDir, tmpDir, targetFileBytes)
    else {
      val (f0, g0, r0, b0) = graft.ops.Compaction.census(spark, srcDir)
      val tomb = broadcast(spark.read.parquet(s"$dir/$Tombstones")
        .withColumnRenamed("id", idColName))
      val df = spark.read.parquet(srcDir)
      val removed = df.join(tomb, Seq(idColName), "left_semi").count()
      val survivors = r0 - removed
      val keptBytes =
        if (r0 == 0) 0L else (b0.toDouble * survivors / r0).toLong
      df.join(tomb, Seq(idColName), "left_anti")
        .coalesce(fileCount(keptBytes, targetFileBytes))
        .write.mode(SaveMode.Overwrite).parquet(tmpDir)
      val (f1, g1, r1, b1) = graft.ops.Compaction.census(spark, tmpDir)
      graft.ops.Compaction.Report(srcDir, tmpDir, f0, f1, g0, g1,
        survivors, r1, b0, b1)
    }
  }
}

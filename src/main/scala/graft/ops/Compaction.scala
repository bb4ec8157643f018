package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet layout maintenance (✚ — the production face of the
  * measured lesson in BASELINE §"Row-group relayout measurement"):
  * parquet row groups are
  * Spark's split atoms, so a table written as few huge single-group
  * files scans on one task per file no matter how many cores exist,
  * and a table written as millions of tiny files drowns the scheduler
  * and the file index in per-file overhead. Real 100 TB tables drift
  * into BOTH states as streaming appends and small batch writes
  * accumulate — a compactor that rewrites a directory to a target
  * file size and a target row-group size is standing maintenance, the
  * operator every lakehouse runs nightly.
  *
  * Scale design: ONE distributed read → write pass. File count is
  * computed from actual on-disk bytes / `targetFileBytes`;
  * `coalesce` (default) collapses read tasks into the writers with NO
  * shuffle — the right shape for the common many-small-files case.
  * `shuffle = true` opts into a `repartition` for the two layouts
  * coalesce cannot fix: skew so bad that task-merging would produce
  * lopsided files, and the SPLITTING direction (fewer huge
  * single-row-group files into more well-sized ones — coalesce can
  * only merge partitions, never multiply them). Row-group size rides
  * the writer's
  * `parquet.block.size` flush threshold (approximate by design — the
  * writer checks buffered size periodically and compression changes
  * the ratio; the report reads the ACTUAL footer counts back).
  *
  * Hive-partitioned tables compact per leaf directory: the partition
  * columns live in the directory names, not the files, so compacting a
  * leaf never touches them. [[compactTree]] is that map made
  * executable — it discovers the partition leaves, compacts each with
  * bounded parallelism, and reports per leaf; [[compactTo]] (and its
  * [[census]]) refuse a directory with visible subdirectories rather
  * than let the recursive read silently count more rows than the
  * top-level census did.
  */
object Compaction {

  /** What a compaction did — actual footer-verified numbers, not
    * targets: file and row-group counts before/after, and the row
    * counts whose equality is the rewrite's safety check.
    */
  final case class Report(srcPath: String, dstPath: String,
                          filesBefore: Int, filesAfter: Int,
                          rowGroupsBefore: Long, rowGroupsAfter: Long,
                          rowsBefore: Long, rowsAfter: Long,
                          bytesBefore: Long, bytesAfter: Long) {
    require(rowsBefore == rowsAfter,
      s"Compaction lost rows: $rowsBefore before, $rowsAfter after " +
        s"($srcPath -> $dstPath) — the destination is NOT safe to swap in")
  }

  /** Footer census of a parquet directory: (files, rowGroups, rows,
    * bytes). Footer reads are metadata-only — no data pages move.
    *
    * File selection matches what `spark.read.parquet(dir)` will read —
    * every visible file, regardless of extension (Hive/Impala-style
    * part files are extension-less), skipping exactly what Spark's
    * listing filter (`HadoopFSUtils.shouldFilterOut`) skips: dotfiles,
    * in-flight `*._COPYING_` copies, and `_`-prefixed sidecars
    * (`_SUCCESS`, `_metadata`) UNLESS the name contains `=` (Spark
    * admits those as partition-valued names). Counting a different
    * population than the read would make the before/after row-parity
    * check compare apples to oranges; a non-parquet stray that Spark
    * WOULD read fails the footer read here — the same file the data
    * read would die on, surfaced early, before any rewrite work.
    */
  def census(spark: SparkSession, dir: String): (Int, Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val entries = fs.listStatus(root)
    // A visible subdirectory means spark.read.parquet(dir) would
    // recurse into rows this top-level census never counted, and the
    // rewrite would then "gain" rows and die on the Report parity check
    // with a misleading "lost rows" message. The per-leaf contract in
    // the scaladoc is enforced here, before any data moves: compact
    // partitioned tables leaf by leaf (compactTree does the mapping).
    val subdirs = entries.filter { s =>
      val n = s.getPath.getName
      s.isDirectory && !shouldSkip(n)
    }
    require(subdirs.isEmpty,
      s"Compaction: $dir contains subdirectories " +
        s"(${subdirs.map(_.getPath.getName).sorted.mkString(", ")}) — " +
        "a Hive-partitioned table compacts per leaf directory; use " +
        "Compaction.compactTree to discover and compact the leaves")
    val files = entries
      .filter(s => s.isFile && !shouldSkip(s.getPath.getName))
    var groups = 0L
    var rows = 0L
    var bytes = 0L
    files.foreach { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(st.getPath, conf))
      try {
        groups += reader.getRowGroups.size
        rows += reader.getRecordCount
      } finally reader.close()
      bytes += st.getLen
    }
    (files.length, groups, rows, bytes)
  }

  /** Exactly what Spark's listing filter (`HadoopFSUtils
    * .shouldFilterOut`) skips: dotfiles, in-flight `*._COPYING_`
    * copies, and `_`-prefixed names UNLESS they contain `=` (admitted
    * as partition-valued names). Shared by the census (so it counts
    * the read's population) and the leaf walk (so `_temporary` debris
    * is never mistaken for a partition directory).
    */
  private def shouldSkip(name: String): Boolean =
    name.startsWith(".") || name.endsWith("._COPYING_") ||
      (name.startsWith("_") && !name.contains("="))

  /** Rewrite the parquet files under `srcPath` into `dstPath` with
    * ~`targetFileBytes` per file and ~`targetRowGroupBytes` per row
    * group. Returns the footer-verified [[Report]]; throws (without
    * having touched `srcPath`) if the rewrite lost rows. The source is
    * left intact — swapping the compacted directory in (and retiring
    * the old one) is the caller's transactional step, on whatever
    * commit protocol the surrounding table format provides.
    */
  def compactTo(spark: SparkSession, srcPath: String, dstPath: String,
                targetFileBytes: Long = 512L * 1024 * 1024,
                targetRowGroupBytes: Long = 128L * 1024 * 1024,
                shuffle: Boolean = false,
                bloomColumns: Map[String, Long] = Map.empty,
                writerOptions: Map[String, String] = Map.empty): Report =
    rewriteAs(spark, srcPath, dstPath, targetFileBytes,
      targetRowGroupBytes, bloomColumns, writerOptions, "compactTo") {
      (src, numFiles) =>
        if (shuffle) src.repartition(numFiles) else src.coalesce(numFiles)
    }

  /** The shared rewrite skeleton of [[compactTo]] / [[compactClustered]]:
    * footer census before and after, size-derived output file count,
    * one write with the row-group and bloom options, footer-verified
    * [[Report]]. `shape` decides only how rows are distributed into
    * the `numFiles` outputs — the two faces must never diverge on the
    * census/sizing/options contract (they did the work twice before
    * this helper, and the bloom options had to be added to both).
    */
  private def rewriteAs(spark: SparkSession, srcPath: String,
                        dstPath: String, targetFileBytes: Long,
                        targetRowGroupBytes: Long,
                        bloomColumns: Map[String, Long],
                        writerOptions: Map[String, String], what: String)
                       (shape: (DataFrame, Int) => DataFrame): Report = {
    require(targetFileBytes > 0 && targetRowGroupBytes > 0,
      s"Compaction targets must be positive: file=$targetFileBytes " +
        s"rowGroup=$targetRowGroupBytes")
    val (filesBefore, groupsBefore, rowsBefore, bytesBefore) =
      census(spark, srcPath)
    require(filesBefore > 0,
      s"Compaction.$what: no parquet files under $srcPath")
    val numFiles = math.max(1L,
      (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt
    // caller writerOptions (e.g. parquet.page.size.row.check.min for
    // tiny-fixture layout granularity) never override the sizing/bloom
    // contract — those are this function's own parameters
    shape(spark.read.parquet(srcPath), numFiles)
      .write.mode("overwrite")
      .options(writerOptions)
      .option("parquet.block.size", targetRowGroupBytes.toString)
      .options(bloomOptions(bloomColumns))
      .parquet(dstPath)
    val (filesAfter, groupsAfter, rowsAfter, bytesAfter) =
      census(spark, dstPath)
    Report(srcPath, dstPath, filesBefore, filesAfter, groupsBefore,
      groupsAfter, rowsBefore, rowsAfter, bytesBefore, bytesAfter)
  }

  /** [[compactTo]] with a CLUSTERING key: rewrite `srcPath` into
    * `dstPath` range-partitioned AND sorted by `clusterCols`, so every
    * output file covers a narrow, nearly-disjoint slice of the key
    * space and parquet's per-row-group min/max statistics turn a
    * selective pushed predicate on those columns into row groups
    * SKIPPED instead of rows decoded-then-dropped. File/row-group
    * sizing is [[compactTo]]'s; what this adds is WHERE each row
    * lands.
    *
    * This is the scan-side half of layout maintenance: compactTo fixes
    * how much each task reads, clustering fixes how much of the table a
    * selective query must read at all. At 100 TB the difference is the
    * whole game — a 0.1% range predicate on the cluster key reads
    * ~0.1% of the row groups from a clustered table and 100% of them
    * from an unclustered one (min/max stats of random layout span the
    * full domain, so nothing ever prunes; measured at 8 M rows,
    * BASELINE.md §"Scan clustering"). For TWO independent filter
    * dimensions, pass one [[graft.functions.ZOrderCode.zorder]] column
    * — the Morton code trades a little per-dimension pruning for real
    * pruning on both.
    *
    * Mechanics: `repartitionByRange(numFiles, clusterCols)` (one
    * range-sampling shuffle — global clustering NEEDS a shuffle;
    * sampled boundaries balance output files even on skewed keys) +
    * `sortWithinPartitions(clusterCols)` (tightens row-group ranges
    * WITHIN each file — this is what makes the per-row-group stats,
    * not just the per-file ones, selective). Clustering columns may be
    * derived expressions (e.g. the Z-order code): they are appended
    * under reserved names for the exchange/sort and dropped before the
    * write, so the destination schema equals the source schema exactly.
    * Row parity is footer-verified by the same [[Report]] contract.
    */
  def compactClustered(spark: SparkSession, srcPath: String, dstPath: String,
                       clusterCols: Seq[org.apache.spark.sql.Column],
                       targetFileBytes: Long = 512L * 1024 * 1024,
                       targetRowGroupBytes: Long = 128L * 1024 * 1024,
                       bloomColumns: Map[String, Long] = Map.empty,
                       writerOptions: Map[String, String] = Map.empty): Report = {
    require(clusterCols.nonEmpty,
      "Compaction.compactClustered: no clustering columns — use compactTo " +
        "for pure size maintenance")
    rewriteAs(spark, srcPath, dstPath, targetFileBytes,
      targetRowGroupBytes, bloomColumns, writerOptions, "compactClustered") {
      (src, numFiles) =>
        val keyNames = clusterCols.indices.map(i => s"__cluster_$i")
        keyNames.foreach { n =>
          require(!src.columns.contains(n),
            s"Compaction.compactClustered: source already has a '$n' column")
        }
        val keyed = clusterCols.zip(keyNames).foldLeft(src) {
          case (df, (c, n)) => df.withColumn(n, c)
        }
        val keys = keyNames.map(org.apache.spark.sql.functions.col)
        keyed
          .repartitionByRange(numFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop(keyNames: _*)
    }
  }

  /** The dictionary-churn rule made EXECUTABLE (the §9 "String
    * clustering keys" runbook row): a table clustered on a
    * dictionary-ranked string dimension ([[graft.functions.ZOrderCode
    * .ranked]]) throws at scan time when an appended batch carries a
    * value the dictionary has never seen — by design, because the
    * dictionary IS the clustering-domain decision. The documented
    * recovery is "extend the dictionary and recluster in the next
    * maintenance window"; this operator is that window's body:
    *
    *  1. collect the live directory's distinct `column` values (one
    *     bounded distinct — [[graft.functions.ZOrderCode
    *     .rankDictionary]]'s limit-probed collect, loud past
    *     `maxNdv`);
    *  2. EXTEND, never replace: `dictionary ∪ live values`, re-sorted
    *     in unsigned byte order — values that have since left the data
    *     stay in the dictionary, so any persisted reader still holding
    *     the old domain keeps resolving (extension can SHIFT existing
    *     ranks — ranks are insertion-ordered — which is exactly why
    *     the recovery must recluster, and why high-churn keys belong
    *     on `hashBucket`, whose mapping never changes);
    *  3. recluster via [[compactClustered]] with the caller's
    *     clustering expressions rebuilt over the extended dictionary
    *     (`clusterColsFor` — the caller owns the zorder/scaled
    *     composition and its bit widths, this operator owns the
    *     dictionary lifecycle).
    *
    * Returns the extended dictionary (persist it — it is the table's
    * clustering metadata) and the footer-verified [[Report]]. The
    * source is left intact; swap-in is the caller's transaction, same
    * as every compaction face. Cost shape: one distinct scan + one
    * clustered rewrite — the same maintenance-window price as the
    * recluster the append cadence already schedules, so churn recovery
    * rides an existing window instead of adding one.
    */
  def extendRankedCluster(spark: SparkSession, srcPath: String,
                          dstPath: String, column: String,
                          dictionary: Seq[String],
                          clusterColsFor: Seq[String] => Seq[org.apache.spark.sql.Column],
                          targetFileBytes: Long = 512L * 1024 * 1024,
                          targetRowGroupBytes: Long = 128L * 1024 * 1024,
                          bloomColumns: Map[String, Long] = Map.empty,
                          writerOptions: Map[String, String] = Map.empty,
                          maxNdv: Int = 4096): (Seq[String], Report) = {
    import graft.functions.ZOrderCode
    require(dictionary.nonEmpty, "extendRankedCluster: empty dictionary")
    val live = ZOrderCode.rankDictionary(
      spark.read.parquet(srcPath), column, maxNdv)
    val extended = (dictionary ++ live).distinct.sorted(ZOrderCode.byteOrdering)
    require(extended.size <= maxNdv,
      s"extendRankedCluster: extended dictionary for '$column' exceeds " +
        s"$maxNdv values (${extended.size}) — past the low-NDV regime; " +
        "recluster on ZOrderCode.hashBucket instead")
    val report = compactClustered(spark, srcPath, dstPath,
      clusterColsFor(extended), targetFileBytes, targetRowGroupBytes,
      bloomColumns, writerOptions)
    (extended, report)
  }

  /** Per-column parquet bloom-filter write options (the standard
    * parquet-hadoop `#column`-suffixed keys, passed through Spark's
    * DataFrameWriter options verbatim). Blooms answer the predicate
    * family min/max stats cannot: EQUALITY on a column the layout is
    * not sorted by — "is takedown-id X in this 100 TB corpus?" scans
    * every row group under range stats (an unsorted id's per-group
    * min/max spans the domain) but skips every group whose bloom says
    * definitely-absent. The NDV is per ROW GROUP (sizes the filter's
    * bit array for its false-positive rate): pass distinct-keys ÷
    * expected row groups, not the table's total NDV — a table-sized
    * NDV builds a maximally large bloom in every group for nothing.
    * Spark pushes `IN` lists to parquet only up to
    * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10)
    * values — beyond that it degrades to a range check that an
    * unsorted layout cannot prune, so batch audit lookups in
    * threshold-sized slices.
    */
  private def bloomOptions(bloomColumns: Map[String, Long]): Map[String, String] =
    bloomColumns.flatMap { case (c, ndv) =>
      require(ndv > 0,
        s"Compaction: bloom expected NDV for '$c' must be positive: $ndv")
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
          s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
    }

  /** The population every footer audit reads: the visible files of a
    * flat directory, or — when `dir` is a Hive partition tree — every
    * leaf's files in leaf order (the same `leafDirs` walk compactTree
    * uses, so a mixed file/dir root throws the same loud error).
    * Partitioned tables are the production shape; an audit that only
    * worked on flat dirs would silently not cover them.
    */
  private def footerFiles(spark: SparkSession,
                          dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val entries = fs.listStatus(root)
    val top = entries.filter(s => s.isFile && !shouldSkip(s.getPath.getName))
    if (top.nonEmpty) {
      // a root mixing visible files with visible subdirectories is the
      // same non-layout leafDirs throws on — auditing only the top-level
      // files here would report e.g. a bloom missing from partition-leaf
      // row groups as present everywhere (ADVICE r15)
      val subdirs = entries
        .filter(s => s.isDirectory && !shouldSkip(s.getPath.getName))
      require(subdirs.isEmpty,
        s"Compaction footer audit: $dir mixes data files " +
          s"(${top.map(_.getPath.getName).sorted.take(3).mkString(", ")}…) " +
          s"with subdirectories (${subdirs.map(_.getPath.getName).sorted
            .take(3).mkString(", ")}…) — not a flat dir or Hive layout; " +
          "audit the offending directory explicitly")
      top.sortBy(_.getPath.getName).toSeq
    } else leafDirs(spark, dir).flatMap { rel =>
      fs.listStatus(new Path(s"$dir/$rel"))
        .filter(s => s.isFile && !shouldSkip(s.getPath.getName))
        .sortBy(_.getPath.getName).toSeq
    }
  }

  /** Columns that carry a bloom filter in EVERY row group under `dir`
    * (sorted; flat dir or Hive tree) — the footer-only audit face of
    * [[bloomOptions]]: a column listed here prunes definitely-absent
    * point lookups; a column missing from ONE group prunes nothing
    * reliably, so all-groups is the only honest predicate.
    */
  def bloomFilteredColumns(spark: SparkSession, dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = footerFiles(spark, dir)
    require(files.nonEmpty, s"bloomFilteredColumns: no parquet files under $dir")
    import scala.jdk.CollectionConverters._
    var common: Option[Set[String]] = None
    files.foreach { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(st.getPath, conf))
      try {
        reader.getRowGroups.asScala.foreach { bb =>
          val here = bb.getColumns.asScala
            .filter(_.getBloomFilterOffset >= 0)
            .map(_.getPath.toDotString).toSet
          common = Some(common.fold(here)(_ intersect here))
        }
      } finally reader.close()
    }
    common.getOrElse(Set.empty).toSeq.sorted
  }

  /** Per-row-group [min, max] ranges of a long column across every
    * parquet file under `dir`, footer-only (no data pages). The
    * executable face of "is this table clustered on `column`?": the
    * fraction of ranges a predicate interval overlaps IS the fraction
    * of the table a pushed filter will read — [[prunableFraction]]
    * computes it, specs assert it, and BASELINE §"Scan clustering"
    * measured the wall-clock it predicts. Row groups with no
    * statistics for the column (all-null pages, missing column) are
    * returned as None — they can never be pruned by a range
    * predicate, so [[prunableFraction]] counts them as always-read.
    */
  def columnRanges(spark: SparkSession, dir: String,
                   column: String): Seq[Option[(Long, Long)]] =
    columnRangesAll(spark, dir, Seq(column)).map(_(column))

  /** Multi-column form of [[columnRanges]] — ONE pass over each footer
    * no matter how many columns are asked for (per row group, a map
    * from requested column to its optional [min, max]). This is the
    * primitive the conjunction dial and multi-predicate audits read
    * through: at lake scale footer opens are remote round trips, so
    * k predicates must not cost k sweeps.
    */
  def columnRangesAll(spark: SparkSession, dir: String,
                      columns: Seq[String])
                      : Seq[Map[String, Option[(Long, Long)]]] = {
    require(columns.nonEmpty, "columnRangesAll: no columns")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = footerFiles(spark, dir)
    val wanted = columns.toSet
    files.flatMap { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(st.getPath, conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getRowGroups.asScala.toSeq.map { bb =>
          val present = bb.getColumns.asScala
            .filter(cc => wanted.contains(cc.getPath.toDotString))
            .map { cc =>
              val s = cc.getStatistics
              val range =
                if (s == null || !s.hasNonNullValue) None
                else (s.genericGetMin, s.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    Some((mn.longValue(), mx.longValue()))
                  case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                    Some((mn.longValue(), mx.longValue()))
                  case _ => None
                }
              cc.getPath.toDotString -> range
            }.toMap
          columns.map(c => c -> present.getOrElse(c, None)).toMap
        }
      } finally reader.close()
    }
  }

  /** Fraction of row groups a `[lo, hi]` range predicate on `column`
    * can SKIP under `dir`, straight from the footers — 1.0 means the
    * layout answers the predicate from a vanishing slice of the table,
    * 0.0 means every row group must be read (the unclustered fate).
    */
  def prunableFraction(spark: SparkSession, dir: String, column: String,
                       lo: Long, hi: Long): Double =
    prunableFractionAll(spark, dir, Seq((column, lo, hi)))

  /** STRING twin of [[columnRanges]]: per-row-group [min, max] of a
    * string column, footer-only — the audit face of clustering on a
    * dictionary-ranked string key ([[graft.functions.ZOrderCode
    * .ranked]]): the read-path predicate is pushed on the RAW string
    * column, and parquet prunes it with these very stats, so the dial
    * must read them, not the derived rank. Values decode as UTF-8;
    * ordering comparisons downstream ([[prunableFractionString]]) use
    * unsigned UTF-8 byte order ([[graft.functions.ZOrderCode
    * .byteOrdering]]) — exactly the order parquet wrote the stats in,
    * so the dial agrees with the reader's actual pruning for every
    * string, not just ASCII (ADVICE r16).
    */
  def stringColumnRanges(spark: SparkSession, dir: String,
                         column: String): Seq[Option[(String, String)]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = footerFiles(spark, dir)
    import scala.jdk.CollectionConverters._
    files.flatMap { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(st.getPath, conf))
      try {
        reader.getRowGroups.asScala.toSeq.map { bb =>
          bb.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .flatMap { cc =>
              val s = cc.getStatistics
              if (s == null || !s.hasNonNullValue) None
              else (s.genericGetMin, s.genericGetMax) match {
                case (mn: org.apache.parquet.io.api.Binary,
                      mx: org.apache.parquet.io.api.Binary) =>
                  Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8))
                case _ => None
              }
            }
        }
      } finally reader.close()
    }
  }

  /** [[prunableFraction]] for a string `[lo, hi]` range (equality =
    * `lo == hi`): fraction of row groups the pushed predicate skips
    * under the string min/max stats. Statless groups count as
    * always-read, same as the numeric dial.
    */
  def prunableFractionString(spark: SparkSession, dir: String,
                             column: String, lo: String, hi: String): Double = {
    val ord = graft.functions.ZOrderCode.byteOrdering
    require(ord.lteq(lo, hi), s"prunableFractionString: empty range ['$lo', '$hi']")
    val groups = stringColumnRanges(spark, dir, column)
    require(groups.nonEmpty, s"prunableFractionString: no row groups under $dir")
    groups.count {
      case Some((mn, mx)) => ord.lt(mx, lo) || ord.gt(mn, hi)
      case None           => false
    }.toDouble / groups.size
  }

  /** The CONJUNCTION dial: fraction of row groups a conjunction of
    * `[lo, hi]` range predicates can skip — a group survives only if
    * EVERY predicate's interval overlaps its stats (parquet evaluates
    * all pushed ranges per group), so this is what a z-order layout's
    * two-dimensional query actually reads. Row groups without stats
    * for a predicate's column count as overlapping it (never
    * prunable on that column).
    */
  def prunableFractionAll(spark: SparkSession, dir: String,
                          preds: Seq[(String, Long, Long)]): Double = {
    require(preds.nonEmpty, "prunableFractionAll: no predicates")
    val groups = columnRangesAll(spark, dir, preds.map(_._1).distinct)
    require(groups.nonEmpty, s"prunableFractionAll: no row groups under $dir")
    val skipped = groups.count { stats =>
      preds.exists { case (c, lo, hi) =>
        stats(c) match {
          case Some((mn, mx)) => mx < lo || mn > hi
          case None           => false
        }
      }
    }
    skipped.toDouble / groups.size
  }

  /** Hive-partition leaves under `root`, as root-relative paths in
    * lexicographic order ("" if the root itself is a leaf). A leaf is
    * a directory holding visible files and no visible subdirectories;
    * interior nodes hold only partition subdirectories. A directory
    * mixing visible files WITH visible subdirectories is neither — it
    * is not a layout `spark.read.parquet(root)` partition discovery
    * accepts, so the walk fails fast naming it instead of guessing
    * which half to compact. Listing is metadata-only, one listStatus
    * per directory — at 100 TB the walk touches the namenode/object
    * listing, never data.
    */
  def leafDirs(spark: SparkSession, root: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    def walk(p: Path, rel: String): Seq[String] = {
      val entries = fs.listStatus(p).filter(s => !shouldSkip(s.getPath.getName))
      val (dirs, files) = entries.partition(_.isDirectory)
      if (dirs.isEmpty && files.isEmpty) Seq.empty
      else if (dirs.isEmpty) Seq(rel)
      else {
        require(files.isEmpty,
          s"Compaction.leafDirs: ${if (rel.isEmpty) root else s"$root/$rel"} " +
            s"mixes data files (${files.map(_.getPath.getName).sorted.take(3).mkString(", ")}…) " +
            s"with subdirectories (${dirs.map(_.getPath.getName).sorted.take(3).mkString(", ")}…) " +
            "— not a Hive partition layout; compact the offending directory explicitly")
        dirs.sortBy(_.getPath.getName).flatMap { d =>
          val name = d.getPath.getName
          walk(d.getPath, if (rel.isEmpty) name else s"$rel/$name")
        }
      }
    }
    walk(rootPath, "")
  }

  /** [[compactTo]] mapped over a Hive-partitioned table: discover the
    * partition leaves under `srcRoot`, compact each into the same
    * relative path under `dstRoot`, and return the per-leaf
    * (relative path, [[Report]]) pairs in leaf order. An unpartitioned
    * `srcRoot` (files at the top level) degenerates to a single
    * [[compactTo]] of the root itself.
    *
    * `parallelism` bounds how many leaf compactions run CONCURRENTLY
    * as separate Spark jobs (Spark schedules jobs from multiple
    * threads fine). Each leaf is one read→write pass whose task count
    * is its own file/size shape, so on a 1000-executor cluster a
    * handful of in-flight leaves keeps the cluster full without
    * queueing thousands of tiny jobs at once; within a leaf the write
    * is the usual distributed pass. Per-leaf row parity is enforced by
    * each [[Report]]; a failing leaf fails the whole call, but only
    * AFTER every launched leaf has finished — the call never throws
    * while sibling compactions are still writing under `dstRoot`, so
    * a caller that reacts to the failure (delete `dstRoot`, retry)
    * cannot race zombie background writes. Completed leaves are left
    * in place under `dstRoot` — the swap-in step is the caller's
    * transaction, same contract as [[compactTo]].
    *
    * The partition columns never move: they live in the directory
    * names (`lang=en/...`), and each leaf is rewritten beneath the
    * same relative path, so `spark.read.parquet(dstRoot)` recovers
    * exactly the source partitioning.
    *
    * `clusterCols` non-empty routes each leaf through
    * [[compactClustered]] instead of [[compactTo]] — the production
    * shape for a 100 TB partitioned table: partition directories
    * answer the coarse predicate (date, lang), and WITHIN each leaf
    * the clustering turns the fine selective predicate into skipped
    * row groups. Clustering expressions must reference only columns
    * that live in the leaf FILES (a Hive partition column exists only
    * in the directory name at leaf level — clustering on it is
    * meaningless and fails analysis loudly).
    */
  def compactTree(spark: SparkSession, srcRoot: String, dstRoot: String,
                  targetFileBytes: Long = 512L * 1024 * 1024,
                  targetRowGroupBytes: Long = 128L * 1024 * 1024,
                  shuffle: Boolean = false,
                  parallelism: Int = 4,
                  clusterCols: Seq[org.apache.spark.sql.Column] = Nil,
                  bloomColumns: Map[String, Long] = Map.empty)
                  : Seq[(String, Report)] = {
    require(parallelism > 0, s"parallelism must be positive: $parallelism")
    val leaves = leafDirs(spark, srcRoot)
    require(leaves.nonEmpty, s"Compaction.compactTree: no parquet files under $srcRoot")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = leaves.map { rel =>
        scala.concurrent.Future {
          val src = if (rel.isEmpty) srcRoot else s"$srcRoot/$rel"
          val dst = if (rel.isEmpty) dstRoot else s"$dstRoot/$rel"
          rel -> (if (clusterCols.isEmpty)
            compactTo(spark, src, dst, targetFileBytes,
              targetRowGroupBytes, shuffle, bloomColumns)
          else
            compactClustered(spark, src, dst, clusterCols,
              targetFileBytes, targetRowGroupBytes, bloomColumns))
        }
      }
      // settle EVERY future before surfacing any failure: Await.result
      // on the first failed future would return with queued/in-flight
      // leaf jobs still writing under dstRoot in the background —
      // exactly the zombie-write race the scaladoc rules out
      val settled = futures.map(f => scala.concurrent.Await.ready(
        f, scala.concurrent.duration.Duration.Inf).value.get)
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      settled.map(_.get)
    } finally pool.shutdown()
  }
}

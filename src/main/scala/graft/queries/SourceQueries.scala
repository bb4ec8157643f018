package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.sources.{LineRouter, StructTextParser, TreeScan}

/** Source-layer queries — S9 struct-text extraction, S1/S2 tree-scan +
  * glob routing, S10/S11 mixed-format line routing. Inputs are built
  * deterministically FROM the testdata tables (blobs/paths/lines), so
  * every query still has a DuckDB oracle over the same parquet.
  */
object SourceQueries {

  /** Materialize a temp-fixture gate's result, then delete its fixture
    * roots. The filesystem gates (q63/q82/q85/q105/q106 here; the
    * round-trip gates in [[PipelineQueries]]) return frames whose
    * lineage READS the fixture tree they just wrote, so the tree
    * cannot be deleted while the frame is lazy; localCheckpoint(eager)
    * pins the computed rows in the block manager, after which the
    * fixture is garbage. Without this, every bench/verify invocation
    * leaves a fixture copy in /tmp (q105's two parquet copies of the
    * 2000-doc slice were the largest — the r11 advisor finding).
    */
  private[queries] def materializeThenDelete(df: DataFrame, roots: String*): DataFrame = {
    val out = df.localCheckpoint(true)
    roots.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    out
  }

  /** S9 — struct-text round-trip: format documents into multi-record
    * text blobs (one per source, records ordered by doc_id), parse them
    * back with a Field/Optional/OneOf/Repeat schema, and flatten. The
    * oracle recomputes the same projection relationally — a parse bug
    * of any kind breaks the hash.
    */
  def q36StructText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 50)
    val rec = concat(
      lit("DOC "), col("doc_id"), lit("\n"),
      lit("KIND: "),
      when(col("n_chars") >= 150, "LONG").otherwise("SHORT"), lit("\n"),
      when(col("n_chars") >= 100,
        concat(lit("NCHARS: "), col("n_chars"), lit("\n"))).otherwise(lit("")),
      array_join(transform(slice(split(col("text"), " "), 1, 5),
        w => concat(lit("W: "), w)), "\n"),
      lit("\nEND"))
    val blobs = docs
      .groupBy(col("source"))
      .agg(array_join(transform(sort_array(collect_list(struct(col("doc_id"), rec.as("rec")))),
        r => r("rec")), "\n").as("blob"))
      .select(col("blob")).as[String]

    import StructTextParser._
    val schema = Seq(
      FieldDef("id", "^DOC (\\d+)$", LongType),
      OneOf(Seq(FieldDef("kind_long", "^KIND: LONG$"),
                FieldDef("kind_short", "^KIND: SHORT$"))),
      Opt(FieldDef("nchars", "^NCHARS: (\\d+)$", LongType)),
      Rep("words", Seq(FieldDef("w", "^W: (.+)$")), until = "^END$"))
    StructTextParser.parse(blobs, schema, keyEnd = Some("^END$"))
      .select(col("id"),
              when(col("kind_long"), "LONG").otherwise("SHORT").as("kind"),
              col("nchars"),
              size(col("words")).cast("long").as("n_words"),
              expr("words[0].w").as("first_word"))
      .orderBy(col("id"))
  }

  val q36Sql: String =
    """SELECT doc_id AS id,
      |  CASE WHEN n_chars >= 150 THEN 'LONG' ELSE 'SHORT' END AS kind,
      |  CASE WHEN n_chars >= 100 THEN n_chars END AS nchars,
      |  least(5, len(string_split(text, ' '))) AS n_words,
      |  string_split(text, ' ')[1] AS first_word
      |FROM documents WHERE doc_id < 50 ORDER BY id""".stripMargin

  /** Glob rules used by q37 with their compiled regexes — the compiled
    * strings are inlined in the oracle SQL and pinned by a ScalaTest so
    * the compiler can't drift from the oracle silently.
    */
  val globRules: Seq[(String, String)] = Seq(
    "all_txt"  -> "**/*.txt",
    "src1_any" -> "src1*/**",
    "en_dirs"  -> "*/en/*")

  /** S1/S2 — path-tree rule routing: build the path inventory
    * (source/lang/doc_<id>.txt), match each glob rule, count files and
    * distinct top-level dirs per rule. At scale the inventory comes from
    * a binaryFile/listing scan; the rule match is one `rlike` per rule,
    * map-side.
    */
  def q37PathGlob(spark: SparkSession, dir: String): DataFrame = {
    val paths = Tables(spark, dir, "documents")
      .select(concat_ws("/", col("source"), col("lang"),
        concat(lit("doc_"), col("doc_id"), lit(".txt"))).as("rel_path"),
        col("source"))
    globRules.map { case (tag, glob) =>
      paths.filter(TreeScan.matchesGlob(col("rel_path"), glob))
        .agg(count(lit(1)).as("n_files"),
             countDistinct(col("source")).as("n_sources"))
        .select(lit(tag).as("rule"), col("n_files"), col("n_sources"))
    }.reduce(_ unionAll _).orderBy(col("rule"))
  }

  val q37Sql: String =
    """WITH p AS (
      |  SELECT source || '/' || lang || '/doc_' || doc_id || '.txt' AS rel_path,
      |         source
      |  FROM documents)
      |SELECT * FROM (
      |  SELECT 'all_txt' AS rule, count(*) AS n_files,
      |    count(DISTINCT source) AS n_sources
      |  FROM p WHERE regexp_matches(rel_path, '^(?:[^/]+/)*[^/]*\.txt$')
      |  UNION ALL
      |  SELECT 'src1_any', count(*), count(DISTINCT source)
      |  FROM p WHERE regexp_matches(rel_path, '^src1[^/]*/.*$')
      |  UNION ALL
      |  SELECT 'en_dirs', count(*), count(DISTINCT source)
      |  FROM p WHERE regexp_matches(rel_path, '^[^/]*/en/[^/]*$'))
      |ORDER BY rule""".stripMargin

  /** S10 — mixed-format line routing: serialize events to CSV:/JSON:/
    * plain-numeric lines, route + parse each back (bad cells → null),
    * aggregate per route. Decimal sums keep the double aggregation
    * order-independent.
    */
  def q38LineRouter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").filter(col("event_id") < 5000)
    val lines = ev.select(
      when(col("event_type").isin("click", "view"),
          concat(lit("CSV:"), col("user_id"), lit(","), col("value")))
        .when(col("event_type") === "purchase",
          concat(lit("JSON:{\"k\": \""), col("user_id"),
                 lit("\", \"v\": "), col("value"), lit("}")))
        .otherwise(col("value").cast("string"))
        .as("value"))
    LineRouter.parse(lines)
      .groupBy(col("route"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("num").cast("decimal(18,6)")), 2).cast("double")
             .as("total_v"),
           count(col("key")).as("n_keys"))
      .orderBy(col("route"))
  }

  val q38Sql: String =
    """WITH l AS (
      |  SELECT CASE
      |    WHEN event_type IN ('click','view')
      |      THEN 'CSV:' || user_id || ',' || value
      |    WHEN event_type = 'purchase'
      |      THEN 'JSON:{"k": "' || user_id || '", "v": ' || value || '}'
      |    ELSE CAST(value AS VARCHAR) END AS line
      |  FROM events WHERE event_id < 5000),
      |r AS (
      |  SELECT line,
      |    CASE WHEN starts_with(line, 'CSV:') THEN 'csv'
      |         WHEN starts_with(line, 'JSON:') THEN 'json'
      |         WHEN regexp_matches(line, '^-?[0-9]+(\.[0-9]+)?$') THEN 'numeric'
      |         ELSE 'other' END AS route,
      |    CASE WHEN starts_with(line, 'CSV:')
      |           THEN string_split(regexp_replace(line, '^CSV:', ''), ',')[1]
      |         WHEN starts_with(line, 'JSON:')
      |           THEN json_extract_string(regexp_replace(line, '^JSON:', ''), '$.k')
      |         END AS key,
      |    CASE WHEN starts_with(line, 'CSV:')
      |           THEN TRY_CAST(string_split(regexp_replace(line, '^CSV:', ''), ',')[2] AS DOUBLE)
      |         WHEN starts_with(line, 'JSON:')
      |           THEN TRY_CAST(json_extract_string(regexp_replace(line, '^JSON:', ''), '$.v') AS DOUBLE)
      |         WHEN regexp_matches(line, '^-?[0-9]+(\.[0-9]+)?$')
      |           THEN TRY_CAST(line AS DOUBLE) END AS num
      |  FROM l)
      |SELECT route, count(*) AS n,
      |  CAST(round(sum(CAST(num AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_v,
      |  count(key) AS n_keys
      |FROM r GROUP BY route ORDER BY route""".stripMargin

  /** S1 — recursive tree scan, oracle-gated end to end: a real
    * directory tree is materialized from the documents slice
    * (`source/lang/doc_N.txt`, file bytes = the text), TreeScan walks
    * it with the Hadoop FS client, withLevels splits the hierarchy,
    * and the per-(level0, level1) rollup of file counts and byte
    * totals must equal the oracle's aggregation of the source table.
    */
  def q63TreeScan(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_q63_").toString
    Tables(spark, dir, "documents").filter(col("doc_id") < 60)
      .select(col("source"), col("lang"), col("doc_id"), col("text"))
      .collect().foreach { r =>
        val d = Paths.get(root, r.getString(0), r.getString(1))
        Files.createDirectories(d)
        Files.write(d.resolve(s"doc_${r.getLong(2)}.txt"),
          r.getString(3).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    val scanned = TreeScan.withLevels(
      TreeScan.scan(spark, root), "rel_path", maxLevels = 2)
    materializeThenDelete(scanned
      .groupBy(col("level0").as("source"), col("level1").as("lang"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"))
      .orderBy(col("source"), col("lang")), root)
  }

  val q63Sql: String =
    """SELECT source, lang, count(*) AS n_files,
      |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
      |FROM documents WHERE doc_id < 60
      |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** S1 at scale — the DISTRIBUTED inventory path: the same fixture
    * tree and rollup as q63, but listed by executors through
    * `TreeScan.scanDistributed` (binaryFile source, metadata-only
    * read) instead of the driver-side Hadoop walk. Same oracle as
    * q63 — the two listing paths must agree byte-for-byte on the
    * hierarchy they report.
    */
  def q82TreeScanDistributed(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_q82_").toString
    Tables(spark, dir, "documents").filter(col("doc_id") < 60)
      .select(col("source"), col("lang"), col("doc_id"), col("text"))
      .collect().foreach { r =>
        val d = Paths.get(root, r.getString(0), r.getString(1))
        Files.createDirectories(d)
        Files.write(d.resolve(s"doc_${r.getLong(2)}.txt"),
          r.getString(3).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    val scanned = TreeScan.withLevels(
      TreeScan.scanDistributed(spark, root), "rel_path", maxLevels = 2)
    materializeThenDelete(scanned
      .groupBy(col("level0").as("source"), col("level1").as("lang"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"))
      .orderBy(col("source"), col("lang")), root)
  }

  val q82Sql: String = q63Sql

  /** K9 — file effects, oracle-gated end to end: a fixture tree is
    * materialized (q63 shape, doc_id < 40), then the FileOps surface
    * runs against it — every `en` file is BACKUPED (relpath
    * preserved) into a second root, every file with
    * `n_chars % 5 == 0` is DELETED from the first, and the survivors
    * of source `web` are RENAMED with a `bak_` prefix. Both roots are
    * re-scanned and rolled up per (root, source); the counts and
    * byte totals match the oracle's relational replay only if every
    * copy/delete/rename hit exactly the right files.
    */
  def q85FileOps(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_q85_").toString
    val backupRoot = Files.createTempDirectory("graft_q85_bak_").toString
    val rows = Tables(spark, dir, "documents").filter(col("doc_id") < 40)
      .select(col("source"), col("lang"), col("doc_id"), col("text"),
        col("n_chars"))
      .collect()
    rows.foreach { r =>
      val d = Paths.get(root, r.getString(0), r.getString(1))
      Files.createDirectories(d)
      Files.write(d.resolve(s"doc_${r.getLong(2)}.txt"),
        r.getString(3).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val ops = new graft.sinks.FileOps(spark)
    rows.foreach { r =>
      val rel = s"${r.getString(0)}/${r.getString(1)}/doc_${r.getLong(2)}.txt"
      if (r.getString(1) == "en") ops.backup(root, rel, backupRoot)
      if (r.getLong(4) % 5 == 0) ops.delete(s"$root/$rel")
      else if (r.getString(0) == "web")
        ops.renameWithPrefix(s"$root/${r.getString(0)}/${r.getString(1)}",
          s"doc_${r.getLong(2)}.txt", "bak_")
    }
    val scans = TreeScan.scan(spark, root).withColumn("root", lit("main"))
      .unionByName(TreeScan.scan(spark, backupRoot).withColumn("root", lit("backup")))
    materializeThenDelete(TreeScan.withLevels(scans, "rel_path", maxLevels = 1)
      .groupBy(col("root"), col("level0").as("source"))
      .agg(count(lit(1)).as("n_files"),
           sum(col("size")).as("total_bytes"),
           sum(when(col("name").startsWith("bak_"), 1).otherwise(0))
             .cast("long").as("n_renamed"))
      .orderBy(col("root"), col("source")), root, backupRoot)
  }

  /** ✚ layout compaction, oracle-gated end to end: a deliberately
    * fragmented copy of the documents slice (8 round-robin parquet
    * files) is compacted into a single well-sized file
    * (`ops/Compaction.compactTo`, coalesce path — no shuffle), and the
    * gate aggregates the COMPACTED copy per lang alongside the
    * footer-verified before/after file counts. The hash matches the
    * oracle's replay over the original table only if the rewrite
    * preserved every row and byte of content AND the layout moved
    * 8 files → 1 exactly (the counts are literals in the oracle).
    */
  def q105Compaction(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_q105_").toString
    val src = s"$root/frag"
    val dst = s"$root/compact"
    Tables(spark, dir, "documents").filter(col("doc_id") < 2000)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .repartition(8)
      .write.parquet(src)
    val report = graft.ops.Compaction.compactTo(spark, src, dst,
      targetFileBytes = 1L << 30, targetRowGroupBytes = 8L * 1024 * 1024)
    materializeThenDelete(spark.read.parquet(dst)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .withColumn("files_before", lit(report.filesBefore))
      .withColumn("files_after", lit(report.filesAfter))
      .orderBy(col("lang")), root)
  }

  val q105Sql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(8 AS INTEGER) AS files_before, CAST(1 AS INTEGER) AS files_after
      |FROM documents WHERE doc_id < 2000
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** ✚ PARTITION-AWARE compaction, oracle-gated end to end: the
    * documents slice is written as a Hive-partitioned table
    * (`lang=*` leaves) deliberately fragmented into exactly 4 files
    * per leaf (four appends, each a single-task write that emits one
    * file per lang it carries — every `doc_id % 4` class holds every
    * lang at all SFs, checked against the testdata), then
    * `Compaction.compactTree` discovers the leaves and compacts each
    * to a single file, leaves in parallel. The gate aggregates the
    * COMPACTED table per lang (partition column recovered from the
    * directory names) joined with each leaf's footer-verified report —
    * so the hash only matches the oracle's replay over the original
    * table if leaf discovery found exactly the 5 lang leaves, every
    * leaf moved 4 files → 1, no row crossed a partition boundary, and
    * the per-leaf footer row counts equal the per-lang group counts.
    */
  def q106CompactTree(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import spark.implicits._
    val root = Files.createTempDirectory("graft_q106_").toString
    val src = s"$root/frag"
    val dst = s"$root/compact"
    val slice = Tables(spark, dir, "documents").filter(col("doc_id") < 2000)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    (0 until 4).foreach { k =>
      slice.filter(col("doc_id") % 4 === k).coalesce(1)
        .write.mode("append").partitionBy("lang").parquet(src)
    }
    val reports = graft.ops.Compaction.compactTree(spark, src, dst,
      targetFileBytes = 1L << 30, targetRowGroupBytes = 8L * 1024 * 1024,
      parallelism = 4)
    val perLeaf = reports.map { case (rel, r) =>
      (rel.stripPrefix("lang="), r.filesBefore, r.filesAfter, r.rowsAfter)
    }.toDF("lang", "files_before", "files_after", "leaf_rows")
    materializeThenDelete(
      spark.read.parquet(dst)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .join(perLeaf, Seq("lang"))
        .orderBy(col("lang")), root)
  }

  val q106Sql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(4 AS INTEGER) AS files_before, CAST(1 AS INTEGER) AS files_after,
      |  count(*) AS leaf_rows
      |FROM documents WHERE doc_id < 2000
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** ✚ CLUSTERED compaction round-trip, oracle-gated end to end: the
    * lineitem slice is written deliberately scrambled (hash
    * repartition), rewritten by `compactClustered` on
    * `zorder_code(l_orderkey, l_partkey)` with a bloom filter on the
    * un-clustered `l_suppkey`, and the gate re-aggregates the
    * REWRITTEN table — so the hash only matches the oracle's replay
    * over the original table if the clustered rewrite lost/duplicated
    * nothing and leaked no derived key column. The LAYOUT claims ride
    * in the hash as literals stamped only after loud in-gate checks:
    * `pruned_both` requires `prunableFraction` > 0 on BOTH z-order
    * dimensions for a mid-domain 2% window (footer stats, the real
    * skipping mechanism), and `bloom_cols` requires every row group
    * to carry the l_suppkey bloom (`bloomFilteredColumns`). A rewrite
    * that silently stopped clustering or dropped the blooms fails the
    * gate even though the DATA would still round-trip.
    */
  def q119ClusteredLayout(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_q119_").toString
    // the loud layout requires below are the gate's point of failure —
    // materializeThenDelete only cleans the success path, and a
    // regression must not leave two lineitem copies under /tmp per
    // verify invocation (the exact leak class it was added for)
    try q119Body(spark, dir, root)
    catch {
      case scala.util.control.NonFatal(e) =>
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
        throw e
    }
  }

  private def q119Body(spark: SparkSession, dir: String,
                       root: String): DataFrame = {
    val src = s"$root/scrambled"
    val dst = s"$root/clustered"
    // line_uid is the high-cardinality lookup key the bloom serves —
    // the takedown-audit shape. It must be HIGH-card: parquet omits
    // blooms on fully dictionary-encoded chunks (a low-card column
    // like l_suppkey prunes via its dictionary already, and the
    // footer audit below honestly reported [] until the bloom moved
    // to a unique key).
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
              col("l_quantity"), col("l_returnflag"))
      .withColumn("line_uid",
        col("l_orderkey") * lit(1000000L) + col("l_partkey"))
    li.repartition(8, col("l_suppkey")).write.parquet(src)
    // z-order needs BOTH dimensions on one bit-width: orderkey's
    // domain is ~100x partkey's, and un-scaled interleaving degenerates
    // to a 1-D orderkey sort (this gate's own prune check caught it) —
    // ZOrderCode.scaled is the documented normalization step
    val kb = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
                    min(col("l_partkey")), max(col("l_partkey"))).collect()(0)
    import graft.functions.ZOrderCode.{scaled, zorder}
    graft.ops.Compaction.compactClustered(spark, src, dst,
      clusterCols = Seq(zorder(
        scaled(col("l_orderkey"), kb.getLong(0), kb.getLong(1)),
        scaled(col("l_partkey"), kb.getLong(2), kb.getLong(3)))),
      targetFileBytes = 2L * 1024 * 1024,
      targetRowGroupBytes = 128L * 1024,
      bloomColumns = Map("line_uid" -> 4096L))
    // loud layout checks BEFORE the literals enter the hashed output:
    // a 2% window in the middle of each key's observed domain must
    // prune some row groups on BOTH dimensions (z-order's contract),
    // and the bloom must be present in EVERY row group
    val bounds = spark.read.parquet(dst)
      .agg(min(col("l_orderkey")), max(col("l_orderkey")),
           min(col("l_partkey")), max(col("l_partkey"))).collect()(0)
    def window(lo: Long, hi: Long): (Long, Long) = {
      val mid = lo + (hi - lo) / 2; val w = math.max(1L, (hi - lo) / 50)
      (mid, mid + w)
    }
    val (oLo, oHi) = window(bounds.getLong(0), bounds.getLong(1))
    val (pLo, pHi) = window(bounds.getLong(2), bounds.getLong(3))
    // one footer sweep serves both dimensions' dials
    val stats = graft.ops.Compaction.columnRangesAll(
      spark, dst, Seq("l_orderkey", "l_partkey"))
    def frac(c: String, lo: Long, hi: Long): Double =
      stats.count(_(c).exists { case (mn, mx) => mx < lo || mn > hi })
        .toDouble / stats.size
    val prunedO = frac("l_orderkey", oLo, oHi)
    val prunedP = frac("l_partkey", pLo, pHi)
    require(prunedO > 0 && prunedP > 0,
      s"q119: clustered rewrite does not prune both z-order dimensions " +
        s"(orderkey $prunedO, partkey $prunedP)")
    val blooms = graft.ops.Compaction.bloomFilteredColumns(spark, dst)
    require(blooms == Seq("line_uid"),
      s"q119: expected an all-row-groups bloom on line_uid, footers say " +
        s"[${blooms.mkString(", ")}]")
    materializeThenDelete(
      spark.read.parquet(dst)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(col("l_quantity")).cast("long").as("qty"),
             countDistinct(col("line_uid")).as("uids"))
        .withColumn("pruned_both", lit(true))
        .withColumn("bloom_cols", lit("line_uid"))
        .orderBy(col("l_returnflag")), root)
  }

  val q119Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS BIGINT) AS qty,
      |  count(DISTINCT l_orderkey * 1000000 + l_partkey) AS uids,
      |  TRUE AS pruned_both, 'line_uid' AS bloom_cols
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ✚ Z-order over a NON-NUMERIC dimension — the shape real curation
    * tables cluster on (source, lang, url_host are strings; r15's
    * z-order family was numeric-only): documents scrambled on an
    * unrelated key, then `compactClustered` on
    * `zorder(scaled(ranked(source)), scaled(n_chars))` where
    * [[graft.functions.ZOrderCode.ranked]] is the explicit low-NDV
    * dictionary-rank normalizer. Loud in-gate layout checks BEFORE
    * the literals enter the hash: an EQUALITY predicate on the raw
    * STRING column must read ≤ 35% of row groups straight from the
    * string min/max footer stats ([[graft.ops.Compaction
    * .prunableFractionString]] — the read path pushes the string
    * predicate, so the audit reads the string stats, not the derived
    * rank), and a mid-domain 2% n_chars window must prune too (both
    * dimensions live, z-order's contract). The 35% bound is the
    * gate-SF price (hundreds of rows per 100-row-minimum row group);
    * the production-scale dial (<0.1 read fraction at 8 M rows) is
    * the string-key row of BASELINE §"Scan clustering". The hashed
    * output replays BOTH normalizers in DuckDB: `rnk` is the
    * dictionary rank (rank() over the sorted distinct sources) and
    * `hb_*` fold every row's
    * [[graft.functions.ZOrderCode.hashBucket]] (the high-NDV
    * normalizer) — md5-prefix arithmetic DuckDB reproduces
    * bit-for-bit.
    */
  def q122StringCluster(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_q122_").toString
    try q122Body(spark, dir, root)
    catch {
      case scala.util.control.NonFatal(e) =>
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
        throw e
    }
  }

  private def q122Body(spark: SparkSession, dir: String,
                       root: String): DataFrame = {
    import graft.functions.ZOrderCode.{hashBucket, ranked, rankDictionary, scaled, zorder}
    val src = s"$root/scrambled"
    val dst = s"$root/clustered"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    docs.repartition(8, col("doc_id")).write.parquet(src)
    val dict = rankDictionary(docs, "source")
    val cb = docs.agg(min(col("n_chars").cast("long")),
                      max(col("n_chars").cast("long"))).collect()(0)
    graft.ops.Compaction.compactClustered(spark, src, dst,
      clusterCols = Seq(zorder(
        scaled(ranked(col("source"), dict), 0L, dict.size - 1L, bits = 12),
        scaled(col("n_chars"), cb.getLong(0), cb.getLong(1), bits = 12))),
      targetFileBytes = 24L * 1024,
      targetRowGroupBytes = 8L * 1024,
      // the 100-row default flush-check cadence would collapse this
      // few-hundred-row fixture into a couple of row groups (nothing
      // to prune between) — scaled-down granularity, same argument as
      // the scaled-down file/group byte targets (q119 scaladoc)
      writerOptions = Map("parquet.page.size.row.check.min" -> "16",
                          "parquet.page.size.row.check.max" -> "64"))
    // equality on a mid-dictionary source value, pushed on the RAW
    // string column — the predicate a curation read actually runs
    val probe = dict(dict.size / 2)
    val readSource = 1.0 - graft.ops.Compaction.prunableFractionString(
      spark, dst, "source", probe, probe)
    val (cLo, cHi) = {
      val mid = cb.getLong(0) + (cb.getLong(1) - cb.getLong(0)) / 2
      (mid, mid + math.max(1L, (cb.getLong(1) - cb.getLong(0)) / 50))
    }
    val readChars = 1.0 - graft.ops.Compaction.prunableFraction(
      spark, dst, "n_chars", cLo, cHi)
    // a Morton equality slice reads ~1/sqrt(G) of G row groups — at
    // gate scale G is a few dozen (the fixture is hundreds of rows),
    // so ≤ 0.45 is the achievable two-sided bound here (measured 0.39
    // source / 0.26 chars at sf0.01); the production dial (< 0.1 at
    // hundreds of groups) is the string-key row of BASELINE §"Scan
    // clustering".
    // Below ~10 row groups the fraction is statistically meaningless
    // (one group is 10+ points of read fraction) and parquet-writer
    // drift at the smallest SF could collapse the fixture there — skip
    // the layout assertion then but keep the hash check running
    // (ADVICE r16)
    val nGroups = graft.ops.Compaction
      .stringColumnRanges(spark, dst, "source").size
    if (nGroups >= 10)
      require(readSource <= 0.45 && readChars <= 0.45,
        s"q122: string-ranked z-order layout does not prune both " +
          s"dimensions (source-equality read fraction $readSource, " +
          s"n_chars window read fraction $readChars, $nGroups row groups)")
    SourceQueries.materializeThenDelete(
      spark.read.parquet(dst)
        .withColumn("rnk", ranked(col("source"), dict))
        .withColumn("hb", hashBucket(
          concat(col("source"), lit("#"), col("doc_id").cast("string")), 20))
        .groupBy(col("source"))
        .agg(min(col("rnk")).as("rnk"),
             count(lit(1)).as("n"),
             sum(col("n_chars")).cast("long").as("chars"),
             sum(col("hb") % lit(1000003L)).as("hb_sum"),
             min(col("hb")).as("hb_min"),
             max(col("hb")).as("hb_max"))
        .withColumn("pruned_source", lit(true))
        .withColumn("pruned_chars", lit(true))
        .orderBy(col("source")), root)
  }

  val q122Sql: String =
    """WITH r AS (
      |  SELECT source, rank() OVER (ORDER BY source) - 1 AS rnk
      |  FROM (SELECT DISTINCT source FROM documents)),
      |d AS (
      |  SELECT dd.source, r.rnk, dd.n_chars,
      |    CAST('0x'||substr(md5(dd.source||'#'||CAST(dd.doc_id AS VARCHAR)),1,5) AS BIGINT) AS hb
      |  FROM documents dd JOIN r ON dd.source = r.source)
      |SELECT source, CAST(min(rnk) AS BIGINT) AS rnk, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(sum(hb % 1000003) AS BIGINT) AS hb_sum,
      |  min(hb) AS hb_min, max(hb) AS hb_max,
      |  TRUE AS pruned_source, TRUE AS pruned_chars
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** S-WARC — web-archive ingest ([[graft.sources.Warc]]): document
    * texts are written as a real .warc.gz (warcinfo record, one HTTP
    * response record per doc with status line + Content-Type headers,
    * then a deliberately TRUNCATED record), read back through the
    * streaming record splitter, and projected to the fields q129's
    * URL normalization / q136's curation pipeline consume. The oracle
    * recomputes every row relationally from `documents` — record
    * indices via row_number, HTTP fields from the construction rule,
    * body md5 over the same UTF-8 bytes — plus literal rows for the
    * warcinfo record and the fail-soft error row (whose message pins
    * the exact truncation position).
    */
  /** One WARC record (version line, headers, Content-Length, payload,
    * CRLF CRLF) onto `out` — shared by the q142/q148 fixture writers.
    */
  private def writeWarcRecord(out: java.io.OutputStream,
                              headers: Seq[(String, String)],
                              payload: Array[Byte]): Unit = {
    val UTF_8 = java.nio.charset.StandardCharsets.UTF_8
    val sb = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) =>
      sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    out.write(sb.toString.getBytes(UTF_8))
    out.write(payload)
    out.write("\r\n\r\n".getBytes(UTF_8))
  }

  def q142WarcRead(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
    val root = java.nio.file.Files.createTempDirectory("graft_q142_").toString
    val file = root + "/crawl.warc.gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(file))
    def rec(headers: Seq[(String, String)], payload: Array[Byte]): Unit =
      writeWarcRecord(out, headers, payload)
    rec(Seq("WARC-Type" -> "warcinfo",
      "WARC-Date" -> "2024-01-01T00:00:00Z",
      "Content-Type" -> "application/warc-fields"),
      "software: graft\r\n".getBytes(UTF_8))
    docs.foreach { r =>
      val id = r.getLong(0)
      val mime = if (id % 2 == 0) "text/plain" else "text/html"
      val payload = s"HTTP/1.1 200 OK\r\nContent-Type: $mime\r\n\r\n"
        .getBytes(UTF_8) ++ r.getString(1).getBytes(UTF_8)
      rec(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://example.com/doc/$id",
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http;msgtype=response"), payload)
    }
    // truncated final record: Content-Length far past EOF → fail-soft
    out.write("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999999\r\n\r\nxx"
      .getBytes(UTF_8))
    out.close()
    materializeThenDelete(
      graft.sources.Warc.read(spark, file)
        .select(col("rec_idx"), col("rec_type"), col("url"),
          col("http_status"), col("http_content_type").as("mime"),
          length(col("body")).cast("long").as("n_bytes"),
          md5(col("body")).as("body_md5"), col("ok"), col("err"))
        .orderBy(col("rec_idx")),
      root)
  }

  /** ✚ WARC → HTML→text → curation composition — the crawl-side seam
    * of the q136 family sealed end-to-end ON MARKUP, the way published
    * pipelines (C4, RefinedWeb) actually run: a .warc.gz whose
    * response records carry URL VARIANTS (scheme/www/case/
    * trailing-slash/fragment/tracking-param noise over a 40-key path
    * space; full doc_id rides in a dropped `utm_id` so raw urls stay
    * distinct) and HTML BODIES — each `text(doc_id % 25)` escaped and
    * wrapped in a page template whose `<script>` carries the FULL
    * doc_id (`var id=N;`), so raw bodies are ALL DISTINCT and exact
    * dedup only collapses after [[graft.functions.HtmlText]] strips
    * the boilerplate — markup noise defeating raw-byte dedup is
    * precisely why extraction precedes every published dedup stage.
    * Plus one truncated record. The engine runs: WARC read →
    * ok/response filter → html→text extraction → URL normalization
    * ([[graft.ext.UrlOps.normalizeUrl]]) → URL-keyed dedup (min raw
    * url per normalized key) → length quality filter ON THE EXTRACTED
    * TEXT → exact extracted-text dedup (min normalized url per md5).
    * Output: per-stage (count, kept-set fingerprint) rows including
    * the fail-soft bad count — every stage seam in one hash. The
    * oracle rebuilds the construction relationally from `documents`,
    * replays normalization by its RESULT (the construction rule makes
    * the normalized key `example.com/d/<doc_id % 40>` by q129's
    * pinned semantics), states the expected extraction from the
    * template (q151's relational-replay discipline: block lines
    * joined by chr(10), text whitespace-collapsed with the portable
    * class), and runs both elections as windows.
    */
  def q148WarcCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
    val textOf = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    val root = java.nio.file.Files.createTempDirectory("graft_q148_").toString
    val file = root + "/crawl.warc.gz"
    writeCrawlArchive(file, 0L until 200L, textOf, truncated = true)
    val parsed = graft.sources.Warc.read(spark, file)
      .select(col("rec_type"), col("url"), col("ok"),
        graft.functions.HtmlToTextFunctions.htmlToText(
          col("body").cast("string")).as("body"))
    materializeThenDelete(warcCurationStages(parsed), root)
  }

  /** The q148/q153 fixture archive: one HTML response record per id
    * (URL variants over `id % 40`, page template whose `<script>`
    * carries the full id, escaped `text(id % 25)` body), optionally
    * ending in the truncated fail-soft record. One definition — the
    * streaming gate's two archives must carry byte-identical records
    * to the one-shot's single archive.
    */
  private def writeCrawlArchive(file: String, ids: Seq[Long],
                                textOf: Map[Long, String],
                                truncated: Boolean): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(file))
    ids.foreach { id =>
      val g = id % 40
      val rawUrl = (id % 4) match {
        case 0 => s"http://example.com/d/$g?utm_id=$id"
        case 1 => s"https://www.example.com/d/$g?utm_id=$id"
        case 2 => s"http://example.com/d/$g/?utm_id=$id#frag"
        case _ => s"http://EXAMPLE.com/d/$g?utm_source=x&utm_id=$id"
      }
      val esc = textOf(id % 25).replace("&", "&amp;")
        .replace("<", "&lt;").replace(">", "&gt;")
      val body = s"<html><head><title>Page</title>" +
        s"<script>var id=$id;</script></head>" +
        s"<body><h1>Doc</h1><p>$esc</p></body></html>"
      val payload = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        .getBytes(UTF_8) ++ body.getBytes(UTF_8)
      writeWarcRecord(out, Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> rawUrl,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http;msgtype=response"), payload)
    }
    if (truncated)
      out.write("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999999\r\n\r\nxx"
        .getBytes(UTF_8))
    out.close()
  }

  /** q148's curation tail over a parsed+extracted frame
    * (rec_type, url, ok, body = EXTRACTED text) — shared verbatim by
    * the one-shot and the streaming composition, so the two gates can
    * only differ through their ingest.
    */
  private def warcCurationStages(parsed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val resp = parsed.filter(col("ok") && col("rec_type") === "response")
      .select(col("url"), col("body"))
      .withColumn("nurl", graft.ext.UrlOps.normalizeUrl(col("url")))
      .withColumn("bmd5", md5(col("body")))
    val fpCol = conv(substring(
      md5(concat(col("nurl"), lit("#"), col("bmd5"))), 1, 6), 16, 10)
      .cast("long")
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n"),
          coalesce(sum(fpCol), lit(0L)).as("fp"))
        .select(lit(name).as("stage"), col("n"), col("fp"))
    val urlKept = resp.withColumn("rn", row_number().over(
        Window.partitionBy(col("nurl")).orderBy(col("url"))))
      .filter(col("rn") === 1).drop("rn")
    val quality = urlKept.filter(length(col("body")) >= 150)
    val textKept = quality.withColumn("rn", row_number().over(
        Window.partitionBy(col("bmd5")).orderBy(col("nurl"))))
      .filter(col("rn") === 1).drop("rn")
    val bad = parsed.filter(!col("ok"))
      .agg(count(lit(1)).as("n"))
      .select(lit("0_bad").as("stage"), col("n"), lit(0L).as("fp"))
    bad.unionAll(stage(resp, "1_parsed"))
      .unionAll(stage(urlKept, "2_url_dedup"))
      .unionAll(stage(quality, "3_quality"))
      .unionAll(stage(textKept, "4_text_dedup"))
      .orderBy(col("stage"))
  }

  /** ✚ STREAMING WARC → curation — q148's composition driven by
    * archives ARRIVING AS A STREAM (the crawl-side deployment: a
    * fetcher lands .warc.gz files and appends their paths to a
    * manifest; curation follows the manifest, never re-reading an
    * archive). The same 201 records ride TWO archives; a one-line
    * manifest file per archive is streamed with maxFilesPerTrigger=1,
    * so each micro-batch parses + HTML-extracts EXACTLY ONE archive
    * (via [[graft.sources.Warc.read]] — archive-unit parallelism and
    * O(record) memory preserved; the binaryFile streaming source
    * would materialize whole archives as rows) and appends the
    * extracted rows to a landing zone. The curation stages then run
    * over the landed union. THE ORACLE IS q148's: the hash passes
    * only if two-micro-batch ingest ≡ the one-shot read — ordering,
    * append semantics, per-batch extraction and the fail-soft row
    * landing in the SECOND batch all inside the equality (the
    * q110/q139 stream≡batch pattern).
    */
  def q153StreamWarcCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
    val textOf = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    val root = java.nio.file.Files.createTempDirectory("graft_q153_").toString
    writeCrawlArchive(s"$root/a0.warc.gz", 0L until 100L, textOf,
      truncated = false)
    writeCrawlArchive(s"$root/a1.warc.gz", 100L until 200L, textOf,
      truncated = true)
    val man = s"$root/manifest"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(man))
    Seq("a0", "a1").foreach { a =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$man/$a.txt"),
        s"$root/$a.warc.gz\n".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    }
    val landing = s"$root/landing"
    graft.streaming.EventStream.streamTo(
      spark.readStream.option("maxFilesPerTrigger", 1).text(man),
      s"q153_${System.nanoTime()}", Some(s"$root/ckpt")) { (b, batchId) =>
      val paths = b.collect().map(_.getString(0)).filter(_.nonEmpty)
      if (paths.nonEmpty)
        graft.sources.Warc.read(spark, paths.mkString(","))
          .select(col("rec_type"), col("url"), col("ok"),
            graft.functions.HtmlToTextFunctions.htmlToText(
              col("body").cast("string")).as("body"))
          // IDEMPOTENT landing: one overwritten batchId-keyed
          // subdirectory per micro-batch, so a batch retried after
          // a partial write replaces its own directory instead of
          // appending duplicates (which would silently break the
          // stream≡batch oracle equality this gate asserts)
          .write.mode("overwrite").parquet(s"$landing/b$batchId")
    }
    materializeThenDelete(
      warcCurationStages(spark.read
        .option("recursiveFileLookup", "true").parquet(landing)), root)
  }

  // q148's oracle IS this gate's oracle — stream≡batch is the claim
  lazy val q153Sql: String = q148Sql

  val q148Sql: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |r AS (
      |  SELECT a.doc_id,
      |    'example.com/d/' || CAST(a.doc_id % 40 AS VARCHAR) AS nurl,
      |    CASE CAST(a.doc_id % 4 AS INT)
      |      WHEN 0 THEN 'http://example.com/d/' || CAST(a.doc_id % 40 AS VARCHAR)
      |        || '?utm_id=' || CAST(a.doc_id AS VARCHAR)
      |      WHEN 1 THEN 'https://www.example.com/d/' || CAST(a.doc_id % 40 AS VARCHAR)
      |        || '?utm_id=' || CAST(a.doc_id AS VARCHAR)
      |      WHEN 2 THEN 'http://example.com/d/' || CAST(a.doc_id % 40 AS VARCHAR)
      |        || '/?utm_id=' || CAST(a.doc_id AS VARCHAR) || '#frag'
      |      ELSE 'http://EXAMPLE.com/d/' || CAST(a.doc_id % 40 AS VARCHAR)
      |        || '?utm_source=x&utm_id=' || CAST(a.doc_id AS VARCHAR)
      |    END AS url,
      |    -- expected HTML->text extraction of the page template
      |    -- (q151's relational replay): title line, h1 line, then the
      |    -- whitespace-collapsed text; the per-id <script> is elided,
      |    -- which is what makes bodies collapse at id % 25 again
      |    'Page' || chr(10) || 'Doc' ||
      |      CASE WHEN t.coll = '' THEN '' ELSE chr(10) || t.coll END
      |      AS body,
      |    md5('Page' || chr(10) || 'Doc' ||
      |      CASE WHEN t.coll = '' THEN '' ELSE chr(10) || t.coll END)
      |      AS bmd5
      |  FROM d a JOIN (
      |    SELECT doc_id,
      |      trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'),
      |           ' ') AS coll
      |    FROM d) t ON t.doc_id = a.doc_id % 25),
      |f AS (
      |  SELECT *, CAST('0x' || substr(md5(nurl || '#' || bmd5), 1, 6)
      |    AS BIGINT) AS fp
      |  FROM r),
      |u AS (SELECT * FROM (
      |  SELECT *, row_number() OVER (PARTITION BY nurl ORDER BY url) AS rn
      |  FROM f) t WHERE rn = 1),
      |ql AS (SELECT * FROM u WHERE length(body) >= 150),
      |td AS (SELECT * FROM (
      |  SELECT *, row_number() OVER (PARTITION BY bmd5 ORDER BY nurl) AS rn2
      |  FROM ql) t WHERE rn2 = 1)
      |SELECT '0_bad' AS stage, CAST(1 AS BIGINT) AS n, CAST(0 AS BIGINT) AS fp
      |UNION ALL SELECT '1_parsed', count(*), CAST(sum(fp) AS BIGINT) FROM f
      |UNION ALL SELECT '2_url_dedup', count(*), CAST(sum(fp) AS BIGINT) FROM u
      |UNION ALL SELECT '3_quality', count(*), CAST(sum(fp) AS BIGINT) FROM ql
      |UNION ALL SELECT '4_text_dedup', count(*), CAST(sum(fp) AS BIGINT) FROM td
      |ORDER BY stage""".stripMargin

  val q142Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, text,
      |    CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rn
      |  FROM documents WHERE doc_id < 40),
      |info AS (SELECT 'software: graft' || chr(13) || chr(10) AS payload)
      |SELECT rn AS rec_idx, 'response' AS rec_type,
      |  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
      |  CAST(200 AS INT) AS http_status,
      |  CASE WHEN doc_id % 2 = 0 THEN 'text/plain' ELSE 'text/html' END AS mime,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  md5(text) AS body_md5, TRUE AS ok, CAST(NULL AS VARCHAR) AS err
      |FROM docs
      |UNION ALL
      |SELECT 0, 'warcinfo', NULL, NULL, NULL,
      |  CAST(strlen(payload) AS BIGINT), md5(payload), TRUE, NULL
      |FROM info
      |UNION ALL
      |SELECT (SELECT CAST(count(*) + 1 AS INT) FROM docs), NULL, NULL,
      |  NULL, NULL, CAST(0 AS BIGINT), md5(''), FALSE,
      |  'record ' || CAST((SELECT count(*) + 1 FROM docs) AS VARCHAR) ||
      |    ': truncated payload: expected 999999 bytes, got 2'
      |ORDER BY rec_idx""".stripMargin

  val q85Sql: String =
    """WITH docs AS (
      |  SELECT source, lang, doc_id, strlen(text) AS n_bytes, n_chars
      |  FROM documents WHERE doc_id < 40),
      |main AS (
      |  SELECT 'main' AS root, source, count(*) AS n_files,
      |    CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |    CAST(sum(CASE WHEN source = 'web' THEN 1 ELSE 0 END) AS BIGINT) AS n_renamed
      |  FROM docs WHERE n_chars % 5 <> 0 GROUP BY source),
      |backup AS (
      |  SELECT 'backup' AS root, source, count(*) AS n_files,
      |    CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |    CAST(0 AS BIGINT) AS n_renamed
      |  FROM docs WHERE lang = 'en' GROUP BY source)
      |SELECT * FROM main UNION ALL SELECT * FROM backup
      |ORDER BY root, source""".stripMargin
}

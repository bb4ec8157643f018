package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.{ConfigLoader, Phase, PipelinePlan, Registry, Rule, Runner}
import graft.streaming.{EventStream, Sessionize}

/** Pipeline-runner and streaming queries, both oracle-checked. */
object PipelineQueries {

  /** §3.1 — rule-driven pipeline end-to-end: a path inventory built
    * from `documents`, two inline processors gated by glob rules (one
    * tags en-language dirs, one computes word counts over *.txt), and a
    * post-phase per-directory rollup consuming the transformed frame —
    * the reference's pre/inline-then-post traversal as dataflow. The
    * oracle replays the same logic relationally.
    */
  def q40Pipeline(spark: SparkSession, dir: String): DataFrame = {
    val paths = Tables(spark, dir, "documents")
      .select(concat_ws("/", col("source"), col("lang"),
        concat(lit("doc_"), col("doc_id"), lit(".txt"))).as("rel_path"),
        col("source"), col("text"), col("n_chars"))

    val registry = new Registry
    registry.register("tag_en") { (df, _) =>
      df.withColumn("is_en", lit(1)) }
    registry.register("word_count") { (df, _) =>
      df.withColumn("n_words", size(split(col("text"), " "))) }
    registry.register("dir_stats", kind = "post") { (df, _) =>
      df.groupBy(col("source"))
        .agg(count(lit(1)).as("n_files"),
             coalesce(sum(col("is_en")), lit(0)).cast("long").as("n_en"),
             sum(col("n_words")).as("total_words"),
             sum(col("n_chars")).as("total_chars")) }

    val plan = PipelinePlan(Seq(
      Rule("*/en/*", Phase.Inline, "tag_en", priority = 10),
      Rule("**/*.txt", Phase.Inline, "word_count", priority = 5),
      Rule("**", Phase.Post, "dir_stats")))

    new Runner(registry).run(paths, plan)
      .postResults("dir_stats")
      .orderBy(col("source"))
  }

  val q40Sql: String =
    """SELECT source, count(*) AS n_files,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** §3.1 front end — the same pipeline shape as q40, but defined
    * ENTIRELY by config text: the YAML is parsed to the rule plan
    * (`config/loader.py:28-58`), the plugin named in it registers every
    * processor (`load_plugins`, `:115-126`), and
    * `enable_builtin_recorders` auto-injects the inline record stage +
    * post history-persist stage (`core/engine.py:414-435`) — the
    * `n_recorded` output column exists ONLY because injection ran.
    */
  val q61ConfigYaml: String =
    """# pipeline config (reference demo3 shape)
      |plugins:
      |  - graft.pipeline.plugins.DocPipelinePlugin
      |enable_builtin_recorders: true
      |builtin_recorders:
      |  record: record_to_shared
      |  persist: persist_history
      |
      |"*/en/*":
      |  pre_processors:
      |    - tag_en
      |  priority: 10
      |
      |"**/*.txt":
      |  processors:
      |    - word_count
      |  config:
      |    sep: " "
      |  priority: 5
      |
      |"**":
      |  post_processors:
      |    - dir_stats
      |""".stripMargin

  def q61ConfigPipeline(spark: SparkSession, dir: String): DataFrame = {
    val paths = Tables(spark, dir, "documents")
      .select(concat_ws("/", col("source"), col("lang"),
        concat(lit("doc_"), col("doc_id"), lit(".txt"))).as("rel_path"),
        col("source"), col("text"))

    val cfg = ConfigLoader.fromYaml(q61ConfigYaml)
    val registry = new Registry
    cfg.loadPlugins(registry)
    val plan = cfg.withBuiltinRecorders(registry)

    new Runner(registry).run(paths, plan)
      .postResults("dir_stats")
      .orderBy(col("source"))
  }

  val q61Sql: String =
    """SELECT source, count(*) AS n_files,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
      |  CAST(count(*) AS BIGINT) AS n_recorded
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** K5 — batched history sink round-trip, oracle-gated: one record
    * per orders row (deterministic fields derived from the row) is
    * enqueued through the History sink's batch machinery (batch ≥ 200
    * forces a flush, `builtin_recorders.py:56-193`), then the
    * READ-BACK of the appended parquet is aggregated — the output is
    * correct only if every batch landed exactly once.
    */
  def q65HistoryRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.History
    val root = java.nio.file.Files.createTempDirectory("graft_q65_").toString
    val sinkDir = root + "/h"
    val sink = new History(spark, sinkDir, batchSize = 200)
    Tables(spark, dir, "orders").filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        // format in-frame: Timestamp.toString renders a trailing ".0"
        // that DuckDB's CAST(ts AS VARCHAR) does not
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      .collect().foreach { r =>
        sink.enqueue(History.Record(
          ts = r.getString(2), run_id = "q65",
          phase = "inline", path = s"orders/${r.getLong(0)}",
          processor = "enqueue", status = r.getString(1),
          duration_ms = r.getLong(0), rows = 1L, error = ""))
      }
    sink.flush()
    SourceQueries.materializeThenDelete(
      sink.all()
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             sum(col("duration_ms")).as("key_sum"),
             max(col("ts")).as("last_ts"))
        .orderBy(col("status")),
      root)
  }

  val q65Sql: String =
    """SELECT o_orderstatus AS status, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(max(o_orderdate) AS VARCHAR) AS last_ts
      |FROM orders WHERE o_orderkey < 2000
      |GROUP BY status ORDER BY status""".stripMargin

  /** S7 external / K5 SQL sink — JDBC round-trip, oracle-gated: a
    * customer slice is written to an embedded-Derby table (the
    * reference's SQLite file, `builtin_recorders.py:56-193`), read BACK
    * over JDBC with a partitioned parallel scan (4 range queries — the
    * 100-TB shape; an unpartitioned JDBC read is a single-connection
    * bottleneck), and aggregated. Output is correct only if the
    * write+read preserved every row exactly once across the range
    * boundaries.
    */
  def q66JdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Jdbc
    import org.apache.spark.sql.SaveMode
    val url = s"jdbc:derby:memory:graft_q66_${System.nanoTime()};create=true"
    val slice = Tables(spark, dir, "customer")
      .filter(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    Jdbc.write(slice, url, "cust_slice", SaveMode.Overwrite)
    val out = Jdbc.read(spark, url, "cust_slice",
        Some(Jdbc.Partitioning("c_custkey", 1L, 1000L, 4)))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(col("c_custkey")).as("key_sum"),
           // decimal sum: double addition is order-dependent across
           // partitionings; DECIMAL(18,2) is exact on both engines
           sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal_sum"))
      .orderBy(col("c_mktsegment"))
      // materialize, then drop the per-call in-memory DB — the lazy
      // frame reads over JDBC, and without the drop a long session
      // accumulates one Derby heap image per invocation
      .localCheckpoint(true)
    Jdbc.dropInMemoryDerby(url)
    out
  }

  val q66Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(c_custkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      |FROM customer WHERE c_custkey <= 1000
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** K1 + S6 — CSV export/read round-trip, oracle-gated: a lineitem
    * slice goes out through the CSV exporter (header, partition-
    * parallel files) and back through the header+inferSchema reader;
    * the aggregate is correct only if every row and type survived the
    * text round-trip. l_quantity is integral-valued (TPC-H), so the
    * double sum is order-independent-exact.
    */
  def q67CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Exporters
    import graft.sources.Readers
    val root = java.nio.file.Files.createTempDirectory("graft_q67_").toString
    val out = root + "/csv"
    Exporters.csv(
      Tables(spark, dir, "lineitem").filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity")),
      out)
    SourceQueries.materializeThenDelete(
      Readers.csv(spark, out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(col("l_orderkey")).as("key_sum"),
             sum(col("l_quantity")).cast("double").as("qty_sum"))
        .orderBy(col("l_returnflag")),
      root)
  }

  val q67Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(l_quantity) AS DOUBLE) AS qty_sum
      |FROM lineitem WHERE l_orderkey < 500
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** K-family ORC round-trip, oracle-gated: an embeddings slice —
    * including its array<float> column, the payload CSV/JSON gates
    * can't carry typed — goes out through [[graft.sinks.Exporters.orc]]
    * and back through [[graft.sources.Readers.orc]]; the per-label
    * aggregate matches the oracle (reading the ORIGINAL parquet) only
    * if every row, the int/long scalars AND every array element
    * survived the format round-trip bit-for-bit. Aggregates are
    * integer-only (element counts from float COMPARISONS, never float
    * sums), so there is no operation-order caveat.
    */
  def q126OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Exporters
    import graft.sources.Readers
    val root = java.nio.file.Files.createTempDirectory("graft_q126_").toString
    val out = root + "/orc"
    Exporters.orc(
      Tables(spark, dir, "embeddings").filter(col("vec_id") < 200), out)
    SourceQueries.materializeThenDelete(
      Readers.orc(spark, out)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
             sum(col("vec_id")).as("id_sum"),
             sum(size(col("embedding"))).as("dim_sum"),
             sum(size(filter(col("embedding"), x => x > 0f)))
               .as("pos_elems"),
             min(col("vec_id")).as("min_id"),
             max(col("vec_id")).as("max_id"))
        .orderBy(col("label")),
      root)
  }

  val q126Sql: String =
    """SELECT label, count(*) AS n,
      |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
      |  CAST(sum(len(embedding)) AS BIGINT) AS dim_sum,
      |  CAST(sum(len(list_filter(embedding, x -> x > 0))) AS BIGINT) AS pos_elems,
      |  min(vec_id) AS min_id, max(vec_id) AS max_id
      |FROM embeddings WHERE vec_id < 200
      |GROUP BY label ORDER BY label""".stripMargin

  /** S5 — skip-bad-cells numeric extract, oracle-gated: a CSV is
    * written with every third value corrupted (non-numeric prefix);
    * the reader must DROP those cells (try_cast tolerance,
    * `io_helpers.py:37-79`) and the aggregate over survivors must
    * match the oracle replaying the same corruption + TRY_CAST.
    */
  def q70CsvNumeric(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Readers
    val root = java.nio.file.Files.createTempDirectory("graft_q70_").toString
    val out = root + "/csv"
    Tables(spark, dir, "documents").filter(col("doc_id") < 3000)
      .select(when(col("doc_id") % 3 === 0,
          concat(lit("x"), col("n_chars").cast("string")))
        .otherwise(col("n_chars").cast("string")).as("n_chars"))
      .write.mode("overwrite").option("header", "true").csv(out)
    SourceQueries.materializeThenDelete(
      Readers.csvNumericColumn(spark, out, Some("n_chars"))
        .agg(count(lit(1)).as("n_good"),
             sum(col("n_chars")).cast("double").as("total")),
      root)
  }

  val q70Sql: String =
    """WITH raw AS (
      |  SELECT TRY_CAST(CASE WHEN doc_id % 3 = 0
      |                       THEN 'x' || CAST(n_chars AS VARCHAR)
      |                       ELSE CAST(n_chars AS VARCHAR) END AS DOUBLE) AS v
      |  FROM documents WHERE doc_id < 3000)
      |SELECT count(*) AS n_good, CAST(sum(v) AS DOUBLE) AS total
      |FROM raw WHERE v IS NOT NULL""".stripMargin

  /** S11 — kv-dict line parsing, oracle-gated: a line frame is built
    * with comments (#), blanks, and "key,label" payload lines; the
    * parser must skip the former and split the latter
    * (`_dict.txt` shape). The oracle replays the line construction
    * relationally — counts match only if exactly the payload lines
    * survive and split correctly.
    */
  def q71KvDict(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.LineRouter
    val lines = Tables(spark, dir, "documents").filter(col("doc_id") < 3000)
      .select(
        when(col("doc_id") % 10 === 0, concat(lit("# comment "), col("doc_id")))
          .when(col("doc_id") % 10 === 1, lit("   "))
          .otherwise(concat(col("lang"), lit(","), col("source"))).as("value"))
    LineRouter.parseKvDict(lines)
      .groupBy(col("key"), col("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("key"), col("label"))
  }

  val q71Sql: String =
    """SELECT lang AS key, source AS label, count(*) AS n
      |FROM documents
      |WHERE doc_id < 3000 AND doc_id % 10 NOT IN (0, 1)
      |GROUP BY lang, source ORDER BY key, label""".stripMargin

  /** K7 — plot-data extraction, oracle-gated: two (filter, x, y)
    * series specs over events → the long-form (series, x, y) frame
    * every renderer consumes (`plotting_impl.py:344-376`), aggregated
    * per series for a deterministic compare. Decimal value sums keep
    * the double aggregation order-independent.
    */
  def q72PlotSeries(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.PlotData
    val e = Tables(spark, dir, "events")
    val series = Seq(
      PlotData.SeriesSpec("clicks", col("event_type") === "click",
        col("event_id"), col("value")),
      PlotData.SeriesSpec("purchases", col("event_type") === "purchase",
        col("event_id"), col("value")))
    PlotData.extract(e, series)
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_points"),
           max(col("x")).as("max_x"),
           round(sum(col("y").cast("decimal(18,6)")), 2).cast("double").as("sum_y"))
      .orderBy(col("series"))
  }

  val q72Sql: String =
    """WITH s AS (
      |  SELECT 'clicks' AS series, event_id AS x, value AS y
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT 'purchases', event_id, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT series, count(*) AS n_points, max(x) AS max_x,
      |  CAST(round(sum(CAST(y AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_y
      |FROM s GROUP BY series ORDER BY series""".stripMargin

  /** K7 (render half) — the SVG pixel stream itself, oracle-gated:
    * q72 gates plot-data EXTRACTION and PlotRenderSpec golden-files
    * the renderer; this gate closes the loop END-TO-END. Two event
    * series render through the real [[graft.sinks.PlotRender]]
    * pipeline (single subplot, no title/legend → fixed margin
    * geometry), the polyline coordinates are parsed BACK out of the
    * SVG text, and their per-series exact-decimal sums are compared to
    * the oracle REPLAYING the affine data→pixel transform and the
    * renderer's %.2f formatting in SQL. A bug anywhere — extraction,
    * bounds, scaling, formatting, series routing — moves the sums.
    *
    * Tie rounding (verified empirically, round 13): exact 2-dp ties
    * ARE reachable — k + 1/8 is an exactly-representable double and a
    * genuine half-cent tie — and the engines' printf disagree on them
    * (Java `%.2f` rounds HALF_UP → 51.13; DuckDB `printf` rounds
    * half-even → 51.12). The oracle therefore replays the format with
    * DuckDB `round(v, 2)`, which rounds half AWAY FROM ZERO — equal to
    * Java's HALF_UP on the all-positive canvas coordinates, including
    * every tie.
    *
    * Geometry constants under this spec (width 640, height 360, one
    * subplot, no titles, legend off): x0=4, y0=4 (topPad), ml=46,
    * mt=8, mb=30 → px=50, py=12, pw=576, ph=314 — all exact in
    * binary, so the SQL literals replay them losslessly. Coordinates
    * are parsed as DECIMAL(10,2) (the %.2f print is exactly 2dp), so
    * the sums are exact in both engines, not order-dependent doubles.
    */
  def q108PlotSvg(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{PlotData, PlotRender}
    import spark.implicits._
    val e = Tables(spark, dir, "events").filter(col("event_id") < 2000)
    val series = Seq(
      PlotData.SeriesSpec("clicks", col("event_type") === "click",
        col("event_id").cast("double"), col("value")),
      PlotData.SeriesSpec("purchases", col("event_type") === "purchase",
        col("event_id").cast("double"), col("value")))
    // bounded collect: < 2000 events, ordered for a deterministic
    // polyline (sums are order-free, but the SVG bytes may as well be
    // deterministic too — the renderer's own contract)
    val pts = PlotData.extract(e, series)
      .orderBy(col("series"), col("x"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getDouble(1), r.getDouble(2))).toSeq)
      .toMap
    val svg = PlotRender.render(PlotRender.Spec(
      Seq(PlotRender.Subplot(
        Seq(PlotRender.Series("clicks", pts.getOrElse("clicks", Seq.empty)),
          PlotRender.Series("purchases", pts.getOrElse("purchases", Seq.empty))),
        legend = false)))).svg
    // parse the pixel stream back out of the artifact
    val poly = """<polyline points="([^"]*)"[^>]*data-series="([^"]*)"""".r
    val parsed = poly.findAllMatchIn(svg).flatMap { m =>
      val label = m.group(2)
      m.group(1).split(" ").filter(_.nonEmpty).map { c =>
        val Array(x, y) = c.split(",")
        (label, BigDecimal(x), BigDecimal(y))
      }
    }.toSeq
    parsed.toDF("series", "sx", "sy")
      .select(col("series"),
        col("sx").cast("decimal(10,2)").as("sx"),
        col("sy").cast("decimal(10,2)").as("sy"))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_pts"),
           sum(col("sx")).cast("double").as("sum_x"),
           sum(col("sy")).cast("double").as("sum_y"))
      .orderBy(col("series"))
  }

  val q108Sql: String =
    """WITH pts AS (
      |  SELECT 'clicks' AS series, CAST(event_id AS DOUBLE) AS x, value AS y
      |  FROM events WHERE event_type = 'click' AND event_id < 2000
      |  UNION ALL
      |  SELECT 'purchases', CAST(event_id AS DOUBLE), value
      |  FROM events WHERE event_type = 'purchase' AND event_id < 2000),
      |b AS (SELECT min(x) AS xlo, max(x) AS xhi,
      |             min(y) AS ylo, max(y) AS yhi FROM pts),
      |c AS (SELECT series,
      |        CAST(round(50 + (x - xlo) / (xhi - xlo) * 576, 2)
      |          AS DECIMAL(10,2)) AS sx,
      |        CAST(round(12 + 314 - (y - ylo) / (yhi - ylo) * 314, 2)
      |          AS DECIMAL(10,2)) AS sy
      |      FROM pts, b)
      |SELECT series, count(*) AS n_pts,
      |  CAST(sum(sx) AS DOUBLE) AS sum_x, CAST(sum(sy) AS DOUBLE) AS sum_y
      |FROM c GROUP BY series ORDER BY series""".stripMargin

  /** K2 + S4 — JSON export/read round-trip, oracle-gated (same shape
    * as q67 over the documents table; JSON re-infers longs as longs).
    */
  def q68JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Exporters
    import graft.sources.Readers
    val root = java.nio.file.Files.createTempDirectory("graft_q68_").toString
    val out = root + "/json"
    Exporters.json(
      Tables(spark, dir, "documents").filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      out)
    SourceQueries.materializeThenDelete(
      Readers.json(spark, out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang")),
      root)
  }

  val q68Sql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id < 2000
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** §2.10 — Structured Streaming: replay the events parquet as a file
    * stream, watermarked tumbling-window count/sum per hour × type,
    * availableNow to completion. The oracle is the equivalent batch
    * aggregation — streaming and batch must agree exactly.
    */
  def q39StreamWindow(spark: SparkSession, dir: String): DataFrame =
    EventStream.withShufflePartitions(spark, 8) {
      val agg = EventStream.hourlyByType(EventStream.readEvents(spark, dir))
      EventStream.runToCompletion(spark, agg, s"q39_mem_${System.nanoTime()}")
        .orderBy(col("hour"), col("event_type"))
    }

  val q39Sql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_v
      |FROM events GROUP BY hour, event_type
      |ORDER BY hour, event_type""".stripMargin

  /** ✚ STREAMING corpus-growth dedup — q109's batch contract replayed
    * through a live Structured Streaming query: the corpus slice
    * (doc_id < 250) is indexed, the batch slice (250–999) is written
    * as two parquet files and streamed back one file per
    * micro-batch (two is the minimum that exercises cross-batch
    * pairing; each extra micro-batch costs ~3 s of fixed
    * load+append overhead at gate scale), and each micro-batch runs
    * [[graft.ext.LshIndex.streamingDedupBatch]] — incremental pairs
    * against the index, then fold the batch IN, so later micro-batches
    * pair against earlier ones. Across the stream every batch-touching
    * pair is produced exactly once, which is why THE ORACLE IS
    * q109's: the hash passes only if stream-with-index-growth ≡ one
    * batch incremental run ≡ the full recompute restricted to the
    * batch. State lives in the index on disk, not the state store —
    * the stateless-streaming dedup shape (no watermark, no growing
    * dedup state, restart = resume from the index).
    */
  def q110StreamIncLsh(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q110_").toString
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 1000)
    graft.ext.LshIndex.build(spark, s"$root/idx",
      docs.filter(col("doc_id") < 250), "text", "doc_id",
      shingleWidth = 1, numHashes = 24, numBands = 3)
    val batchDir = s"$root/batches"
    val batch = docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("text"))
    batch.repartition(2).write.parquet(batchDir)
    val outDir = s"$root/pairs"
    EventStream.streamTo(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(batchDir),
      s"q110_${System.nanoTime()}", Some(s"$root/ckpt"))(
      graft.ext.LshIndex.streamingDedupBatch(
        spark, s"$root/idx", "text", threshold = 0.9,
        // same no-drop precondition q109 requires — without it a
        // cap-divergent fixture would fail as an opaque hash mismatch
        onCensus = (census, _) => require(!census.anyDropped,
          "q110: gate fixture must not hit the bucket cap"))(
        (pairs, _) => pairs.write.mode("append").parquet(outDir)))
    SourceQueries.materializeThenDelete(
      spark.read.parquet(outDir).orderBy(col("id_a"), col("id_b")), root)
  }

  // the batch incremental gate's oracle IS this gate's oracle — that
  // equality is the whole point (see scaladoc above)
  lazy val q110Sql: String = ExtensionQueries.q109Sql

  /** ✚ STREAMING cluster election — the capstone q110 (streaming
    * pairs) and q113 (batch label fold-in) compose into: a live
    * Structured Streaming query maintains the PERSISTED labeling
    * ([[graft.ext.LabelStore]]) micro-batch by micro-batch via
    * [[graft.ext.LabelStore.streamingLabelBatch]] — index fold-in
    * first (exactly-once under the index's marker), then the same
    * incremental pairs fold into the label store under the store's
    * own marker, so after every micro-batch the store holds the exact
    * labeling of everything streamed so far and no corpus CC ever
    * re-runs. THE ORACLE IS q47's one-shot full-recompute SQL: the
    * hash passes only if stream-maintained store state ≡ full CC over
    * the union pair graph — which composes q110's proof (stream pairs
    * ≡ batch incremental pairs) with q113's (quotient fold-in ≡ full
    * CC) THROUGH the store's delta-log persistence (base rows +
    * remaps + collision overrides composed at read). State lives in
    * two on-disk artifacts (index + store), not the state store —
    * restart = resume both from their markers (pinned cross-JVM in
    * StreamIncLshRestartSpec). The stream runs once per session as
    * the shared [[GateFixtures.streamedLabelStore]] fixture (q121
    * hashes a different projection of the same artifact).
    */
  def q115StreamLabels(spark: SparkSession, dir: String): DataFrame =
    // the stream itself runs once per session in the shared fixture
    // (GateFixtures.streamedLabelStore — q121 consumes the same
    // artifact through a DIFFERENT projection/oracle); this gate
    // hashes the store's cluster summary against q47's one-shot
    // recompute
    graft.ext.LabelStore.load(spark,
        GateFixtures.streamedLabelStore(spark, dir))
      .groupBy(col("label").as("rep"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .orderBy(col("rep"))

  // q113's oracle (q47's full recompute) IS this gate's oracle — the
  // equality through the store's persistence is the point (scaladoc)
  lazy val q115Sql: String = ExtensionQueries.q113Sql

  /** ✚ the INCREMENTAL-curation capstone — the production sequence a
    * 100 TB operator actually reruns, as ONE gate: stream document
    * batches in → incremental LSH dedup (index fold-in, O(batch)
    * pairs) → cluster labeling maintained live in the persisted
    * [[graft.ext.LabelStore]] (q115's loop, verbatim) → then the
    * TRAINING-SET SELECTION over the deduped survivors: near-dup
    * representative election (a doc survives iff it IS its cluster's
    * min-id label), q60's quality predicate, q60's reproducible
    * md5 sample, and q100's hash split — rolled up per
    * (source, split). THE ORACLE IS ONE FULL-RECOMPUTE SQL composing
    * q47's recursive-CC pipeline (the exact `cc300Ctes` text q47/
    * q113/q115 hash against) with q60's selection predicates and
    * q100's split arithmetic: the hash passes only if the streamed,
    * store-mediated, incrementally-labeled corpus selects the
    * byte-identical training set a one-shot batch recompute selects.
    *
    * Scale shape of the selection tail: survivors are corpus-sized,
    * so it is ONE id-keyed join (labeling ⨝ corpus), with quality/
    * sample/split all map-side columns and one grouped rollup — no
    * operator in the tail re-runs CC or re-pairs anything.
    */
  def q121IncCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 300)
    // the streamed store is the shared session fixture (built once —
    // q115 hashes its cluster summary; this gate hashes the curation
    // SELECTION over it, the composition's end product)
    val storePath = GateFixtures.streamedLabelStore(spark, dir)
    // selection phase over the live store: representative election +
    // quality + sample + split, exactly q60/q100's predicates
    val surv = graft.ext.LabelStore.load(spark, storePath)
      .filter(col("id") === col("label"))
      .select(col("id").as("doc_id"))
    val bucket = pmod(
      graft.ext.Dedup.hexHash(col("doc_id").cast("string"), "sp#"),
      lit(100L))
    docs.join(surv, Seq("doc_id"))
      .withColumn("split", when(bucket < 90, "train")
        .when(bucket < 95, "val").otherwise("test"))
      .withColumn("n_tokens",
        size(graft.ext.TextStats.wsTokens(col("text"))).cast("long"))
      .withColumn("q_keep",
        col("n_tokens") >= 20 && col("n_chars") >= 100 &&
          graft.ext.TextStats.punctCount(col("text")) * 5 <= col("n_chars"))
      .withColumn("s_keep",
        substring(md5(concat(lit("seed1#"), col("doc_id"))), 1, 2) < "c0")
      .withColumn("kept", col("q_keep") && col("s_keep"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_surv"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
           sum(when(col("kept"), col("n_tokens")).otherwise(0L))
             .as("kept_tokens"))
      .orderBy(col("source"), col("split"))
  }

  /** q47's full-recompute CC composed with q60's selection and q100's
    * split — the one-shot batch oracle the streamed incremental
    * pipeline must hash-equal (see [[q121IncCuration]]).
    */
  lazy val q121Sql: String = ExtensionQueries.cc300Ctes +
    """,
      |surv AS (SELECT node AS doc_id FROM comp WHERE node = rep),
      |sel AS (
      |  SELECT dd.source,
      |    CASE WHEN CAST('0x'||substr(md5('sp#'||CAST(dd.doc_id AS VARCHAR)),1,13) AS BIGINT) % 100 < 90 THEN 'train'
      |         WHEN CAST('0x'||substr(md5('sp#'||CAST(dd.doc_id AS VARCHAR)),1,13) AS BIGINT) % 100 < 95 THEN 'val'
      |         ELSE 'test' END AS split,
      |    CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_tokens,
      |    (len(string_split(dd.text, ' ')) >= 20 AND dd.n_chars >= 100
      |     AND len(regexp_extract_all(lower(dd.text), '[^a-z0-9 ]')) * 5 <= dd.n_chars)
      |      AS q_keep,
      |    substr(md5('seed1#' || dd.doc_id), 1, 2) < 'c0' AS s_keep
      |  FROM documents dd JOIN surv s ON dd.doc_id = s.doc_id
      |  WHERE dd.doc_id < 300)
      |SELECT source, split, count(*) AS n_surv,
      |  CAST(sum(CASE WHEN q_keep AND s_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN q_keep AND s_keep THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM sel GROUP BY source, split ORDER BY source, split""".stripMargin

  /** §2.10 — the APPEND-mode deployment shape of q39, oracle-gated:
    * same watermarked hourly aggregation, but the memory sink receives
    * only the windows the watermark CLOSED (each emitted exactly once,
    * its state evicted — the bounded-state contract an unbounded
    * stream needs; q39's complete-mode replay re-emits everything and
    * keeps all state). The oracle replays the closed-window selection
    * relationally: a window [h, h+1h) is emitted iff
    * `h + 1h <= max(event time) − 1h` with the max floored to the
    * MILLISECOND — Spark's event-time stats track max event time in
    * ms (`EventTimeWatermarkExec` divides micros by 1000), so the
    * oracle floors the same way; the ≤ boundary (window end equal to
    * the watermark ⇒ emitted) is pinned executably in StreamSinkSpec.
    */
  def q104AppendWindow(spark: SparkSession, dir: String): DataFrame =
    EventStream.withShufflePartitions(spark, 8) {
      val agg = EventStream.hourlyByType(EventStream.readEvents(spark, dir))
      EventStream.runAppendToCompletion(spark, agg,
          s"q104_mem_${System.nanoTime()}")
        .orderBy(col("hour"), col("event_type"))
    }

  val q104Sql: String =
    """WITH agg AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    count(*) AS n,
      |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_v
      |  FROM events GROUP BY hour, event_type),
      |wm AS (
      |  -- Spark's watermark: max event time in ms (micros floored), minus
      |  -- the 1 h delay; rebuilt here at micros precision for comparison
      |  SELECT make_timestamp(((epoch_ns(max(ts)) // 1000000) - 3600000) * 1000) AS w
      |  FROM events)
      |SELECT hour, event_type, n, total_v FROM agg, wm
      |WHERE hour + INTERVAL 1 HOUR <= w
      |ORDER BY hour, event_type""".stripMargin

  /** §2.11 streaming state — flatMapGroupsWithState sessionization run
    * as a REAL stream to completion, oracle-gated: per-user state
    * carries the open session across micro-batches and emits sessions
    * as they close; the final open session stays in state (it would
    * close via timeout on a live stream). The oracle is the batch
    * sessionization minus each user's last session — exactly the
    * completed-only contract.
    */
  def q73StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = EventStream.readEvents(spark, dir)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long").as("ts_secs"))
      .as[Sessionize.Event]
    EventStream.withShufflePartitions(spark, 8) {
      EventStream.runAppendToCompletion(spark,
        Sessionize.sessionsStreaming(events, gapSecs = 1800).toDF(),
        s"q73_mem_${System.nanoTime()}")
    }.orderBy(col("user_id"), col("session_idx"))
  }

  val q73Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id,
      |    CAST(sum(CASE WHEN prev_ts IS NULL
      |             OR date_diff('second', prev_ts, ts) > 1800
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS session_idx
      |  FROM g),
      |agg AS (
      |  SELECT user_id, session_idx, count(*) AS n_events,
      |    min(event_id) AS first_event, max(event_id) AS last_event
      |  FROM s GROUP BY user_id, session_idx)
      |SELECT user_id, session_idx, n_events, first_event, last_event
      |FROM agg
      |WHERE session_idx < (SELECT max(a2.session_idx) FROM agg a2
      |                     WHERE a2.user_id = agg.user_id)
      |ORDER BY user_id, session_idx""".stripMargin

  /** ✚ mergeable sketch INSIDE a streaming aggregation — the
    * composition the 100 TB streaming-distinct story depends on: the
    * KMV aggregator ([[graft.ext.Sketches.kmv]]) runs as a udaf in a
    * watermarked windowed groupBy, its bounded buffer carried in the
    * state store across micro-batches. Because bottom-k merge is
    * associative AND commutative, the micro-batched stream result
    * must equal the one-shot batch computation EXACTLY — which is
    * what the oracle checks (row_number replay per day × type, the
    * q86 idiom), not an ε-tolerance. k = 32 puts every verify-fixture
    * cell (> 32 distinct users/day/type) in the ESTIMATOR regime —
    * the sketch path is what's gated, not the trivial under-k exact
    * count; StreamSinkSpec additionally pins stream ≡ batch on the
    * same udaf.
    *
    * Mode caveat: the gate replays through a memory sink in COMPLETE
    * output mode (runToCompletion), where the watermark never evicts
    * aggregation state — withWatermark is inert here and state holds
    * every (window, event_type) group for the replay's lifetime. The
    * bounded-state deployment shape is append/update mode, where the
    * watermark actually closes windows and evicts them from the state
    * store; the sketch buffer itself is k-bounded in either mode.
    * StreamSinkSpec's append-mode case PROVES that shape: closed
    * windows emit once and batch-identically, and the state store
    * shrinks to the open windows after the watermark passes.
    */
  def q99StreamKmv(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val kmvU = udaf(graft.ext.Sketches.kmv[Long](k)(identity),
      org.apache.spark.sql.Encoders.scalaLong)
    val agg = EventStream.readEvents(spark, dir)
      .withColumn("h",
        graft.ext.Dedup.hexHash(col("user_id").cast("string"), "sk#"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(kmvU(col("h")), 4).as("est_users"))
      .select(col("w.start").cast("date").cast("string").as("day"),
        col("event_type"), col("n"), col("est_users"))
    EventStream.withShufflePartitions(spark, 8) {
      EventStream.runToCompletion(spark, agg, s"q99_mem_${System.nanoTime()}")
        .orderBy(col("day"), col("event_type"))
    }
  }

  val q99Sql: String =
    """WITH h0 AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |    CAST('0x'||substr(md5('sk#'||CAST(user_id AS VARCHAR)),1,13) AS BIGINT) AS h
      |  FROM events),
      |n AS (SELECT day, event_type, count(*) AS n FROM h0 GROUP BY day, event_type),
      |d AS (SELECT DISTINCT day, event_type, h FROM h0),
      |r AS (SELECT day, event_type, h,
      |        row_number() OVER (PARTITION BY day, event_type ORDER BY h) AS rn
      |      FROM d),
      |s AS (SELECT day, event_type, count(*) AS nd,
      |        max(CASE WHEN rn = 32 THEN h END) AS kth
      |      FROM r GROUP BY day, event_type)
      |SELECT CAST(n.day AS VARCHAR) AS day, n.event_type AS event_type, n.n,
      |  CASE WHEN s.nd < 32 THEN round(CAST(s.nd AS DOUBLE), 4)
      |       ELSE round(31 * CAST(4503599627370496 AS DOUBLE) / s.kth, 4)
      |  END AS est_users
      |FROM n JOIN s ON n.day = s.day AND n.event_type = s.event_type
      |ORDER BY n.day, n.event_type""".stripMargin

  /** §2.11 — typed custom-state sessionization: groupByKey +
    * flatMapGroups building gap-based sessions imperatively per user
    * (the Dataset API path; q23 is the window-function path, and the
    * streaming flatMapGroupsWithState variant shares this logic). All
    * outputs are integers → exact oracle parity.
    */
  def q43TypedSessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionsBatch(Tables(spark, dir, "events"), gapSecs = 1800)
      .toDF()
      .orderBy(col("user_id"), col("session_idx"))

  val q43Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id,
      |    CAST(sum(CASE WHEN prev_ts IS NULL
      |             OR date_diff('second', prev_ts, ts) > 1800
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS session_idx
      |  FROM g)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM s GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** ✚ streaming exactly-once dedup, oracle-gated: the events source
    * is read as TWO file streams unioned (every row arrives exactly
    * twice), pushed through the watermark-bounded
    * `dropDuplicatesWithinWatermark` (state evicted past the horizon —
    * the 100 TB-safe variant), and the appended memory-sink output is
    * aggregated. Counts match the plain batch table only if every
    * duplicate was dropped and every original kept — exactly once.
    */
  def q84StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val doubled = EventStream.readEvents(spark, dir)
      .union(EventStream.readEvents(spark, dir))
    // the gate runs under the RocksDB state store — the provider any
    // 100 TB-keyspace dedup must use (default HDFS-backed state is
    // on-heap); same dedup semantics, so the same oracle gates it
    val deduped = EventStream.withRocksDbStateStore(spark) {
      EventStream.withShufflePartitions(spark, 8) {
        EventStream.runAppendToCompletion(spark,
          EventStream.dedupEvents(doubled), s"q84_mem_${System.nanoTime()}")
      }
    }
    deduped
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
      .orderBy(col("event_type"))
  }

  val q84Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS id_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** S3 — whole-file text read, oracle-gated: document texts are
    * written as real text files partitioned by lang (several part
    * files per lang dir), read back WHOLE-FILE via `Readers.wholeText`,
    * re-split into lines, and aggregated per lang (lang recovered from
    * the partition directory in the file path). Counts and length sums
    * are file-order-independent, so the gate is deterministic while
    * still proving the whole-file read saw every byte of every file.
    */
  def q74WholeText(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Readers
    val root = java.nio.file.Files.createTempDirectory("graft_q74_").toString
    val out = root + "/txt"
    Tables(spark, dir, "documents").filter(col("doc_id") < 2000)
      .select(col("lang"),
        // newline-sanitize BEFORE the line-oriented write: a text
        // containing '\n' would otherwise split into extra physical
        // lines and break the one-line-per-row contract (the oracle
        // applies the identical replace)
        concat(col("doc_id"), lit("|"),
          regexp_replace(col("text"), "[\\n\\r]", " ")).as("value"))
      .write.partitionBy("lang").text(out)
    SourceQueries.materializeThenDelete(
      Readers.wholeText(spark, s"$out/lang=*")
        .select(regexp_extract(col("path"), "lang=([^/]+)", 1).as("lang"),
          explode(split(col("content"), "\n")).as("line"))
        .filter(length(col("line")) > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lines"),
             sum(length(col("line"))).as("total_len"))
        .orderBy(col("lang")),
      root)
  }

  val q74Sql: String =
    """SELECT lang, count(*) AS n_lines,
      |  CAST(sum(length(CAST(doc_id AS VARCHAR) || '|' ||
      |           regexp_replace(text, '[\n\r]', ' ', 'g'))) AS BIGINT) AS total_len
      |FROM documents WHERE doc_id < 2000
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** S4 — NESTED JSON round-trip, oracle-gated (q68 covers the flat
    * case): rows are exported with a struct column, read back with
    * auto-schema, and aggregated BY A NESTED FIELD — correct only if
    * the struct survived the round-trip as a struct (a flattened or
    * stringified read would miss `meta.lang`).
    */
  def q75NestedJson(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Exporters
    import graft.sources.Readers
    val root = java.nio.file.Files.createTempDirectory("graft_q75_").toString
    val out = root + "/json"
    Exporters.json(
      Tables(spark, dir, "documents").filter(col("doc_id") < 2000)
        .select(struct(col("source"), col("lang")).as("meta"),
          col("doc_id"), col("n_chars")),
      out)
    SourceQueries.materializeThenDelete(
      Readers.json(spark, out)
        .groupBy(col("meta.lang").as("lang"), col("meta.source").as("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"), col("source")),
      root)
  }

  val q75Sql: String =
    """SELECT lang, source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id < 2000
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** S8 + K2/K3 — parquet cache round-trip, oracle-gated: the build
    * closure runs ONCE (first `cached` call writes the parquet); the
    * second call's closure THROWS if evaluated, so the returned frame
    * can only come from the cache file — the gate passes only if the
    * cache write+hit round-trip preserved every row. (The parquet
    * export path K2 is the same writer.)
    */
  def q76ParquetCache(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Exporters
    val cacheDir = java.nio.file.Files.createTempDirectory("graft_q76_").toString
    def build = Tables(spark, dir, "orders").filter(col("o_orderkey") < 5000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    Exporters.cached(spark, cacheDir, "orders_slice")(build).count()
    SourceQueries.materializeThenDelete(
      Exporters.cached(spark, cacheDir, "orders_slice")(
          sys.error("cache miss: build closure must not re-run"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
               .cast("double").as("total_price"))
        .orderBy(col("o_orderstatus")),
      cacheDir)
  }

  val q76Sql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
      |FROM orders WHERE o_orderkey < 5000
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** O2 — priority scheduling, oracle-gated: three rules on the same
    * glob — double at priority 10, inc at priority 5 listed TWICE —
    * must run descending-stable WITH duplicates kept
    * (`core/engine.py:403-412`), giving v = 2·n_chars + 2. Any other
    * discipline produces a different value: inc-before-double gives
    * 2·(n_chars+1)+1, deduping gives 2·n_chars+1 — the output hash
    * encodes the exact scheduling contract.
    */
  def q78PriorityOrder(spark: SparkSession, dir: String): DataFrame = {
    val paths = Tables(spark, dir, "documents").filter(col("doc_id") < 2000)
      .select(concat(lit("doc_"), col("doc_id"), lit(".txt")).as("rel_path"),
        col("lang"), col("n_chars").cast("long").as("v"))
    val registry = new Registry
    registry.register("double") { (df, _) => df.withColumn("v", col("v") * 2) }
    registry.register("inc") { (df, _) => df.withColumn("v", col("v") + 1) }
    registry.register("lang_stats", kind = "post") { (df, _) =>
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum")) }
    val plan = PipelinePlan(Seq(
      Rule("**", Phase.Inline, "inc", priority = 5),
      Rule("**", Phase.Inline, "double", priority = 10),
      Rule("**", Phase.Inline, "inc", priority = 5),
      Rule("**", Phase.Post, "lang_stats")))
    new Runner(registry).run(paths, plan)
      .postResults("lang_stats")
      .orderBy(col("lang"))
  }

  val q78Sql: String =
    """SELECT lang, count(*) AS n,
      |  CAST(sum(n_chars * 2 + 2) AS BIGINT) AS v_sum
      |FROM documents WHERE doc_id < 2000
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** K6 — results log, oracle-gated: the step log of a run (incl. a
    * fail-soft step for an unregistered processor) framed as data and
    * compared to the literal expected log. Row counts stay -1 by
    * design (the log never forces an eager job), so every field is
    * deterministic.
    */
  def q79ResultsLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val paths = Tables(spark, dir, "documents").filter(col("doc_id") < 100)
      .select(concat_ws("/", col("source"), col("lang"),
        concat(lit("doc_"), col("doc_id"), lit(".txt"))).as("rel_path"),
        col("text"))
    val registry = new Registry
    registry.register("tag_en") { (df, _) => df.withColumn("is_en", lit(1)) }
    registry.register("word_count") { (df, _) =>
      df.withColumn("n_words", size(split(col("text"), " "))) }
    registry.register("dir_stats", kind = "post") { (df, _) =>
      df.groupBy(col("rel_path")).count() }
    val plan = PipelinePlan(Seq(
      Rule("*/en/*", Phase.Inline, "tag_en", priority = 10),
      Rule("**/*.txt", Phase.Inline, "word_count", priority = 5),
      Rule("**/*.bin", Phase.Inline, "missing_proc"), // fail-soft step
      Rule("**", Phase.Post, "dir_stats")))
    new Runner(registry).run(paths, plan)
      .steps.toDF()
      .select(col("step"), col("phase"), col("pattern"), col("processor"),
        col("ok").cast("int").as("ok_int"))
      .orderBy(col("step"))
  }

  val q79Sql: String =
    """SELECT * FROM (VALUES
      |  (1, 'Inline', '*/en/*', 'tag_en', 1),
      |  (2, 'Inline', '**/*.txt', 'word_count', 1),
      |  (3, 'Inline', '**/*.bin', 'missing_proc', 0),
      |  (4, 'Post', '**', 'dir_stats', 1))
      |AS t(step, phase, pattern, processor, ok_int)
      |ORDER BY step""".stripMargin

  /** A2/§2.11 — prefix-keyed RecordStore oracle gate (the reference's
    * pluggable table backend, `deprecated/table_backend.py:17-184` +
    * the pipeline adapter `utils/pipeline.py:274-372`): records written
    * under canonical-JSON key prefixes and read back through the
    * `_match_value` selector dialect, with the flattened
    * `{prefix}_data_{idx}` / `{prefix}_metadata_{key}` output shape the
    * pipeline consumes. The fixture exercises, and the output hash
    * therefore pins:
    *
    *  - canonical prefix serialization (sorted keys, compact JSON);
    *  - path-part → `level0` mapping AND its conflict priority (one
    *    record's tableKeys carries `level0 -> "SHOULD_LOSE"`, which the
    *    path-derived value must overwrite — a wrong priority changes
    *    the prefix string and the hash);
    *  - per-prefix insertion indexing (`_data_0`/`_data_1` under the
    *    `en` prefix) and first-writer-wins metadata (the second `en`
    *    write's `gen -> 2` must lose; its novel `extra -> 7` must win);
    *  - four selector dialects: `re:` regex, list membership, glob,
    *    and exact string, each as its own output-key namespace;
    *  - CPython float rendering in prefixes ([[graft.catalog.PyFloatRepr]]):
    *    one record's keys carry `0.0001` / `1e-05` / `1.5e+16`, hitting
    *    the fixed-vs-scientific notation boundaries json.dumps draws.
    *
    * The store is driver-side registry machinery BY DESIGN (the
    * reference's backend is a process-local dict): values are lazy
    * Spark plans, only human-scale key dicts live on the driver, and
    * the returned frames aggregate distributed — the final frame is a
    * union of per-record aggregates plus a literal metadata frame.
    */
  def q102RecordStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val rs = new graft.catalog.RecordStore
    val langs = Seq("de", "en", "es", "fr", "zh")
    langs.foreach { lang =>
      val tier = if (lang == "en") "big" else "small"
      rs.writeTable("corpus", Seq("web"),
        Some(Map("lang" -> lang, "tier" -> tier)),
        docs.filter(col("lang") === lang),
        Map("gen" -> 1L))
    }
    // second record under the en prefix: per-prefix idx 1, and its
    // metadata must NOT displace the first writer's gen
    rs.writeTable("corpus", Seq("web"),
      Some(Map("lang" -> "en", "tier" -> "big")),
      docs.filter(col("lang") === "en" && col("doc_id") % 2 === 0),
      Map("gen" -> 2L, "extra" -> 7L))
    // conflict-priority record: the path part must claim level0
    rs.writeTable("corpus", Seq("web"),
      Some(Map("lang" -> "all", "tier" -> "dict", "level0" -> "SHOULD_LOSE")),
      docs.filter(col("doc_id") < 50),
      Map("gen" -> 1L))
    // float-keyed record: its prefix pins PyFloatRepr's CPython
    // notation branches in the gate hash — fixed at 1e-4 (`0.0001`),
    // scientific below it (`1e-05`) and past 1e16 (`1.5e+16`) — values
    // a Double.toString render would all format differently
    rs.writeTable("corpus", Seq("web"),
      Some(Map("lang" -> "v2", "thr" -> 0.0001, "eps" -> 1e-05,
        "big" -> 1.5e16)),
      docs.filter(col("doc_id") < 30),
      Map("gen" -> 1L))

    val selectors: Seq[(String, Map[String, Any])] = Seq(
      "s1" -> Map("lang" -> "re:^(en|fr)", "tier" -> null), // regex + match-any
      "s2" -> Map("lang" -> Seq("de", "zh")),               // list membership
      "s3" -> Map("lang" -> "e*"),                          // glob
      "s4" -> Map("lang" -> "all"),                         // exact
      "s5" -> Map("lang" -> "v2"))                          // float-keyed record

    val parts = selectors.flatMap { case (sid, sel) =>
      val (data, meta) = rs.getTables("corpus", Some(sel))
      val dataRows = data.map { case (key, frame) =>
        frame.agg(count(lit(1)).cast("long").as("v"),
            coalesce(sum(col("n_chars").cast("long")), lit(0L)).as("sum_chars"))
          .select(lit(s"$sid:$key").as("entry_key"), lit("data").as("kind"),
            col("v"), col("sum_chars"))
      }
      val metaRows = meta.map { case (key, value) =>
        (s"$sid:$key", "meta", value.asInstanceOf[Long], -1L)
      }
      dataRows :+ metaRows.toDF("entry_key", "kind", "v", "sum_chars")
    }
    parts.reduce(_.union(_)).orderBy(col("entry_key"))
  }

  val q102Sql: String =
    """WITH sel AS (
      |  SELECT * FROM (VALUES
      |    ('s1','en'),('s1','fr'),('s2','de'),('s2','zh'),('s3','en'),('s3','es')
      |  ) AS s(sid, lang)),
      |per AS (
      |  SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sc
      |  FROM documents GROUP BY lang),
      |pre AS (
      |  -- LEFT JOIN + COALESCE: the store returns every selector-matched
      |  -- RECORD (its key dict exists regardless of frame contents), and
      |  -- the Scala side aggregates an empty frame to v=0/sum_chars=0 —
      |  -- an inner join would drop a lang absent from documents entirely
      |  SELECT sid, sel.lang,
      |    '{"lang":"' || sel.lang || '","level0":"web","tier":"' ||
      |      CASE WHEN sel.lang = 'en' THEN 'big' ELSE 'small' END || '"}' AS prefix,
      |    COALESCE(per.n, 0) AS n, COALESCE(per.sc, 0) AS sc
      |  FROM sel LEFT JOIN per ON per.lang = sel.lang),
      |evens AS (
      |  SELECT count(*) AS n, COALESCE(CAST(sum(n_chars) AS BIGINT), 0) AS sc
      |  FROM documents WHERE lang = 'en' AND doc_id % 2 = 0),
      |aux AS (
      |  SELECT count(*) AS n, COALESCE(CAST(sum(n_chars) AS BIGINT), 0) AS sc
      |  FROM documents WHERE doc_id < 50),
      |flt AS (
      |  SELECT count(*) AS n, COALESCE(CAST(sum(n_chars) AS BIGINT), 0) AS sc
      |  FROM documents WHERE doc_id < 30),
      |rows_all AS (
      |  SELECT sid || ':' || prefix || '_data_0' AS entry_key,
      |    'data' AS kind, n AS v, sc AS sum_chars FROM pre
      |  UNION ALL
      |  SELECT sid || ':' || prefix || '_data_1', 'data', e.n, e.sc
      |  FROM pre, evens e WHERE pre.lang = 'en'
      |  UNION ALL
      |  SELECT 's4:{"lang":"all","level0":"web","tier":"dict"}_data_0',
      |    'data', n, sc FROM aux
      |  UNION ALL
      |  SELECT sid || ':' || prefix || '_metadata_gen', 'meta',
      |    CAST(1 AS BIGINT), CAST(-1 AS BIGINT) FROM pre
      |  UNION ALL
      |  SELECT sid || ':' || prefix || '_metadata_extra', 'meta', 7, -1
      |  FROM pre WHERE pre.lang = 'en'
      |  UNION ALL
      |  SELECT 's4:{"lang":"all","level0":"web","tier":"dict"}_metadata_gen',
      |    'meta', 1, -1
      |  UNION ALL
      |  -- the float-keyed prefix, CPython float notation verbatim
      |  SELECT 's5:{"big":1.5e+16,"eps":1e-05,"lang":"v2","level0":"web","thr":0.0001}_data_0',
      |    'data', n, sc FROM flt
      |  UNION ALL
      |  SELECT 's5:{"big":1.5e+16,"eps":1e-05,"lang":"v2","level0":"web","thr":0.0001}_metadata_gen',
      |    'meta', 1, -1)
      |SELECT entry_key, kind, v, sum_chars FROM rows_all
      |ORDER BY entry_key""".stripMargin

  /** ✚ batch web-curation pipeline capstone — the published
    * RefinedWeb/C4-style sequence run end-to-end as ONE dataflow, each
    * stage a named engine operator:
    *
    *   1. URL-keyed dedup ([[graft.ext.UrlOps]], q129's variant
    *      construction): one normalized key per page, min doc_id
    *      survives — one group-by + one semi join;
    *   2. the FUSED per-document filter stack — quality battery
    *      ([[graft.ext.QualityRules]]) ∧ repetition battery
    *      ([[graft.ext.RepetitionRules]]) ∧ hashed-linear classifier
    *      ([[graft.ext.TextClassifier]]) — all three are map-side
    *      scans, so the whole stack costs ONE pass over the text (the
    *      100 TB point of this gate: the per-doc filter stage of the
    *      published pipelines needs no shuffle at all). The flag
    *      frame is checkpointed narrow (booleans, no text) and the
    *      kept set re-joins the source scan by id;
    *   3. paragraph-level boilerplate scrub
    *      ([[graft.ext.ParagraphDedup]], organic cross-doc blocks);
    *   4. exact dedup on the CLEANED text (md5 group-by, min id — the
    *      scrub can only merge docs INTO exact equality, so this runs
    *      after it, as the published order does);
    *   5. q100's hash split + per-source rollup.
    *
    * Per-source drop counts at every stage, final split counts, token
    * mass and a clean-text fingerprint fold are all in the hash. The
    * oracle composes the stage arithmetic from the SAME CTE builders
    * as the per-operator gates (repetition families shared verbatim
    * via [[ExtensionQueries.repFamiliesCtes]]; URL chain, quality
    * rules, classifier formula, paragraph election and split
    * arithmetic replayed in their gate forms), so a drift in ANY
    * stage seam breaks the hash.
    *
    * Production note: at corpus scale each numbered stage would
    * materialize to storage between runs (the snapshot/exporter
    * faces); in-gate the frames flow in one job with the narrow flag
    * checkpoint as the only materialization.
    */
  /** Template for the exact-dup injection (%10 = 3): 55 plain words
    * engineered to pass all three filter batteries, suffixed with the
    * source so exact dups stay within a source group. The boilerplate
    * paragraph (%6 = 0) gives the scrub stage real mass; the two
    * residue classes are disjoint (10k+3 ≡ 0 mod 6 has no solution).
    */
  private val PipeTemplate: String =
    "the kept item that data with weekly book record steady reader " +
    "remain unit sure that list page agree page that list group group " +
    "panel be review view agree item review case form steady data kept " +
    "review goal goal panel be the list item have note panel remain " +
    "record archive be detail archive page for source"
  private val PipeBoiler: String =
    "\n\nshared boilerplate paragraph for the pipeline gate"

  def q136WebPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.{ParagraphDedup, QualityRules, RepetitionRules, TextClassifier, UrlOps}
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 10 === 3,
            concat(lit(PipeTemplate + " "), col("source")))
            .otherwise(col("text")),
          when(col("doc_id") % 6 === 0, lit(PipeBoiler)).otherwise(lit("")))
          .as("text"))
    // -- 1. URL-keyed dedup (q129's construction, min doc_id wins) --
    val page = (col("doc_id") % 50).cast("string")
    val url = concat(
      when(col("doc_id") % 2 === 0, "https").otherwise("http"),
      lit("://"),
      when(col("doc_id") % 3 === 0, "www.").otherwise(""),
      lit("host-"), col("source"),
      when(col("doc_id") % 3 === 1, ".example.co.uk")
        .otherwise(".example.com"),
      lit("/docs/"), page,
      when(col("doc_id") % 7 === 0, "/").otherwise(""),
      when(col("doc_id") % 5 === 0, concat(lit("?utm_source=feed&id="), page))
        .when(col("doc_id") % 4 === 0,
          concat(lit("?id="), page, lit("&utm_medium=x")))
        .otherwise(""),
      when(col("doc_id") % 11 === 0, "#sec").otherwise(""))
    val withNorm = docs.withColumn("norm", UrlOps.normalizeUrl(url))
    val urlWinners = withNorm.groupBy(col("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // each stage materializes once and every consumer (the rollup
    // branches AND the next stage) reads the materialization — the
    // production between-stage snapshot, in-gate as a checkpoint;
    // without it every rollup branch re-derives its stage from the
    // source scan (measured: 42 parquet scans in the un-checkpointed
    // plan vs 2 after)
    val s1 = docs.join(urlWinners, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    // -- 2. fused filter stack: ONE map-side pass, narrow checkpoint --
    val weights = (0 until 4096).map(i =>
      (i.toLong * 2654435761L) % 1000003L - 500001L)
    val flags = TextClassifier.score(
        RepetitionRules.battery(
          QualityRules.battery(s1).withColumnRenamed("keep", "q_keep"))
          .withColumnRenamed("keep", "rep_keep"),
        "text", weights, thrNum = 0L, thrDen = 1L)
      .select(col("doc_id"), col("source"), col("q_keep"),
        col("rep_keep"), col("clf_keep"),
        (col("q_keep") && col("rep_keep") && col("clf_keep")).as("f_keep"))
      .localCheckpoint(true)
    val s2 = s1.join(flags.filter(col("f_keep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // -- 3. paragraph scrub (organic boilerplate only) ---------------
    val scrubbed = ParagraphDedup.dedup(s2, "text", "doc_id")
      .select(col("doc_id"), col("source"), col("removed_paras"),
        col("clean_text"))
      .localCheckpoint(true)
    // -- 4. exact dedup on the cleaned text --------------------------
    val exactWinners = scrubbed.groupBy(md5(col("clean_text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val s3 = scrubbed.join(exactWinners, Seq("doc_id"), "left_semi")
    // -- 5. split + rollup -------------------------------------------
    val bucket = pmod(graft.ext.Dedup.hexHash(
      col("doc_id").cast("string"), "sp#"), lit(100L))
    val fin = s3
      .withColumn("split", when(bucket < 90, "train")
        .when(bucket < 95, "val").otherwise("test"))
      .withColumn("n_toks", size(split(col("clean_text"), " ")).cast("long"))
      .withColumn("fp",
        conv(substring(md5(col("clean_text")), 1, 6), 16, 10).cast("long"))
    val a = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val b = s1.groupBy(col("source")).agg(count(lit(1)).as("n_url_kept"))
    val c = flags.groupBy(col("source")).agg(
      sum(when(!col("q_keep"), 1L).otherwise(0L)).as("n_q_fail"),
      sum(when(!col("rep_keep"), 1L).otherwise(0L)).as("n_rep_fail"),
      sum(when(!col("clf_keep"), 1L).otherwise(0L)).as("n_clf_fail"),
      sum(when(col("f_keep"), 1L).otherwise(0L)).as("n_kept"))
    val d = scrubbed.groupBy(col("source"))
      .agg(sum(col("removed_paras")).cast("long").as("scrub_paras"))
    val e = fin.groupBy(col("source")).agg(
      count(lit(1)).as("n_final"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
      sum(col("n_toks")).as("tokens_final"),
      sum(col("fp")).as("clean_fp"))
    a.join(b, Seq("source"), "left")
      .join(c, Seq("source"), "left")
      .join(d, Seq("source"), "left")
      .join(e, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        (col("n_docs") - coalesce(col("n_url_kept"), lit(0L)))
          .as("n_url_dup"),
        coalesce(col("n_q_fail"), lit(0L)).as("n_q_fail"),
        coalesce(col("n_rep_fail"), lit(0L)).as("n_rep_fail"),
        coalesce(col("n_clf_fail"), lit(0L)).as("n_clf_fail"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("scrub_paras"), lit(0L)).as("scrub_paras"),
        (coalesce(col("n_kept"), lit(0L))
          - coalesce(col("n_final"), lit(0L))).as("n_exact_dup"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_val"), lit(0L)).as("n_val"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("tokens_final"), lit(0L)).as("tokens_final"),
        coalesce(col("clean_fp"), lit(0L)).as("clean_fp"))
      .orderBy(col("source"))
  }

  lazy val q136Sql: String = {
    val docs0 =
      s"""docs0 AS (
         |  SELECT doc_id, source,
         |    (CASE WHEN doc_id % 10 = 3
         |          THEN '$PipeTemplate ' || source
         |          ELSE text END) ||
         |    (CASE WHEN doc_id % 6 = 0
         |          THEN chr(10) || chr(10) || 'shared boilerplate paragraph for the pipeline gate'
         |          ELSE '' END) AS text
         |  FROM documents),""".stripMargin
    val urlChain =
      """u AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
        |    'host-' || source ||
        |    (CASE WHEN doc_id % 3 = 1 THEN '.example.co.uk' ELSE '.example.com' END) ||
        |    '/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
        |          WHEN doc_id % 4 = 0 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_medium=x'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM docs0),
        |nw AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(url,
        |    '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
        |    '^[^/?@]*@', ''), '^www\.', '') AS noww
        |  FROM u),
        |parts AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(noww, '^[^/?]*')),
        |      ':(80|443)$', '') AS host,
        |    regexp_replace(noww, '^[^/?]*', '') AS rest
        |  FROM nw),
        |pq AS (
        |  SELECT doc_id, host,
        |    CASE WHEN regexp_replace(rest, '\?.*$', '') = '/' THEN ''
        |         ELSE regexp_replace(regexp_replace(rest, '\?.*$', ''), '/$', '') END AS path,
        |    CASE WHEN contains(rest, '?') THEN regexp_replace(rest, '^[^?]*\?', '')
        |         ELSE '' END AS query
        |  FROM parts),
        |nrm AS (
        |  SELECT doc_id,
        |    host || path ||
        |      CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |           ELSE '' END AS norm
        |  FROM (
        |    SELECT *, list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND NOT (p LIKE 'utm\_%' ESCAPE '\'
        |        OR p LIKE 'fbclid=%' OR p LIKE 'gclid=%' OR p LIKE 'ref=%'
        |        OR p = 'fbclid' OR p = 'gclid' OR p = 'ref'))) AS kept
        |    FROM pq)),
        |win AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY norm),
        |s1 AS (
        |  SELECT d.doc_id, d.source, d.text FROM docs0 d
        |  WHERE d.doc_id IN (SELECT doc_id FROM win)),""".stripMargin
    val qualityChain =
      """qsig AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(replace(replace(text, ' ', ''), chr(10), '')) AS n_word_chars,
        |    len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    len(list_filter(string_split(text, chr(10)),
        |        l -> l LIKE '- %' OR l LIKE '* %' OR l = '-' OR l = '*')) AS n_bullet,
        |    len(list_filter(string_split(text, chr(10)),
        |        l -> l LIKE '%...')) AS n_ellipsis,
        |    len(list_filter(string_split(text, ' '),
        |        w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(list_filter(string_split(lower(text), ' '),
        |        w -> list_contains(['the','be','to','of','and','that','have','with'], w))) AS n_stop,
        |    (contains(text, '{') OR contains(text, '}')) AS has_brace,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem
        |  FROM s1),
        |qfl AS (
        |  SELECT doc_id,
        |    ((n_words >= 50 AND n_words <= 100000)
        |     AND (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
        |     AND (n_symbols * 10 <= n_words)
        |     AND (n_bullet * 10 <= n_lines * 9)
        |     AND (n_ellipsis * 10 <= n_lines * 3)
        |     AND (n_alpha * 5 >= n_words * 4)
        |     AND (n_stop >= 2)
        |     AND (NOT has_brace) AND (NOT has_lorem)) AS q_keep
        |  FROM qsig),""".stripMargin
    val repChain =
      """w AS (SELECT doc_id, source, string_split(text, ' ') AS w,
        |        length(text) AS chars,
        |        string_split(text, chr(10)) AS ls,
        |        string_split(text, chr(10) || chr(10)) AS ps
        |      FROM s1),
        |""".stripMargin +
        ExtensionQueries.repLineCte("w") + "\n" +
        ExtensionQueries.repFamiliesCtes("w") + "\n" +
        ExtensionQueries.repSigCte + ",\n" +
        s"""repfl AS (
           |  SELECT doc_id,
           |${ExtensionQueries.repFlagSql}
           |  FROM sig),
           |repk AS (
           |  SELECT doc_id,
           |    (r_dup_lines AND r_dup_paras AND r_dup_line_chars
           |     AND r_dup_para_chars AND r_top2gram AND r_top3gram
           |     AND r_top4gram AND r_dup5gram AND r_dup6gram AND r_dup7gram
           |     AND r_dup8gram AND r_dup9gram AND r_dup10gram) AS rep_keep
           |  FROM repfl),""".stripMargin
    val clfChain =
      """cf AS (
        |  SELECT doc_id,
        |    unnest(w || [w[i] || '_' || w[i+1] for i in range(1, len(w))]) AS g
        |  FROM w),
        |cs AS (
        |  SELECT doc_id,
        |    sum(((CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 4096)
        |         * 2654435761) % 1000003 - 500001) AS clf_sum
        |  FROM cf GROUP BY doc_id),
        |keepj AS (
        |  SELECT s1.doc_id, s1.source, s1.text, q.q_keep, r.rep_keep,
        |    (cs.clf_sum >= 0) AS clf_keep,
        |    (q.q_keep AND r.rep_keep AND cs.clf_sum >= 0) AS f_keep
        |  FROM s1
        |  JOIN qfl q ON q.doc_id = s1.doc_id
        |  JOIN repk r ON r.doc_id = s1.doc_id
        |  JOIN cs ON cs.doc_id = s1.doc_id),
        |s2 AS (SELECT doc_id, source, text FROM keepj WHERE f_keep),""".stripMargin
    val scrubChain =
      """sp AS (SELECT doc_id, source,
        |         string_split(text, chr(10) || chr(10)) AS ps FROM s2),
        |p AS (SELECT doc_id, u2.pos AS pos, u2.para AS para FROM (
        |        SELECT doc_id,
        |          unnest([{'pos': i - 1, 'para': ps[i]} for i in range(1, len(ps) + 1)]) AS u2
        |        FROM sp)),
        |el AS (SELECT doc_id, pos, md5(para) AS ph FROM p WHERE para <> ''),
        |own AS (SELECT ph, min(doc_id) AS owner FROM el GROUP BY ph),
        |rem AS (SELECT e2.doc_id, list_sort(list(e2.pos)) AS dp
        |        FROM el e2 JOIN own o ON e2.ph = o.ph WHERE e2.doc_id <> o.owner
        |        GROUP BY e2.doc_id),
        |cl AS (SELECT s.doc_id, s.source,
        |         coalesce(len(r.dp), 0) AS removed_paras,
        |         coalesce(array_to_string([s.ps[i] for i in range(1, len(s.ps) + 1)
        |            if NOT list_contains(coalesce(r.dp, []), i - 1)],
        |           chr(10) || chr(10)), '') AS clean_text
        |       FROM sp s LEFT JOIN rem r USING (doc_id)),
        |exw AS (SELECT min(doc_id) AS doc_id FROM cl GROUP BY md5(clean_text)),
        |s3 AS (SELECT * FROM cl WHERE doc_id IN (SELECT doc_id FROM exw)),
        |fin AS (
        |  SELECT doc_id, source,
        |    CASE WHEN CAST('0x'||substr(md5('sp#'||CAST(doc_id AS VARCHAR)),1,13) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST('0x'||substr(md5('sp#'||CAST(doc_id AS VARCHAR)),1,13) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_toks,
        |    CAST('0x' || substr(md5(clean_text), 1, 6) AS BIGINT) AS fp
        |  FROM s3),""".stripMargin
    val rollup =
      """agg_a AS (SELECT source, count(*) AS n_docs FROM docs0 GROUP BY source),
        |agg_b AS (SELECT source, count(*) AS n_url_kept FROM s1 GROUP BY source),
        |agg_c AS (SELECT source,
        |    sum(CASE WHEN NOT q_keep THEN 1 ELSE 0 END) AS n_q_fail,
        |    sum(CASE WHEN NOT rep_keep THEN 1 ELSE 0 END) AS n_rep_fail,
        |    sum(CASE WHEN NOT clf_keep THEN 1 ELSE 0 END) AS n_clf_fail,
        |    sum(CASE WHEN f_keep THEN 1 ELSE 0 END) AS n_kept
        |  FROM keepj GROUP BY source),
        |agg_d AS (SELECT source, sum(removed_paras) AS scrub_paras
        |  FROM cl GROUP BY source),
        |agg_e AS (SELECT source, count(*) AS n_final,
        |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
        |    sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val,
        |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test,
        |    sum(n_toks) AS tokens_final, sum(fp) AS clean_fp
        |  FROM fin GROUP BY source)
        |SELECT a.source, a.n_docs,
        |  CAST(a.n_docs - coalesce(b.n_url_kept, 0) AS BIGINT) AS n_url_dup,
        |  CAST(coalesce(c.n_q_fail, 0) AS BIGINT) AS n_q_fail,
        |  CAST(coalesce(c.n_rep_fail, 0) AS BIGINT) AS n_rep_fail,
        |  CAST(coalesce(c.n_clf_fail, 0) AS BIGINT) AS n_clf_fail,
        |  CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(d.scrub_paras, 0) AS BIGINT) AS scrub_paras,
        |  CAST(coalesce(c.n_kept, 0) - coalesce(e.n_final, 0) AS BIGINT) AS n_exact_dup,
        |  CAST(coalesce(e.n_final, 0) AS BIGINT) AS n_final,
        |  CAST(coalesce(e.n_train, 0) AS BIGINT) AS n_train,
        |  CAST(coalesce(e.n_val, 0) AS BIGINT) AS n_val,
        |  CAST(coalesce(e.n_test, 0) AS BIGINT) AS n_test,
        |  CAST(coalesce(e.tokens_final, 0) AS BIGINT) AS tokens_final,
        |  CAST(coalesce(e.clean_fp, 0) AS BIGINT) AS clean_fp
        |FROM agg_a a
        |LEFT JOIN agg_b b USING (source)
        |LEFT JOIN agg_c c USING (source)
        |LEFT JOIN agg_d d USING (source)
        |LEFT JOIN agg_e e USING (source)
        |ORDER BY source""".stripMargin
    "WITH " + docs0 + "\n" + urlChain + "\n" + qualityChain + "\n" +
      repChain + "\n" + clfChain + "\n" + scrubChain + "\n" + rollup
  }
}

package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: the measured scaling table behind BASELINE.md §"Scale
  * trend" — each headline operator shape timed at its bench scale and
  * at ~20× that scale, converting "the plan would survive 100×" from
  * audit opinion into wall-clock evidence.
  *
  * Methodology:
  *  - lineitem shapes (q1 aggregation, q5 star join, q88 quantile
  *    sketch) run on the sf0.1 table and on a 33×-replicated copy
  *    (~19.8 M rows) written with proper multi-row-group layout (the
  *    BASELINE.md relayout lesson: the sf0.1 single-row-group fixture
  *    is task-atomic, so big-side files are written repartitioned);
  *  - text shapes (q30 LSH near-dup pairs, q47 LSH→CC) run on a
  *    synthetic corpus drawn from one distribution (20 tokens/doc from
  *    a 50 k-word vocabulary, hash-derived = deterministic) at 100 k
  *    and 2 M docs. Replicating the REAL 5 k-doc fixture would be
  *    dishonest the other way: near-identical copies make near-dup
  *    density quadratic in the replication factor, so the measurement
  *    would price a pair explosion no real corpus has, not the
  *    operator. Constant per-doc dup density is the realistic shape;
  *  - graph shape (q91 chain CC) runs componentsStar on a path graph
  *    at 100 k and 2 M nodes — the adversarial maximum-diameter case,
  *    where rounds grow O(log n) and each round is two grouped-join
  *    shuffles.
  *
  * Each (shape, scale) is timed twice back-to-back on a warm JVM and
  * the SECOND time is reported (codegen/classload amortized — the
  * trend wants plan cost, not JIT noise). Output: one line per
  * (shape, scale, rows, sec) plus a ratio summary.
  */
object ScaleTrend {

  private def time(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = f
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** Deterministic synthetic corpus: docs of 20 tokens from a 50 k
    * vocabulary. Same distribution at every size, so two sizes differ
    * only in row count.
    */
  private def synthDocs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(20)),
        i => concat(lit("w"),
          pmod(xxhash64(col("id") * 20 + i), lit(50000L))))).as("text"))

  /** Generator-version token baked into every [[docsFixture]] path.
    * BUMP THIS whenever [[synthDocs]]' distribution changes (token
    * count, vocabulary, hash derivation): the `_SUCCESS`-existence
    * cache check can only vouch for "some run finished here", so the
    * path itself must encode WHICH generator wrote it — otherwise a
    * run silently reuses a stale corpus an older generator built.
    */
  private val GenVersion = "g1"

  /** Build-once big-docs fixture: one path scheme, one generator, one
    * cache — and the path carries [[GenVersion]], so a run can never
    * silently reuse a corpus a DIFFERENT GENERATOR VERSION wrote.
    * Returns the parquet path.
    */
  private def docsFixture(spark: SparkSession, n: Long,
                          out: String): String = {
    val path = s"$out/docs_${n}_$GenVersion"
    if (!new java.io.File(path + "/_SUCCESS").exists())
      synthDocs(spark, n).repartition(64)
        .write.mode("overwrite").parquet(path)
    path
  }

  /** Deterministic clustered embedding corpus (64 dims, float): vector
    * i sits near true center `i % numCenters`, center coordinates and
    * per-vector noise both hash-derived (no RNG — same vectors every
    * run). Clustered BY CONSTRUCTION so IVF centroid pruning has real
    * structure to find: uniform random vectors would make every
    * centroid equidistant and recall meaningless.
    */
  private val VecDims = 64
  private val VecCenters = 64
  private def synthVecs(spark: SparkSession, n: Long): DataFrame = {
    def u(seed: Column): Column = // hash → [-0.5, 0.5)
      (pmod(xxhash64(seed), lit(100000L)).cast("double") / 100000.0) - 0.5
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(VecDims - 1)), d => (
        u(pmod(col("id"), lit(VecCenters.toLong)) * VecDims + d)
          + u(col("id") * VecDims + d + 7777777L) * 0.1
        ).cast("float")).as("embedding"))
  }

  /** Build-once big-vectors fixture (same cache + version discipline
    * as [[docsFixture]]; bump on any [[synthVecs]] change).
    */
  private val VecGenVersion = "v1"
  private def vecsFixture(spark: SparkSession, n: Long,
                          out: String): String = {
    val path = s"$out/vecs_${n}_$VecGenVersion"
    if (!new java.io.File(path + "/_SUCCESS").exists())
      synthVecs(spark, n).repartition(64)
        .write.mode("overwrite").parquet(path)
    path
  }

  /** Build-once incremental-LSH index fixture: the docs fixture minus
    * its last `pct`% of ids, indexed with the scale rows' banding
    * (1/24/3). Same cache + path-version discipline as [[docsFixture]]
    * (the meta file doubles as the completeness marker).
    */
  private val LshShingleWidth = 1
  private val LshNumHashes = 24
  private val LshNumBands = 3

  /** THE corpus/batch split: corpus = doc_id < this, batch = the rest.
    * One definition — the index build, the ensure face, and the trend
    * runner's batch slices must never round differently (an overlap
    * would dedup docs against themselves; a gap would cover them with
    * neither slice).
    */
  private def incSplitFor(n: Long, pct: Int): Long = n - n * pct / 100

  /** The one path scheme + build invocation for the incremental-LSH
    * index fixtures — the trend runner's timed `lshidx_build` shape
    * and the ensure-style cache go through the SAME definitions, so
    * `lshinc` can never load an index a different banding built.
    */
  private def lshIndexFixturePath(out: String, n: Long,
                                  pct: Int): String =
    s"$out/lshidx_${n}_p${pct}_$GenVersion"

  /** One definition of the cc-labeling fixture path, so a GenVersion
    * bump re-keys the ccinc shape's labeling with its corpus.
    */
  private def ccLabelsFixturePath(out: String, n: Long,
                                  pct: Int): String =
    s"$out/cclabels_${n}_p${pct}_$GenVersion"

  private def buildLshIndexFixture(spark: SparkSession,
                                   docsPath: String, n: Long,
                                   out: String, pct: Int): String = {
    val path = lshIndexFixturePath(out, n, pct)
    graft.ext.LshIndex.build(spark, path,
      spark.read.parquet(docsPath)
        .filter(col("doc_id") < incSplitFor(n, pct)),
      "text", "doc_id", LshShingleWidth, LshNumHashes, LshNumBands)
    path
  }

  private def lshIndexFixture(spark: SparkSession, n: Long,
                              out: String, pct: Int): String = {
    val path = lshIndexFixturePath(out, n, pct)
    // isCompatible, not a bare existence check: a cached index written
    // by an older FORMAT version (e.g. pre-delta-counts v1) or other
    // banding must rebuild, not fail the shape's load. The predicate
    // (unlike loadOrBuild) performs NO load, so the shapes' single
    // timed load stays the only one — the recorded rows price exactly
    // one load per batch, the production shape.
    if (!graft.ext.LshIndex.isCompatible(spark, path, "doc_id",
        LshShingleWidth, LshNumHashes, LshNumBands))
      buildLshIndexFixture(spark, docsFixture(spark, n, out), n, out, pct)
    path
  }

  /** Path graph 0–(n−1): the maximum-diameter CC input. */
  private def chain(spark: SparkSession, n: Long): (DataFrame, DataFrame) = {
    val nodes = spark.range(n).select(col("id"))
    val edges = spark.range(n - 1).select(col("id").as("s"), (col("id") + 1).as("t"))
    (nodes, edges)
  }

  def main(args: Array[String]): Unit = {
    // args: [lineitemReplication] [docsBigN] [shapes] — defaults are
    // the r08 ~20-33× trend; `ScaleTrend 100 8000000` is the r09
    // ~80-100× point (60 M lineitem rows, 8 M docs). `shapes` is an
    // optional comma list filtering which shapes run (e.g.
    // `ScaleTrend 100 8000000 ivf,brute` measures only the embedding
    // family without re-running the whole table).
    val rep = args.headOption.map(_.toInt).getOrElse(33) // 600 k × 33 ≈ 19.8 M
    val docsSmallN = 100000L
    val docsBigN = args.drop(1).headOption.map(_.toLong).getOrElse(2000000L)
    val shapeFilter: String => Boolean = args.drop(2).headOption match {
      case Some(list) => val keep = list.split(",").toSet
        // exact name or underscore-prefix ("q30" → q30_lsh) — NOT bare
        // substring, which made `ivf` unselectable without `ivfsearch`
        s => keep.contains(s) || keep.exists(t => s.startsWith(t + "_"))
      case None => _ => true
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val spark = graft.SessionTuning.local(32,
      "spark.local.dir" -> (out + "/spark-tmp"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sf = "/root/testdata/sf0.1"

    // ---- build fixtures (idempotent: skip when present) -------------
    def ensure(path: String)(build: => Unit): Unit =
      if (!new java.io.File(path + "/_SUCCESS").exists()) build

    // fixtures build lazily per family, so a filtered run (e.g. just
    // `ivf,brute`) never pays for the families it skips
    val needLi = Seq("q1_agg", "q5_join", "q88_sketch").exists(shapeFilter)
    val needDocs = Seq("q30_lsh", "q47_cc", "q94_vocab", "q96_pack",
      "lshidx_build", "lshinc", "lshfull", "ccinc", "ccfull", "subdedup",
      "q125_battery", "urlnorm", "repbattery", "bloomdecon", "keywords",
      "paradedup", "cms", "fusedstack", "htmltext", "boilerp",
      "bpenat", "bpenat10k", "bpetrain",
      "bpetrainfast").exists(shapeFilter)
    val needFrontier = Seq("frontier").exists(shapeFilter)
    val needVecs = Seq("ivf", "ivfsearch", "brute", "qbuild", "qbrute",
      "srpidx_build", "srpinc", "srpfull", "semdedup",
      "pqbuild", "pqadc", "brutedot", "pqrerank",
      "pqresbuild", "pqresadc", "imgdedup").exists(shapeFilter)

    val liBig = s"$out/lineitem_x$rep"
    if (needLi) ensure(liBig) {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .withColumn("rep", explode(sequence(lit(1), lit(rep))))
        .repartition(64) // multi-file = multi-row-group = parallel scans
        .write.mode("overwrite").parquet(liBig)
    }
    // small-scale lineitem rewritten the same way (8 files) so the two
    // scales compare layout-for-layout, not 1-row-group vs 64 files
    val liSmall = s"$out/lineitem_x1"
    if (needLi) ensure(liSmall) {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .withColumn("rep", lit(1))
        .repartition(8)
        .write.mode("overwrite").parquet(liSmall)
    }
    // 8 files (not docsFixture's 64): the small point keeps the same
    // file-count ratio to its data as the lineitem x1 rewrite. The
    // path still carries GenVersion — same staleness guard.
    val docsSmall = s"$out/docs_small_$GenVersion"
    if (needDocs) ensure(docsSmall) {
      synthDocs(spark, docsSmallN).repartition(8)
        .write.mode("overwrite").parquet(docsSmall)
    }
    val docsBig = if (needDocs) docsFixture(spark, docsBigN, out) else ""
    // embedding fixtures share the docs scale points (100 k / big-N)
    val vecsSmall = if (needVecs) vecsFixture(spark, docsSmallN, out) else ""
    val vecsBig = if (needVecs) vecsFixture(spark, docsBigN, out) else ""

    // frontier fixtures: a persisted store whose seen set holds N
    // synthetic URLs over 1000 hosts (the growing side of foldRound's
    // anti-join). urlOf is shared by the store build and the batch
    // construction so the seen-hit half of each batch actually hits.
    def urlOf(uid: Column): Column = concat(
      lit("host-"), pmod(uid, lit(1000L)).cast("string"), lit(".test"),
      when(pmod(uid, lit(4L)) === 0, concat(lit("/p2/"), uid.cast("string")))
        .when(pmod(uid, lit(4L)) === 1,
          concat(lit("/private/ok/"), uid.cast("string")))
        .otherwise(concat(lit("/d/"), uid.cast("string"))))
    def frontierFixture(n: Long): String = {
      val p = s"$out/frontier_seen_$n"
      // guard on the store's OWN completeness marker (meta is written
      // last), not a frame's _SUCCESS: a create killed between the
      // frame commit and the meta publish must rebuild, not wedge
      // every later run on "meta missing"
      if (!new java.io.File(s"$p/_frontier_meta.json").exists())
        graft.ext.Frontier.create(spark, p,
          spark.range(n).select(urlOf(col("id")).as("nurl")))
      p
    }
    val frontSmall = if (needFrontier) frontierFixture(docsSmallN) else ""
    val frontBig = if (needFrontier) frontierFixture(docsBigN) else ""
    lazy val frontierRules = {
      val hosts = spark.range(1000).select(col("id").as("hk"),
        concat(lit("host-"), col("id").cast("string"), lit(".test"))
          .as("host"))
      hosts.select(col("host"), lit(false).as("allow"),
          lit("/private").as("pattern"))
        .unionAll(hosts.select(col("host"), lit(true),
          lit("/private/ok")))
        .unionAll(hosts.filter(col("hk") % 2 === 0)
          .select(col("host"), lit(false), lit("/p2*")))
    }
    lazy val frontierDelays = spark.range(1000).select(
      concat(lit("host-"), col("id").cast("string"), lit(".test"))
        .as("host"),
      (col("id") % 7 + 1).as("delay"))

    // ---- shapes -----------------------------------------------------
    def q1Shape(path: String): Long =
      spark.read.parquet(path)
        .filter(col("l_shipdate") <= lit("2000-12-31").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity").cast("decimal(18,4)")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2).as("sum_base"),
          count(lit(1)).as("n"))
        .count()

    def q5Shape(path: String): Long = {
      val li = spark.read.parquet(path)
      val ord = spark.read.parquet(s"$sf/orders.parquet")
      val cust = spark.read.parquet(s"$sf/customer.parquet")
      val supp = spark.read.parquet(s"$sf/supplier.parquet")
      val nat = spark.read.parquet(s"$sf/nation.parquet")
      li.join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey")
          && cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")), 2).as("revenue"))
        .count()
    }

    def q88Shape(path: String): Long = {
      val sketch = org.apache.spark.sql.functions.udaf(
        graft.ext.Sketches.quantileSketch[(Long, Double)](
          256, Seq(0.5, 0.9, 0.99))(_._1, _._2),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      spark.read.parquet(path).select(
          col("l_returnflag"),
          graft.ext.Dedup.hexHash(
            concat(col("l_orderkey").cast("string"), lit("#"),
              col("l_linenumber").cast("string"), lit("#"),
              col("rep").cast("string")), "qs#").as("hv"),
          col("l_extendedprice").cast("double").as("v"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sketch(col("hv"), col("v")).as("qs"))
        .count()
    }

    // maxBucketSize IS part of the scale story: at 2 M docs, tokens
    // whose (h1, h2) md5 pair is globally minimal win every slot of a
    // band for EVERY doc containing them, collapsing ~0.05% of the
    // corpus per such token into one bucket regardless of Jaccard —
    // measured here as ~1 k-doc buckets = ~500 k candidate pairs each,
    // tens of GB of self-join spill (the uncapped first run of this
    // tool filled the disk). This is precisely the degenerate-bucket
    // skew LshSkew.capBuckets exists for; a 100 TB deployment runs
    // capped, so the trend measurement does too (both scales, same
    // cap, apples-to-apples).
    val cap = 200

    def q30Shape(path: String): Long =
      graft.ext.Dedup.lshNearDupPairs(
        spark.read.parquet(path), "text", "doc_id",
        shingleWidth = 1, numHashes = 24, numBands = 3, threshold = 0.9,
        maxBucketSize = cap).count()

    def q47Shape(path: String): Long = {
      val docs = spark.read.parquet(path)
      val edges = graft.ext.Dedup.lshNearDupPairs(docs, "text", "doc_id",
          shingleWidth = 1, numHashes = 24, numBands = 3, threshold = 0.9,
          maxBucketSize = cap)
        .select(col("id_a").as("s"), col("id_b").as("t"))
      graft.ext.DupClusters.components(edges,
        docs.select(col("doc_id").as("id"))).count()
    }

    // incremental LSH (corpus-growth dedup): corpus = all but the last
    // batch-pct of ids, batch = that slice. `lshidx_build` prices the
    // ONE-TIME index build over the corpus, `lshinc` the per-batch
    // incremental dedup against the loaded index, `lshfull` the full
    // recompute it replaces — restricted to the same batch-touching
    // pairs (id_b ≥ split; ids ordered, batch = upper range), so the
    // two shapes' out-rows must MATCH. Threshold 0 ON PURPOSE: every
    // capped candidate survives the verify filter, so the printed
    // counts compare the candidate + cap machinery itself — at 0.9 the
    // synthetic corpus verifies zero pairs and the equality check would
    // be 0 == 0, gating nothing (the verified-VALUE equality is q109's
    // oracle on the real fixture; this row's check is candidate-level).
    // batch fraction (percent) via SPARK_GRAFT_INC_BATCH_PCT (default
    // 1): the crossover sweep re-runs the three shapes at 10/50% to
    // locate where incremental stops beating a rebuild
    val incBatchPct = sys.env.get("SPARK_GRAFT_INC_BATCH_PCT")
      .map(v => v.toIntOption.filter(p => p >= 1 && p <= 99).getOrElse(
        sys.error(s"SPARK_GRAFT_INC_BATCH_PCT='$v': expected an integer " +
          "1..99 (batch percent; 100 would leave an empty corpus)")))
      .getOrElse(1)
    def incSplit(n: Long): Long = incSplitFor(n, incBatchPct)
    // pct in the path (via the shared lshIndexFixturePath scheme): a
    // shape-filtered `lshinc`-only run must never hit an index another
    // batch fraction's build wrote
    def lshIdxBuildShape(docsPath: String, n: Long): Long = {
      buildLshIndexFixture(spark, docsPath, n, out, incBatchPct)
      incSplit(n)
    }
    def lshIncShape(path: String, n: Long): Long = {
      // through the ensure face, not a bare load: a shape-filtered
      // `lshinc`-only run must (re)build a missing or older-format
      // cached index instead of failing the probe
      val idx = graft.ext.LshIndex.load(spark,
        lshIndexFixture(spark, n, out, incBatchPct))
      graft.ext.LshIndex.incrementalPairs(idx,
        spark.read.parquet(path).filter(col("doc_id") >= incSplit(n)),
        "text", threshold = 0.0, maxBucketSize = cap)._1.count()
    }
    def lshFullShape(path: String, n: Long): Long =
      graft.ext.Dedup.lshNearDupPairs(spark.read.parquet(path), "text",
          "doc_id", LshShingleWidth, LshNumHashes, LshNumBands,
          threshold = 0.0, maxBucketSize = cap)
        .filter(col("id_b") >= incSplit(n)).count()

    // incremental SRP (corpus-growth embedding dedup) — the lshinc
    // rows' embedding twin over the clustered vecs fixture, same
    // split/pct env knob and the same capped-run posture: the
    // clustered geometry is DEGENERATE for sign buckets by
    // construction (a whole 125 k-vector cluster shares one sign
    // pattern per band at 8 M), so any sane cap drops the cluster
    // buckets and the row prices exactly what a capped production run
    // pays — the three corpus-frame scans, the stored-counts union
    // capping, and the guard anti-joins. Threshold −1 for the same
    // reason lshinc uses 0: every surviving candidate passes verify,
    // so srpinc's out-rows must MATCH srpfull's batch-restriction.
    val srpBandsN = 4
    val srpPlanesN = 8
    def srpIndexFixturePath(n: Long, pct: Int): String =
      s"$out/srpidx_${n}_p${pct}_$VecGenVersion"
    def srpIndexFixture(n: Long, vecsPath: String): String = {
      val path = srpIndexFixturePath(n, incBatchPct)
      if (!graft.ext.SrpIndex.isCompatible(spark, path, "vec_id",
          srpBandsN, srpPlanesN, VecDims))
        graft.ext.SrpIndex.build(spark, path,
          spark.read.parquet(vecsPath)
            .filter(col("vec_id") < incSplit(n)),
          "vec_id", "embedding", srpBandsN, srpPlanesN, VecDims)
      path
    }
    def srpIdxBuildShape(vecsPath: String, n: Long): Long = {
      graft.ext.SrpIndex.build(spark, srpIndexFixturePath(n, incBatchPct),
        spark.read.parquet(vecsPath).filter(col("vec_id") < incSplit(n)),
        "vec_id", "embedding", srpBandsN, srpPlanesN, VecDims)
      incSplit(n)
    }
    def srpIncShape(vecsPath: String, n: Long): Long = {
      val idx = graft.ext.SrpIndex.load(spark, srpIndexFixture(n, vecsPath))
      graft.ext.SrpIndex.incrementalPairs(idx,
        spark.read.parquet(vecsPath).filter(col("vec_id") >= incSplit(n)),
        threshold = -1.0, maxBucketSize = cap)._1.count()
    }
    def srpFullShape(vecsPath: String, n: Long): Long =
      graft.ext.Similarity.srpNearDupPairs(spark.read.parquet(vecsPath),
          threshold = -1.0, srpBandsN, srpPlanesN, VecDims,
          maxBucketSize = cap)
        .filter(col("id_b") >= incSplit(n)).count()

    // incremental dup-cluster election (q113's operator) vs the full
    // CC it replaces, over the SAME threshold-0/cap-200 pair graphs as
    // the lshinc/lshfull rows: `ccfull` re-runs componentsStar over
    // the corpus-wide pair graph (what every batch used to pay),
    // `ccinc` folds the batch's incremental pairs into a CACHED prior
    // labeling on the quotient graph (prior labels are a build-once
    // fixture, like the index — the one-time cost every later batch
    // amortizes)
    def ccLabelsFixture(docsPath: String, n: Long): String = {
      val path = ccLabelsFixturePath(out, n, incBatchPct)
      ensure(path) {
        val corpus = spark.read.parquet(docsPath)
          .filter(col("doc_id") < incSplit(n))
        val pairs = graft.ext.Dedup.lshNearDupPairs(corpus, "text", "doc_id",
          LshShingleWidth, LshNumHashes, LshNumBands,
          threshold = 0.0, maxBucketSize = cap)
        graft.ext.DupClusters.componentsStar(
            pairs.select(col("id_a").as("s"), col("id_b").as("t")),
            corpus.select(col("doc_id").as("id")), maxIter = 60)
          .write.mode("overwrite").parquet(path)
      }
      path
    }
    def ccIncShape(docsPath: String, n: Long): Long = {
      val prior = spark.read.parquet(ccLabelsFixture(docsPath, n))
      val idx = graft.ext.LshIndex.load(spark,
        lshIndexFixture(spark, n, out, incBatchPct))
      val batch = spark.read.parquet(docsPath)
        .filter(col("doc_id") >= incSplit(n))
      val (pairs, _) = graft.ext.LshIndex.incrementalPairs(idx, batch,
        "text", threshold = 0.0, maxBucketSize = cap)
      graft.ext.DupClusters.incrementalComponents(prior,
        batch.select(col("doc_id").as("id")),
        pairs.select(col("id_a").as("s"), col("id_b").as("t")),
        maxIter = 60).count()
    }
    def ccFullShape(docsPath: String, n: Long): Long = {
      val docs = spark.read.parquet(docsPath)
      val pairs = graft.ext.Dedup.lshNearDupPairs(docs, "text", "doc_id",
        LshShingleWidth, LshNumHashes, LshNumBands,
        threshold = 0.0, maxBucketSize = cap)
      graft.ext.DupClusters.componentsStar(
        pairs.select(col("id_a").as("s"), col("id_b").as("t")),
        docs.select(col("doc_id").as("id")), maxIter = 60).count()
    }

    def q91Shape(n: Long): Long = {
      val (nodes, edges) = chain(spark, n)
      graft.ext.DupClusters.componentsStar(edges, nodes, maxIter = 60).count()
    }

    // ---- embedding family (round 12: the IVF ScaleTrend row) --------
    // k=64 centroids seeded from the 64 lowest ids (one per true
    // center by construction), 3 Lloyd rounds, 20 corpus vectors as
    // queries, k=10 nearest, nprobe=4 — the q93 recall-gate dataflow
    // at corpus scale. Two prices are timed: `ivf` includes TRAINING
    // (the worst case — cold index), `ivfsearch` searches a
    // once-trained index (the amortized production cost: an index
    // trains once and serves many query batches).
    val vecK = 10
    val vecNumQ = 20
    val vecNprobe = 4
    def vecQueries(path: String): DataFrame =
      spark.read.parquet(path).filter(col("vec_id") < vecNumQ)

    def trainCentroids(path: String): DataFrame = {
      val corpus = spark.read.parquet(path)
      graft.ext.Similarity.kmeansTrain(corpus,
        corpus.filter(col("vec_id") < VecCenters.toLong), iters = 3,
        dims = VecDims)
    }

    // each shape stashes its (query, neighbor) result set (≤ numQ × k
    // rows — collecting it costs the same as the count it replaces),
    // so the recall computation reuses the timed runs' outputs instead
    // of re-paying training + both kNN passes per scale
    val knnResults =
      scala.collection.mutable.Map.empty[(String, String), Set[(Long, Long)]]
    def stash(shape: String, path: String, df: DataFrame): Long = {
      val pairs = df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      knnResults((shape, path)) = pairs
      pairs.size
    }

    // trained-centroid cache feeding ivfsearch: ivfShape's TIMED run
    // deposits its (deterministic, localCheckpointed) centroids so the
    // search-only shape neither retrains nor times training
    val trainedOnce = scala.collection.mutable.Map.empty[String, DataFrame]
    def ivfShape(path: String): Long = {
      val centroids = trainCentroids(path)
      trainedOnce(path) = centroids
      stash("ivf", path, graft.ext.Similarity.ivfKnn(
        spark.read.parquet(path), centroids, vecQueries(path),
        k = vecK, nprobe = vecNprobe))
    }

    def ivfSearchShape(path: String): Long = {
      val centroids = trainedOnce.getOrElseUpdate(path, trainCentroids(path))
      stash("ivfsearch", path, graft.ext.Similarity.ivfKnn(
        spark.read.parquet(path), centroids, vecQueries(path),
        k = vecK, nprobe = vecNprobe))
    }

    def bruteShape(path: String): Long =
      stash("brute", path, graft.ext.Similarity.bruteForceKnn(
        spark.read.parquet(path), vecQueries(path), k = vecK))

    // ---- int8-quantized embedding family (round 17) ----------------
    // `qbuild` prices the ONE-TIME quantize+write of the corpus (paid
    // once for a 4×-smaller scan thereafter); `qbrute` prices brute
    // top-k over the PERSISTED int8 corpus — graft.ext.Quantize's
    // memory-scale path vs `brute`'s float scan — with recall@10
    // graded against the same stashed float-brute floor. The fixture
    // carries VecGenVersion like every other cached corpus.
    def qvecsFixture(vpath: String, n: Long): String = {
      val dst = s"$out/qvecs_${n}_$VecGenVersion"
      ensure(dst) {
        graft.ext.Quantize.quantize(spark.read.parquet(vpath))
          .repartition(64).write.mode("overwrite").parquet(dst)
      }
      dst
    }
    def qbuildShape(vpath: String, n: Long): Long = {
      val dst = s"$out/qvecs_tmp_$n"
      graft.ext.Quantize.quantize(spark.read.parquet(vpath))
        .repartition(64).write.mode("overwrite").parquet(dst)
      spark.read.parquet(dst).count()
    }
    def qbruteShape(vpath: String, n: Long): Long = {
      val q = spark.read.parquet(qvecsFixture(vpath, n))
      stash("qbrute", vpath, graft.ext.Quantize.bruteForceKnnQuantized(
        q, q.filter(col("vec_id") < vecNumQ), k = vecK,
        preQuantized = true))
    }

    /** recall@10 of a stashed kNN result vs the stashed brute floor
      * (defined only when both that shape and brute ran on `path`).
      */
    def ivfRecall(shape: String, path: String): Option[Double] =
      for {
        got <- knnResults.get((shape, path))
        truth <- knnResults.get(("brute", path))
      } yield got.intersect(truth).size.toDouble / truth.size

    // q94: two bounded shuffles (vocab groupBy, per-doc agg) + a
    // broadcast of the top-V vocab — the corpus token stream never
    // shuffles for scoring
    def q94Shape(path: String): Long = {
      val toks = spark.read.parquet(path)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(500)
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          count(when(col("cnt").isNull, 1)).as("n_oov"))
        .count()
    }

    // q96: one co-locating shuffle + sorted streaming scan, O(1) state
    def q96Shape(path: String): Long =
      spark.read.parquet(path)
        .select(pmod(col("doc_id"), lit(64)).cast("int").as("shard"),
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .repartition(64, col("shard"))
        .sortWithinPartitions(col("shard"), col("doc_id"))
        .as[(Int, Long, Long)]
        .mapPartitions { it =>
          var curShard = Int.MinValue
          var pack = 0L
          var acc = 0L
          it.map { case (sh, id, n) =>
            if (sh != curShard) { curShard = sh; pack = 0L; acc = 0L }
            if (acc + n > 512L && acc > 0) { pack += 1; acc = 0L }
            acc += n
            (sh, id, n, pack)
          }
        }
        .toDF("shard", "doc_id", "n_tokens", "pack_id")
        .count()

    // substring-level exact dedup (q123's operator at corpus scale):
    // every 100th doc carries a shared 10-token boilerplate tail
    // (3 duplicate 8-token windows each — removed mass proportional
    // to the corpus, min-doc occurrence kept), so the shape prices
    // ALL stages with real work: map-side window hashing (~13
    // windows/doc), the one hash group-by election, the id-keyed
    // join back, and the span-removal sweep + full text
    // reconstruction (sum(length(clean_text)) forces it per doc)
    def subdedupShape(path: String): Long = {
      val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
      val docs = spark.read.parquet(path).select(col("doc_id"),
        when(col("doc_id") % 100 === 0, concat(col("text"), lit(" " + boiler)))
          .otherwise(col("text")).as("text"))
      graft.ext.SubstringDedup.dedup(docs, "text", "doc_id", k = 8)
        .agg(sum(col("removed_tokens")).as("rt"),
             sum(length(col("clean_text"))).as("b"))
        .head().getLong(0)
    }

    // quality-rule battery (q125's operator): the full nine-rule scan
    // — one pass, no shuffle; the count forces every flag per doc
    def q125Shape(path: String): Long =
      graft.ext.QualityRules.battery(spark.read.parquet(path))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)))
        .head.getLong(0)

    // URL canonicalization (q129's operator): the gate's variant
    // construction at corpus scale, normalize + registered domain +
    // the dedup group-by on the canonical key
    def urlnormShape(path: String): Long = {
      val page = (col("doc_id") % 100000).cast("string")
      val url = concat(
        when(col("doc_id") % 2 === 0, "https").otherwise("http"),
        lit("://"),
        when(col("doc_id") % 3 === 0, "www.").otherwise(""),
        lit("host-"), (col("doc_id") % 500).cast("string"),
        when(col("doc_id") % 3 === 1, ".example.co.uk")
          .otherwise(".example.com"),
        lit("/docs/"), page,
        when(col("doc_id") % 7 === 0, "/").otherwise(""),
        when(col("doc_id") % 5 === 0, concat(lit("?utm_source=feed&id="), page))
          .when(col("doc_id") % 4 === 0,
            concat(lit("?id="), page, lit("&utm_medium=x")))
          .otherwise(""),
        when(col("doc_id") % 11 === 0, "#sec").otherwise(""))
      spark.read.parquet(path).select(url.as("url"))
        .select(graft.ext.UrlOps.normalizeUrl(col("url")).as("n"),
          graft.ext.UrlOps.registeredDomain(col("url")).as("d"))
        .groupBy(col("n")).agg(count(lit(1)).as("c"),
          countDistinct(col("d")).as("nd"))
        .count()
    }

    // Gopher repetition battery (q134's operator): the thirteen-rule
    // scan — nine codegen'd gram passes + line/paragraph masses, one
    // pass, no shuffle; %10 docs get injected duplicate lines so the
    // line rules have real mass to elect. Text is re-synthesized at
    // 60 tokens from the fixture ids: on the 20-token fixture docs a
    // SINGLETON 4-gram already covers > 16% of characters, so the
    // paper-faithful top-4-gram rule rejects every document and the
    // keep count degenerates to 0 (the battery targets web-length
    // docs; its companion word-count rule would gate these first)
    def repbatteryShape(path: String): Long =
      graft.ext.RepetitionRules.battery(
        spark.read.parquet(path).select(col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(concat_ws(" ", transform(sequence(lit(1), lit(60)),
              i => concat(lit("w"),
                pmod(xxhash64(col("doc_id") * 60 + i), lit(50000L))))),
              lit("\nthe same line\nthe same line\nthe same line")))
            .otherwise(concat_ws(" ", transform(sequence(lit(1), lit(60)),
              i => concat(lit("w"),
                pmod(xxhash64(col("doc_id") * 60 + i), lit(50000L))))))
            .as("text")))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)))
        .head.getLong(0)

    // bloom decontamination (q130's operator): build the filter once
    // from a ~0.1% benchmark slice (driver-side fold, tiny), then the
    // broadcast map-side flag scan over the corpus
    def bloomdeconShape(path: String): Long = {
      val docs = spark.read.parquet(path)
      val ref = docs.filter(col("doc_id") % 997 === 0)
        .select(explode(array_distinct(
          graft.ext.TextStats.ngrams(col("text"), 5))).as("gram"))
        .distinct()
      val bloom = graft.ext.BloomDecontam.build(ref, "gram",
        mBits = 1 << 22, k = 3)
      graft.ext.BloomDecontam.flagDocs(docs, "text", 5, bloom)
        .agg(sum(when(col("contaminated"), 1L).otherwise(0L)))
        .head.getLong(0)
    }

    // tf-idf keywords (q131's operator): per-doc top-3 salient terms —
    // the (doc, term) tf group-by, the df group-by, and the partial
    // top-k; count forces the full ranking
    def keywordsShape(path: String): Long =
      graft.ext.Keywords.tfidfTopK(
        spark.read.parquet(path), "text", "doc_id", k = 3).count()

    // paragraph dedup (q132's operator): %100 docs share an injected
    // boilerplate block; hash election + reassembly, text shuffles
    // only at the final id-keyed join
    def paradedupShape(path: String): Long = {
      val boiler = "\n\nshared license paragraph for the scale probe"
      val docs = spark.read.parquet(path).select(col("doc_id"),
        when(col("doc_id") % 100 === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")).as("text"))
      graft.ext.ParagraphDedup.dedup(docs, "text", "doc_id")
        .agg(sum(col("removed_paras")).as("rp"),
             sum(length(col("clean_text"))).as("b"))
        .head().getLong(0)
    }

    // the FUSED per-doc filter stack (q136's stage 2): quality ∧
    // repetition ∧ classifier in ONE pass — prices the claim that
    // stacking the three map-side batteries costs one scan, not
    // three (compare against the repbattery/q125 rows; the classifier
    // uses the gate's 4096 formula weights)
    def fusedstackShape(path: String): Long = {
      val weights = (0 until 4096).map(i =>
        (i.toLong * 2654435761L) % 1000003L - 500001L)
      // stopwords appended so the quality battery's stop-word floor
      // has real mass to pass (the synthetic vocabulary has none)
      val docs = spark.read.parquet(path).select(col("doc_id"),
        concat(concat_ws(" ", transform(sequence(lit(1), lit(60)),
          i => concat(lit("w"),
            pmod(xxhash64(col("doc_id") * 60 + i), lit(50000L))))),
          lit(" the of and to be with")).as("text"))
      graft.ext.TextClassifier.score(
          graft.ext.RepetitionRules.battery(
            graft.ext.QualityRules.battery(docs)
              .withColumnRenamed("keep", "q_keep"))
            .withColumnRenamed("keep", "rep_keep"),
          "text", weights, thrNum = 0L, thrDen = 1L)
        .agg(sum(when(col("q_keep") && col("rep_keep") && col("clf_keep"),
          1L).otherwise(0L)))
        .head.getLong(0)
    }

    // count-min heavy hitters (q138's operator): the bounded sketch
    // build (one <= d*w-row aggregation over the bigram stream) plus
    // the map-side candidate scan at 1/512 of total
    def cmsShape(path: String): Long = {
      val grams = spark.read.parquet(path)
        .select(explode(graft.ext.TextStats.ngrams(col("text"), 2)).as("g"))
      val sk = graft.ext.CountMin.build(grams, "g", width = 4096, depth = 3)
      graft.ext.CountMin.heavyHitterCandidates(grams, "g", sk, 1L, 512L)
        .count()
    }

    // SemDeDup (q133's operator): seeded-partition assignment (the
    // kmeans training cost is the ivf family's row), within-cluster
    // candidate pairs + cosine verify + survivor election. K scales
    // with n (the paper's practice — constant cluster density) but is
    // capped at 8192: NearestCentroid's flat scan prices assignment at
    // O(K·dims) per row, the documented CPU bound of this path.
    def semdedupShape(path: String, n: Long): Long = {
      val vecs = spark.read.parquet(path)
      val k = math.min(8192L, math.max(16L, n / 256L))
      val (surv, census) = graft.ext.SemDedup.assignedSurvivorsWithStats(
        vecs, vecs.filter(col("vec_id") < k), threshold = 0.999)
      require(!census.anyDropped, "semdedup trend: cluster cap hit")
      surv.agg(sum(when(col("keep"), 1L).otherwise(0L))).head.getLong(0)
    }

    // ---- run: twice per (shape, scale), report the second -----------
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Double)]
    def run(shape: String, scale: String, rows: Long)(f: => Long): Unit =
      if (shapeFilter(shape)) {
        time(f) // warm
        val (sec, outRows) = time(f)
        results += ((shape, scale, rows, sec))
        println(f"$shape%-10s $scale%-8s ${rows}%12d rows  $sec%8.2f s  ($outRows out)")
      }

    run("q1_agg", "x1", 600000L)(q1Shape(liSmall))
    run("q1_agg", s"x$rep", 600000L * rep)(q1Shape(liBig))
    run("q5_join", "x1", 600000L)(q5Shape(liSmall))
    run("q5_join", s"x$rep", 600000L * rep)(q5Shape(liBig))
    run("q88_sketch", "x1", 600000L)(q88Shape(liSmall))
    run("q88_sketch", s"x$rep", 600000L * rep)(q88Shape(liBig))
    run("q30_lsh", "small", docsSmallN)(q30Shape(docsSmall))
    run("q30_lsh", "big", docsBigN)(q30Shape(docsBig))
    run("q47_cc", "small", docsSmallN)(q47Shape(docsSmall))
    run("q47_cc", "big", docsBigN)(q47Shape(docsBig))
    run("lshidx_build", "small", docsSmallN)(lshIdxBuildShape(docsSmall, docsSmallN))
    run("lshidx_build", "big", docsBigN)(lshIdxBuildShape(docsBig, docsBigN))
    run("lshinc", "small", docsSmallN)(lshIncShape(docsSmall, docsSmallN))
    run("lshinc", "big", docsBigN)(lshIncShape(docsBig, docsBigN))
    run("lshfull", "small", docsSmallN)(lshFullShape(docsSmall, docsSmallN))
    run("lshfull", "big", docsBigN)(lshFullShape(docsBig, docsBigN))
    run("ccinc", "small", docsSmallN)(ccIncShape(docsSmall, docsSmallN))
    run("ccinc", "big", docsBigN)(ccIncShape(docsBig, docsBigN))
    run("ccfull", "small", docsSmallN)(ccFullShape(docsSmall, docsSmallN))
    run("ccfull", "big", docsBigN)(ccFullShape(docsBig, docsBigN))
    run("q91_star", "small", docsSmallN)(q91Shape(docsSmallN))
    run("q91_star", "big", docsBigN)(q91Shape(docsBigN))
    run("q94_vocab", "small", docsSmallN)(q94Shape(docsSmall))
    run("q94_vocab", "big", docsBigN)(q94Shape(docsBig))
    run("q96_pack", "small", docsSmallN)(q96Shape(docsSmall))
    run("q96_pack", "big", docsBigN)(q96Shape(docsBig))
    run("subdedup", "small", docsSmallN)(subdedupShape(docsSmall))
    run("subdedup", "big", docsBigN)(subdedupShape(docsBig))
    run("q125_battery", "small", docsSmallN)(q125Shape(docsSmall))
    run("q125_battery", "big", docsBigN)(q125Shape(docsBig))
    run("urlnorm", "small", docsSmallN)(urlnormShape(docsSmall))
    run("urlnorm", "big", docsBigN)(urlnormShape(docsBig))
    run("repbattery", "small", docsSmallN)(repbatteryShape(docsSmall))
    run("repbattery", "big", docsBigN)(repbatteryShape(docsBig))
    run("bloomdecon", "small", docsSmallN)(bloomdeconShape(docsSmall))
    run("bloomdecon", "big", docsBigN)(bloomdeconShape(docsBig))
    run("keywords", "small", docsSmallN)(keywordsShape(docsSmall))
    run("keywords", "big", docsBigN)(keywordsShape(docsBig))
    run("paradedup", "small", docsSmallN)(paradedupShape(docsSmall))
    run("paradedup", "big", docsBigN)(paradedupShape(docsBig))
    run("cms", "small", docsSmallN)(cmsShape(docsSmall))
    run("cms", "big", docsBigN)(cmsShape(docsBig))
    run("fusedstack", "small", docsSmallN)(fusedstackShape(docsSmall))
    run("fusedstack", "big", docsBigN)(fusedstackShape(docsBig))
    run("semdedup", "small", docsSmallN)(semdedupShape(vecsSmall, docsSmallN))
    run("semdedup", "big", docsBigN)(semdedupShape(vecsBig, docsBigN))
    run("ivf", "small", docsSmallN)(ivfShape(vecsSmall))
    run("ivf", "big", docsBigN)(ivfShape(vecsBig))
    run("ivfsearch", "small", docsSmallN)(ivfSearchShape(vecsSmall))
    run("ivfsearch", "big", docsBigN)(ivfSearchShape(vecsBig))
    run("brute", "small", docsSmallN)(bruteShape(vecsSmall))
    run("brute", "big", docsBigN)(bruteShape(vecsBig))
    run("qbuild", "small", docsSmallN)(qbuildShape(vecsSmall, docsSmallN))
    run("qbuild", "big", docsBigN)(qbuildShape(vecsBig, docsBigN))
    run("qbrute", "small", docsSmallN)(qbruteShape(vecsSmall, docsSmallN))
    run("qbrute", "big", docsBigN)(qbruteShape(vecsBig, docsBigN))
    // on-disk footprint of the int8 face vs the float corpus — the
    // 4×-smaller-scan claim, measured (prints only when qbrute ran)
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      if (d.exists) d.listFiles.filter(_.isFile).map(_.length).sum else 0L
    }
    if (shapeFilter("qbrute"))
      for ((vpath, n) <- Seq((vecsSmall, docsSmallN), (vecsBig, docsBigN))
           if vpath.nonEmpty) {
        val fb = dirBytes(vpath)
        val qb = dirBytes(s"$out/qvecs_${n}_$VecGenVersion")
        if (fb > 0 && qb > 0)
          println(f"int8 footprint @$n%d: float ${fb / 1e6}%.1f MB -> " +
            f"int8 ${qb / 1e6}%.1f MB (${fb.toDouble / qb}%.2fx smaller)")
      }
    // ---- product-quantization family (round 18) ---------------------
    // `pqbuild` prices the one-time train(m=8 codebooks, 2 Lloyd
    // rounds each)+encode+write; `pqadc` prices ADC top-k over the
    // PERSISTED codes (the 32×-narrower scan — 8 longs vs 64 floats
    // before parquet encoding), graded against `brutedot` (exact
    // INNER-PRODUCT brute, PQ's metric — distinct from `brute`'s
    // cosine floor); `pqrerank` is the deployment shape: a wide
    // (10×k) ADC pass + exact float re-rank of just the candidates.
    // Codebook training is deterministic (rounded Lloyd), so a fresh
    // session retrains bit-identical codebooks for a cached codes
    // fixture.
    val pqM = 8
    def vecQuerySeq(path: String): Seq[(Long, Array[Double])] =
      vecQueries(path)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val pqCbCache = scala.collection.mutable.Map.empty[String, graft.ext.Pq.Codebooks]
    def pqTrain(vpath: String): graft.ext.Pq.Codebooks =
      pqCbCache.getOrElseUpdate(vpath, {
        val corpus = spark.read.parquet(vpath)
        graft.ext.Pq.trainCodebooks(corpus,
          corpus.filter(col("vec_id") < 16L), m = pqM, dims = VecDims,
          iters = 2)
      })
    def pqCodesFixture(vpath: String, n: Long): String = {
      val dst = s"$out/pqcodes_${n}_m${pqM}_$VecGenVersion"
      ensure(dst) {
        graft.ext.Pq.encode(spark.read.parquet(vpath), pqTrain(vpath),
            VecDims)
          .select(col("vec_id"), col("pq_codes"))
          .repartition(64).write.mode("overwrite").parquet(dst)
      }
      dst
    }
    def pqbuildShape(vpath: String, n: Long): Long = {
      val dst = s"$out/pqcodes_tmp_$n"
      val corpus = spark.read.parquet(vpath)
      val cbs = graft.ext.Pq.trainCodebooks(corpus,
        corpus.filter(col("vec_id") < 16L), m = pqM, dims = VecDims,
        iters = 2)
      graft.ext.Pq.encode(corpus, cbs, VecDims)
        .select(col("vec_id"), col("pq_codes"))
        .repartition(64).write.mode("overwrite").parquet(dst)
      spark.read.parquet(dst).count()
    }
    def brutedotShape(vpath: String): Long =
      stash("brutedot", vpath, graft.ext.Pq.bruteDotKnn(
        spark.read.parquet(vpath), vecQuerySeq(vpath), k = vecK))
    def pqadcShape(vpath: String, n: Long): Long = {
      val codes = spark.read.parquet(pqCodesFixture(vpath, n))
      stash("pqadc", vpath, graft.ext.Pq.adcKnn(codes, pqTrain(vpath),
        vecQuerySeq(vpath), k = vecK))
    }
    def pqrerankShape(vpath: String, n: Long): Long = {
      val codes = spark.read.parquet(pqCodesFixture(vpath, n))
      stash("pqrerank", vpath, graft.ext.Pq.rerankKnn(codes,
        spark.read.parquet(vpath), pqTrain(vpath), vecQuerySeq(vpath),
        k = vecK, candidates = 10 * vecK))
    }
    run("pqbuild", "small", docsSmallN)(pqbuildShape(vecsSmall, docsSmallN))
    run("pqbuild", "big", docsBigN)(pqbuildShape(vecsBig, docsBigN))
    run("brutedot", "small", docsSmallN)(brutedotShape(vecsSmall))
    run("brutedot", "big", docsBigN)(brutedotShape(vecsBig))
    run("pqadc", "small", docsSmallN)(pqadcShape(vecsSmall, docsSmallN))
    run("pqadc", "big", docsBigN)(pqadcShape(vecsBig, docsBigN))
    run("pqrerank", "small", docsSmallN)(pqrerankShape(vecsSmall, docsSmallN))
    run("pqrerank", "big", docsBigN)(pqrerankShape(vecsBig, docsBigN))
    // ---- residual IVF-PQ (round 19) ----------------------------------
    // the true FAISS shape at corpus scale: coarse centroids = one
    // corpus member per natural cluster (vec_id < 64 ≡ one per
    // residue class), residual codebooks seeded from [64, 80) (the
    // coarse members' own residuals are exactly zero), nprobe=4 of
    // 64. `pqresbuild` prices assign+train+encode+write; `pqresadc`
    // the probe-gated ADC search over persisted (codes, centroid_id).
    val pqResCbCache = scala.collection.mutable.Map.empty[String, graft.ext.Pq.Codebooks]
    def pqResCents(vpath: String): DataFrame =
      spark.read.parquet(vpath).filter(col("vec_id") < 64L)
    def pqResTrain(vpath: String): graft.ext.Pq.Codebooks =
      pqResCbCache.getOrElseUpdate(vpath, {
        val corpus = spark.read.parquet(vpath)
        val cents = pqResCents(vpath)
        // materialize once — training re-reads the corpus 8 subspaces
        // × 2 rounds times, and the residual frame is a join
        val res = graft.ext.Pq.residuals(
          graft.ext.Similarity.assignToCentroids(corpus, cents), cents)
          .localCheckpoint(true)
        val cbs = graft.ext.Pq.trainCodebooks(res,
          res.filter(col("vec_id") >= 64L && col("vec_id") < 80L),
          m = pqM, dims = VecDims, iters = 2)
        res.unpersist()
        cbs
      })
    def pqResCodesFixture(vpath: String, n: Long): String = {
      val dst = s"$out/pqrescodes_${n}_m${pqM}_$VecGenVersion"
      ensure(dst) {
        val cents = pqResCents(vpath)
        val res = graft.ext.Pq.residuals(
          graft.ext.Similarity.assignToCentroids(
            spark.read.parquet(vpath), cents), cents)
        graft.ext.Pq.encode(res, pqResTrain(vpath), VecDims)
          .select(col("vec_id"), col("pq_codes"), col("centroid_id"))
          .repartition(64).write.mode("overwrite").parquet(dst)
      }
      dst
    }
    def pqresbuildShape(vpath: String, n: Long): Long = {
      val dst = s"$out/pqrescodes_tmp_$n"
      val corpus = spark.read.parquet(vpath)
      val cents = pqResCents(vpath)
      val res = graft.ext.Pq.residuals(
        graft.ext.Similarity.assignToCentroids(corpus, cents), cents)
        .localCheckpoint(true)
      val cbs = graft.ext.Pq.trainCodebooks(res,
        res.filter(col("vec_id") >= 64L && col("vec_id") < 80L),
        m = pqM, dims = VecDims, iters = 2)
      graft.ext.Pq.encode(res, cbs, VecDims)
        .select(col("vec_id"), col("pq_codes"), col("centroid_id"))
        .repartition(64).write.mode("overwrite").parquet(dst)
      res.unpersist()
      spark.read.parquet(dst).count()
    }
    def pqresadcShape(vpath: String, n: Long): Long = {
      val codes = spark.read.parquet(pqResCodesFixture(vpath, n))
      stash("pqresadc", vpath, graft.ext.Pq.ivfResidualAdcKnn(codes,
        pqResCents(vpath), pqResTrain(vpath), vecQuerySeq(vpath),
        k = vecK, nprobe = 4))
    }
    // ---- exact-Hamming perceptual dedup (round 19) --------------------
    // the banding operator at hash level (the codec cost is per-row
    // and embarrassingly parallel — the SCALE question is the banded
    // self-join): clusters of 4 identical 64-bit hashes with 1-bit
    // perturbations, nearDupPairs at t=2, COMPLETE by pigeonhole
    def imgdedupShape(n: Long): Long = {
      val df = spark.range(n).select(col("id"),
        expr(s"xxhash64(cast(id % ${n / 4} as string))")
          .bitwiseXOR(when(col("id") % 4 === 0, lit(0L))
            .otherwise(expr("shiftleft(1L, cast(id % 13 as int))")))
          .as("dhash"))
      graft.ext.ImageDedup.nearDupPairs(df, "id", "dhash", maxHamming = 2)
        .count()
    }
    run("imgdedup", "small", docsSmallN)(imgdedupShape(docsSmallN))
    run("imgdedup", "big", docsBigN)(imgdedupShape(docsBigN))

    run("pqresbuild", "small", docsSmallN)(pqresbuildShape(vecsSmall, docsSmallN))
    run("pqresbuild", "big", docsBigN)(pqresbuildShape(vecsBig, docsBigN))
    run("pqresadc", "small", docsSmallN)(pqresadcShape(vecsSmall, docsSmallN))
    run("pqresadc", "big", docsBigN)(pqresadcShape(vecsBig, docsBigN))
    if (shapeFilter("pqadc"))
      for ((vpath, n) <- Seq((vecsSmall, docsSmallN), (vecsBig, docsBigN))
           if vpath.nonEmpty) {
        val fb = dirBytes(vpath)
        val qb = dirBytes(s"$out/qvecs_${n}_$VecGenVersion")
        val pb = dirBytes(s"$out/pqcodes_${n}_m${pqM}_$VecGenVersion")
        if (fb > 0 && pb > 0)
          println(f"pq footprint @$n%d: float ${fb / 1e6}%.1f MB -> " +
            (if (qb > 0) f"int8 ${qb / 1e6}%.1f MB -> " else "") +
            f"pq ${pb / 1e6}%.1f MB (${fb.toDouble / pb}%.2fx smaller than float)")
      }
    def pqRecall(shape: String, vpath: String): Option[Double] =
      for {
        got <- knnResults.get((shape, vpath))
        truth <- knnResults.get(("brutedot", vpath))
      } yield got.intersect(truth).size.toDouble / truth.size
    // id-level recall vs exact dot saturates on this fixture's
    // geometry (64 tight natural clusters: within-cluster noise is
    // SMALLER than PQ's reconstruction error, so all ~n/64 cluster
    // members near-tie and picking the true top-10 among them is a
    // lottery — rerank's measured recall reproduces
    // candidates/cluster-size arithmetic). The informative quality
    // dial here is CLUSTER hit rate: did the quantized search land in
    // the query's true region (neighbor and query share the
    // generator's natural cluster id mod VecCenters)?
    def pqClusterHit(shape: String, vpath: String): Option[Double] =
      knnResults.get((shape, vpath)).map { pairs =>
        pairs.count(p =>
          p._1 % VecCenters == p._2 % VecCenters).toDouble / pairs.size
      }
    for {
      shape <- Seq("pqadc", "pqrerank", "pqresadc")
      rSmall <- pqRecall(shape, vecsSmall)
      rBig <- pqRecall(shape, vecsBig)
    } println(f"$shape%s recall@$vecK vs brutedot floor: " +
      f"small $rSmall%.3f  big $rBig%.3f")
    for {
      shape <- Seq("brutedot", "pqadc", "pqrerank", "pqresadc")
      hSmall <- pqClusterHit(shape, vecsSmall)
      hBig <- pqClusterHit(shape, vecsBig)
    } println(f"$shape%s cluster-hit@$vecK: " +
      f"small $hSmall%.3f  big $hBig%.3f")

    // ---- BPE tokenizer family (round 18) ----------------------------
    // the native min-rank expression (`bpenat`, plan-attached rank map
    // + per-thread word memo) on a 9-merge table TRAINED on the small
    // corpus, plus a production-size 10k-merge table (`bpenat10k`).
    // `bpetrain` prices 3 training iterations (1 corpus scan + 3
    // vocab-only rounds). Both applied tables are over the corpus's
    // REAL alphabet (w + digits) so merges actually FIRE.
    lazy val bpe9: Seq[(String, String)] = graft.ext.BpeTrainer.mergeTable(
      graft.ext.BpeTrainer.train(
        spark.read.parquet(docsSmall), "text", nMerges = 9))
    def bpe10k: Seq[(String, String)] = {
      val rnd = new scala.util.Random(7L)
      val produced = scala.collection.mutable.ArrayBuffer(
        "w", "0", "1", "2", "3", "4", "5", "6", "7", "8", "9")
      val seen = scala.collection.mutable.Set.empty[(String, String)]
      val outB = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (outB.size < 10000) {
        val l = produced(rnd.nextInt(produced.size))
        val r = produced(rnd.nextInt(produced.size))
        if (l.length + r.length <= 6 && seen.add((l, r))) {
          outB += ((l, r)); produced += (l + r)
        }
      }
      outB.toSeq
    }
    def bpenatShape(path: String, table: Seq[(String, String)]): Long =
      spark.read.parquet(path)
        .agg(sum(graft.functions.BpeSegment.tokenCount(col("text"), table)))
        .head.getLong(0)
    def bpetrainShape(path: String): Long =
      graft.ext.BpeTrainer.train(
        spark.read.parquet(path), "text", nMerges = 3).size.toLong
    // production merge count through the INCREMENTAL trainer (r19):
    // one corpus scan + one vocab collect + driver-side pair-count
    // deltas — 1024 merges in one job where train() would run 1024
    def bpetrainfastShape(path: String): Long =
      graft.ext.BpeTrainer.trainFast(
        spark.read.parquet(path), "text", nMerges = 1024).size.toLong
    // ---- HTML→text extraction (round 19) -----------------------------
    // the crawl seam's map-side cost: every doc wrapped in the
    // q151-style page template (script/style/comment elision, entities,
    // quote-aware attrs, block boundaries), extracted by the codegen'd
    // lexer in one scan, summed output length as the forcing agg
    def htmltextShape(path: String): Long =
      spark.read.parquet(path)
        .select(graft.functions.HtmlToTextFunctions.htmlToText(concat(
          lit("<html><head><title>T</title><script>var s = \"<p>t</p>\";" +
            "</script><style>p > a {}</style></head><body>" +
            "<!-- c --><h1>H &amp; 1</h1><p>"),
          col("text"),
          lit("</p><div>tail &#65; <a href=\"q?a>b\">l</a><br>e</div>" +
            "</body></html>"))).as("t"))
        .agg(sum(length(col("t")))).head.getLong(0)
    run("htmltext", "small", docsSmallN)(htmltextShape(docsSmall))
    run("htmltext", "big", docsBigN)(htmltextShape(docsBig))

    // the q163 path: block extraction with link-char counts, jusText
    // verdicts, page rewrite — all map-side, summed output length as
    // the forcing agg (the htmltext shape's boilerplate-aware sibling)
    def boilerpShape(path: String): Long =
      spark.read.parquet(path)
        .select(graft.ext.Boilerplate.contentText(
          graft.functions.HtmlToTextFunctions.htmlBlocks(concat(
            lit("<html><body><div><a href=\"/a\">Home</a> " +
              "<a href=\"/b\">About</a> <a href=\"/c\">Contact</a></div><p>"),
            col("text"),
            lit("</p><p>Please read the <a href=\"/t\">terms</a> of this" +
              " policy for all of the details here.</p>" +
              "<div>Copyright 2020 <a href=\"/p\">Privacy</a></div>" +
              "</body></html>"))),
          stopNum = 6, stopDen = 100).as("t"))
        .agg(sum(length(col("t")))).head.getLong(0)
    run("boilerp", "small", docsSmallN)(boilerpShape(docsSmall))
    run("boilerp", "big", docsBigN)(boilerpShape(docsBig))

    // one frontier round's COMPUTE against the persisted seen set,
    // non-mutating (foldRound minus the frame writes): batch of N/10
    // links, half already seen, distinct → anti-join vs seen →
    // wildcard robots election → politeness slice. The anti-join
    // shuffles seen + batch (the measured cost of the un-bucketed
    // layout — Frontier's scaladoc names nurl-bucketing as the
    // corpus-scale layout hook that drops the seen side out)
    def frontierShape(store: String, totalN: Long): Long = {
      val batchN = totalN / 10
      val uid = when(col("id") % 2 === 0, pmod(col("id") * 37, lit(totalN)))
        .otherwise(lit(totalN) + col("id"))
      val links = spark.range(batchN).select(urlOf(uid).as("nurl"))
      val newUrls = links.distinct()
        .join(graft.ext.Frontier.seen(spark, store), Seq("nurl"),
          "left_anti")
      val wh = graft.ext.UrlOps.withHostPath(newUrls)
      val elected = graft.ext.Robots
        .withAllowedPatterns(wh, frontierRules, Seq("nurl"))
        .filter(col("allowed")).select("nurl")
      graft.ext.Frontier.politeSlice(elected, frontierDelays,
          cycleSeconds = 1000L)
        .filter(col("fetch_now")).count()
    }
    run("frontier", "small", docsSmallN)(frontierShape(frontSmall, docsSmallN))
    run("frontier", "big", docsBigN)(frontierShape(frontBig, docsBigN))

    run("bpenat", "small", docsSmallN)(bpenatShape(docsSmall, bpe9))
    run("bpenat", "big", docsBigN)(bpenatShape(docsBig, bpe9))
    run("bpenat10k", "small", docsSmallN)(bpenatShape(docsSmall, bpe10k))
    run("bpenat10k", "big", docsBigN)(bpenatShape(docsBig, bpe10k))
    run("bpetrain", "small", docsSmallN)(bpetrainShape(docsSmall))
    run("bpetrain", "big", docsBigN)(bpetrainShape(docsBig))
    run("bpetrainfast", "small", docsSmallN)(bpetrainfastShape(docsSmall))
    run("bpetrainfast", "big", docsBigN)(bpetrainfastShape(docsBig))

    run("srpidx_build", "small", docsSmallN)(srpIdxBuildShape(vecsSmall, docsSmallN))
    run("srpidx_build", "big", docsBigN)(srpIdxBuildShape(vecsBig, docsBigN))
    run("srpinc", "small", docsSmallN)(srpIncShape(vecsSmall, docsSmallN))
    run("srpinc", "big", docsBigN)(srpIncShape(vecsBig, docsBigN))
    run("srpfull", "small", docsSmallN)(srpFullShape(vecsSmall, docsSmallN))
    run("srpfull", "big", docsBigN)(srpFullShape(vecsBig, docsBigN))
    // recall floor at BOTH scales, from the timed runs' stashed result
    // sets — the scaling claim is (sublinear wall, recall held), not
    // wall alone; a line prints only when that shape AND brute ran
    for {
      shape <- Seq("ivf", "ivfsearch", "qbrute")
      rSmall <- ivfRecall(shape, vecsSmall)
      rBig <- ivfRecall(shape, vecsBig)
    } println(f"$shape%s recall@$vecK vs brute floor: " +
      f"small $rSmall%.3f  big $rBig%.3f")

    println("\nshape        data-ratio   time-ratio   (time-ratio / data-ratio; " +
      "< 1 = better-than-linear)")
    results.grouped(2).foreach { pair =>
      val (n, _, r1, t1) = pair(0)
      val (_, _, r2, t2) = pair(1)
      val dr = r2.toDouble / r1
      val tr = t2 / t1
      println(f"$n%-12s ${dr}%9.1fx  ${tr}%9.1fx   ${tr / dr}%6.3f")
    }
    spark.stop()
  }
}

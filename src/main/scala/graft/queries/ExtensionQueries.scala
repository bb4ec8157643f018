package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{BoundedPairs, CentroidAggregator, Dedup, DupClusters, Multimodal, Pq, Quantize, Similarity, TextStats}
import graft.functions.Kernels

/** North-star ✚ queries: text analysis, dedup, similarity search over
  * `documents` / `embeddings` — each with a DuckDB oracle that replicates
  * the exact arithmetic (integer sums + single final division; md5-based
  * hashing; double-cast sequential cosine) so hashes match bit-for-bit.
  */
object ExtensionQueries {

  /** ✚ token counting: whitespace + BPE-ish regex tokens, per source.
    * All aggregates are integer sums; ratios divide once at the end.
    */
  def q24TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"),
              size(TextStats.wsTokens(col("text"))).as("ws"),
              size(TextStats.bpeTokens(col("text"))).as("bpe"),
              TextStats.punctCount(col("text")).as("punct"),
              col("n_chars"))
      .groupBy(col("source"))
      .agg(sum(col("ws")).as("ws_tokens"),
           sum(col("bpe")).as("bpe_tokens"),
           sum(col("punct")).as("punct_chars"),
           (sum(col("n_chars")).cast("double") / sum(col("ws"))).as("chars_per_token"))
      .orderBy(col("source"))

  val q24Sql: String =
    """SELECT source,
      |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))) AS BIGINT) AS punct_chars,
      |  CAST(sum(n_chars) AS DOUBLE) / CAST(sum(len(string_split(text,' '))) AS DOUBLE) AS chars_per_token
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** ✚ quality scoring: per-document length/punct/stopword signals and a
    * composite keep/drop flag — the standard pre-training filter shape.
    * Per-row arithmetic only → bit-deterministic.
    */
  def q25Quality(spark: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("n_chars"),
              size(TextStats.wsTokens(col("text"))).as("n_tokens"),
              TextStats.punctCount(col("text")).as("n_punct"),
              TextStats.markerHits(col("text"), stops).as("n_stop"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("keep",
        col("n_tokens") >= 20 && col("n_chars") >= 100 &&
          col("n_punct") * 5 <= col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val q25Sql: String =
    """SELECT doc_id, n_chars,
      |  len(string_split(text,' ')) AS n_tokens,
      |  len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
      |  len(list_filter(string_split(lower(text),' '),
      |      t -> list_contains(['the','a','of','and','to','in','is'], t))) AS n_stop,
      |  CAST(len(list_filter(string_split(lower(text),' '),
      |      t -> list_contains(['the','a','of','and','to','in','is'], t))) AS DOUBLE)
      |    / len(string_split(text,' ')) AS stop_ratio,
      |  (len(string_split(text,' ')) >= 20 AND n_chars >= 100
      |   AND len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) * 5 <= n_chars) AS keep
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  /** ✚ language ID: marker-word scores → argmax with fixed precedence,
    * tallied against the labeled language (a confusion matrix).
    */
  // NOTE: scores deliberately re-derive from `text` rather than a shared
  // tokens column — after projection collapse the shared-column variant
  // defeats codegen subexpression elimination and runs ~13x slower.
  def q26LangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val scored = TextStats.langScores(col("text"))
      .foldLeft(docs) { case (d, (n, c)) => d.withColumn(n, c) }
    scored
      .withColumn("predicted", TextStats.langId(
        TextStats.langMarkers.map { case (l, _) => s"score_$l" -> col(s"score_$l") }.toMap))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  val q26Sql: String =
    """WITH s AS (
      |  SELECT lang,
      |    len(list_filter(string_split(lower(text),' '), t -> list_contains(['the','a','of','and','to','in','is'], t))) AS s_en,
      |    len(list_filter(string_split(lower(text),' '), t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS s_de,
      |    len(list_filter(string_split(lower(text),' '), t -> list_contains(['el','la','los','las','de','que','es'], t))) AS s_es,
      |    len(list_filter(string_split(lower(text),' '), t -> list_contains(['le','la','les','et','est','des'], t))) AS s_fr,
      |    len(list_filter(string_split(lower(text),' '), t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
      |  FROM documents),
      |p AS (
      |  SELECT lang,
      |    CASE WHEN s_en=0 AND s_de=0 AND s_es=0 AND s_fr=0 AND s_zh=0 THEN 'und'
      |      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |      WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |      WHEN s_fr >= s_zh THEN 'fr'
      |      ELSE 'zh' END AS predicted
      |  FROM s)
      |SELECT lang, predicted, count(*) AS n FROM p
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  /** ✚ fingerprinting: normalize-then-md5 dedup keys. */
  def q27Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val q27Sql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** ✚ exact dedup: hash-groupBy with representative-id election,
    * summarized per source. The groupBy shuffles 16-byte hashes + ids
    * only — the scalable exact-dedup shape.
    */
  def q28ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id")
    docs.join(groups.select(col("keep_id"), col("n_copies")),
              col("doc_id") === col("keep_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
           sum(col("n_copies") - 1).as("n_dropped"))
      .orderBy(col("source"))
  }

  val q28Sql: String =
    """WITH g AS (
      |  SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      |  FROM documents GROUP BY md5(text))
      |SELECT d.source, count(*) AS n_kept,
      |  CAST(sum(g.n_copies - 1) AS BIGINT) AS n_dropped
      |FROM documents d JOIN g ON d.doc_id = g.keep_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** ✚ MinHash signatures (Carter-Wegman family: two 52-bit md5-derived
    * hashes, slot i = min(h1 + i·h2)), shown as the first two slots +
    * first band key.
    */
  def q29MinhashSig(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(col("text"), 1)
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .withColumn("sig", Dedup.minhashSignature(sh, 8))
      .withColumn("bands", Dedup.bandHashes(col("sig"), 4, 2))
      .select(col("doc_id"),
              element_at(col("sig"), 1).as("mh0"),
              element_at(col("sig"), 2).as("mh1"),
              element_at(col("bands"), 1).as("band0"))
      .orderBy(col("doc_id"))
  }

  val q29Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(text,' ')) AS sh
      |  FROM documents WHERE doc_id < 50),
      |h AS (
      |  SELECT doc_id,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('a#'||s),1,13) AS BIGINT)) AS h1,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('b#'||s),1,13) AS BIGINT)) AS h2
      |  FROM d),
      |sig AS (
      |  SELECT doc_id,
      |    [list_min(list_transform(list_zip(h1, h2), z -> z[1] + i*z[2]))
      |     for i in range(0, 8)] AS sg
      |  FROM h)
      |SELECT doc_id, sg[1] AS mh0, sg[2] AS mh1,
      |  md5(sg[1]||'|'||sg[2]) AS band0
      |FROM sig ORDER BY doc_id""".stripMargin

  /** ✚ MinHash-LSH near-dup pairs: band-bucket self-join then exact
    * Jaccard ≥ 0.9 verify. The oracle replicates the banding, so the
    * result is the LSH candidate set, not brute force. The synthetic
    * corpus shares one small vocabulary, so near-dup pairs are
    * inherently quadratic in it — the query bounds the slice
    * (doc_id < 1000) to keep the benchmark's output sane; the operator
    * itself is the linear-in-buckets scale path.
    */
  def q30LshNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshNearDupPairs(
        Tables(spark, dir, "documents").filter(col("doc_id") < 1000),
        "text", "doc_id", shingleWidth = 1, numHashes = 24,
        numBands = 3, threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  val q30Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(text,' ')) AS sh
      |  FROM documents WHERE doc_id < 1000),
      |h AS (
      |  SELECT doc_id, sh,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('a#'||s),1,13) AS BIGINT)) AS h1,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('b#'||s),1,13) AS BIGINT)) AS h2
      |  FROM d),
      |sig AS (
      |  SELECT doc_id, sh,
      |    [list_min(list_transform(list_zip(h1, h2), z -> z[1] + i*z[2]))
      |     for i in range(0, 24)] AS sg
      |  FROM h),
      |bands AS (
      |  SELECT doc_id, b,
      |    md5(sg[8*b+1]||'|'||sg[8*b+2]||'|'||sg[8*b+3]||'|'||sg[8*b+4]||'|'||
      |        sg[8*b+5]||'|'||sg[8*b+6]||'|'||sg[8*b+7]||'|'||sg[8*b+8]) AS h
      |  FROM sig, range(0, 3) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.h = b.h
      |  WHERE a.doc_id < b.doc_id)
      |SELECT c.id_a, c.id_b,
      |  CAST(len(list_intersect(da.h1, db.h1)) AS DOUBLE)
      |    / len(list_distinct(da.h1 || db.h1)) AS jaccard
      |FROM cand c
      |JOIN h da ON c.id_a = da.doc_id
      |JOIN h db ON c.id_b = db.doc_id
      |WHERE CAST(len(list_intersect(da.h1, db.h1)) AS DOUBLE)
      |    / len(list_distinct(da.h1 || db.h1)) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** ✚ SimHash: 16-bit portable signature per document. */
  def q31Simhash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
              Dedup.simhash16(TextStats.wsTokens(col("text"))).as("simhash"))
      .orderBy(col("doc_id"))

  val q31Sql: String =
    """SELECT doc_id,
      |  CAST(list_sum([CASE WHEN list_sum(list_transform(string_split(text,' '),
      |      t -> CASE WHEN substr(md5(t), j, 1) >= '8' THEN 1 ELSE -1 END)) > 0
      |    THEN 1 << (16 - j) ELSE 0 END
      |    for j in range(1, 17)]) AS INT) AS simhash
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** ✚ n-gram Jaccard near-dup: brute-force word-set Jaccard over a
    * bounded id range (the verify-stage primitive; LSH above is the
    * scale path that avoids the quadratic join). The bound is
    * EXECUTABLE: [[BoundedPairs.allPairs]] counts the slice and throws
    * rather than run all-pairs over a corpus.
    */
  def q32JaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id").as("id"), Dedup.shingles(col("text"), 1).as("sh"))
    BoundedPairs.allPairs(d, "id")
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q32Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(text,' ')) AS sh
      |  FROM documents WHERE doc_id < 40)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(a.sh || b.sh)) AS jaccard
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(a.sh || b.sh)) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** ✚ embedding near-dup: cosine ≥ 0.35 pairs (double-cast sequential
    * fold — bit-identical to the oracle's DOUBLE[] cosine). All-pairs
    * is the bounded verify primitive — [[BoundedPairs.allPairs]]
    * enforces the slice cap; SRP/IVF below are the scale paths.
    */
  def q33EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings").filter(col("vec_id") < 150)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    BoundedPairs.allPairs(e, "id")
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= 0.35)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q33Sql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                         CAST(b.embedding AS DOUBLE[])) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE a.vec_id < 150 AND b.vec_id < 150
      |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** ✚ brute-force cosine top-k: 5 query vectors vs the whole corpus. */
  def q34KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 5), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  val q34Sql: String =
    """SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |               CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
      |  FROM embeddings q CROSS JOIN embeddings c
      |  WHERE q.vec_id < 5) t
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** ✚ IVF (centroid-pruned) ANN: 8 seed centroids, nprobe=2, top-5.
    * The scale path — candidates shrink to the probed clusters.
    */
  def q35KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    Similarity.ivfKnn(e, e.filter(col("vec_id") < 8),
        e.filter(col("vec_id") < 3), k = 5, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  val q35Sql: String =
    """WITH cos AS (
      |  SELECT v.vec_id, v.embedding, c.vec_id AS centroid_id,
      |    list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS c_cos
      |  FROM embeddings v CROSS JOIN embeddings c WHERE c.vec_id < 8),
      |assigned AS (
      |  SELECT vec_id AS neighbor_id, embedding, centroid_id FROM (
      |    SELECT vec_id, embedding, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY c_cos DESC, centroid_id) AS rn
      |    FROM cos) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS q_vec, centroid_id FROM (
      |    SELECT vec_id, embedding, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY c_cos DESC, centroid_id) AS rn
      |    FROM cos WHERE vec_id < 3) t WHERE rn <= 2)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT p.query_id, a.neighbor_id,
      |    list_cosine_similarity(CAST(p.q_vec AS DOUBLE[]),
      |                           CAST(a.embedding AS DOUBLE[])) AS cosine,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY list_cosine_similarity(CAST(p.q_vec AS DOUBLE[]),
      |               CAST(a.embedding AS DOUBLE[])) DESC, a.neighbor_id) AS rank
      |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ✚ SRP-LSH embedding near-dup — the scale path behind q33's
    * brute-force cross join: deterministic Rademacher hyperplanes
    * (md5-derived, rebuilt identically by the oracle), per-band sign
    * buckets map-side, ids-only self-join on (band, bucket), exact
    * cosine verify on candidates. Candidate volume scales with bucket
    * collisions, never corpus².
    */
  def q69SrpNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.srpNearDupPairs(
        Tables(spark, dir, "embeddings").filter(col("vec_id") < 300),
        threshold = 0.35, numBands = 2, planesPerBand = 6, dims = 64)
      .orderBy(col("id_a"), col("id_b"))

  val q69Sql: String =
    """WITH planes AS (
      |  SELECT p.p,
      |    list(CASE WHEN substring(md5('srp' || p.p || '_' || i.i), 1, 1) >= '8'
      |              THEN 1.0 ELSE -1.0 END ORDER BY i.i) AS plane
      |  FROM range(12) p(p), range(64) i(i) GROUP BY p.p),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |      FROM embeddings WHERE vec_id < 300),
      |bits AS (
      |  SELECT v.vec_id, p.p // 6 AS band_idx,
      |    CASE WHEN round(list_dot_product(v.e, p.plane), 6) >= 0
      |         THEN CAST(power(2, p.p % 6) AS BIGINT) ELSE 0 END AS bit
      |  FROM v, planes p),
      |buckets AS (
      |  SELECT vec_id, band_idx, sum(bit) AS bucket
      |  FROM bits GROUP BY vec_id, band_idx),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM buckets a JOIN buckets b
      |    ON a.band_idx = b.band_idx AND a.bucket = b.bucket
      |   AND a.vec_id < b.vec_id)
      |SELECT c.id_a, c.id_b,
      |  list_cosine_similarity(va.e, vb.e) AS cosine
      |FROM cand c
      |JOIN v va ON va.vec_id = c.id_a
      |JOIN v vb ON vb.vec_id = c.id_b
      |WHERE list_cosine_similarity(va.e, vb.e) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** ✚ k-means-trained IVF: Lloyd training (2 rounds, 8 seed
    * centroids = lowest vec_ids, per-round means rounded to 6 dp for
    * cross-engine lockstep) followed by the IVF search of q35 — the
    * full train-then-search ANN pipeline. The oracle unrolls the same
    * two assignment/mean rounds.
    */
  def q62KmeansIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val centroids = Similarity.kmeansTrain(e, e.filter(col("vec_id") < 8),
      iters = 2, dims = 64)
    Similarity.ivfKnn(e, centroids, e.filter(col("vec_id") < 3), k = 5, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** ✚ IVF index persistence — q62's train-then-search pipeline run
    * THROUGH a saved+loaded [[graft.ext.IvfIndex]]: train, persist
    * centroids AND corpus assignments to parquet, load them back, and
    * serve the search from the loaded frames
    * ([[Similarity.ivfKnnPreassigned]] — no re-assignment scan). The
    * oracle is IDENTICAL to q62's ([[q62Sql]] replays the fresh
    * pipeline), so the hash passes only if the parquet round-trip of
    * both index frames is bit-lossless — the "train once, serve many
    * batches" production contract.
    */
  def q107IvfIndex(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q107_").toString
    val e = Tables(spark, dir, "embeddings")
    val index = graft.ext.IvfIndex.loadOrTrain(spark, s"$root/idx") {
      val centroids = Similarity.kmeansTrain(e, e.filter(col("vec_id") < 8),
        iters = 2, dims = 64)
      (centroids, Some(Similarity.assignToCentroids(e, centroids)))
    }
    SourceQueries.materializeThenDelete(
      graft.ext.IvfIndex.search(index, e.filter(col("vec_id") < 3),
          k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank")),
      root)
  }

  // lazy: q62Sql is declared later in this object, and a strict val
  // here would capture null at initialization order
  lazy val q107Sql: String = q62Sql

  /** ✚ incremental LSH near-dup — q30's pipeline run through a
    * persisted [[graft.ext.LshIndex]]: build the index over the
    * corpus slice (doc_id < 250 — the fixture's near-dup mass lives in
    * the low ids, so this split leaves thousands of batch-touching
    * pairs at both SFs), load it back, and dedup the NEW batch
    * (doc_id 250–999) against it with
    * [[graft.ext.LshIndex.incrementalPairs]] — no corpus re-shingling,
    * no corpus-internal pair regeneration. The oracle replays the FULL
    * q30 pipeline over the union slice restricted to pairs touching
    * the batch (id_a < id_b, so "≥ 1 batch id" ⇔ id_b ≥ 250), so the
    * hash passes only if incremental-against-loaded-index is
    * bit-identical to full-recompute — the corpus-growth dedup
    * contract at 100 TB, where re-pairing the corpus per batch is the
    * cost this operator exists to avoid.
    */
  def q109IncrementalLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 1000)
    // shared session fixture: q112/q113/q114 run the same build —
    // read-only here, so no private copy needed (GateFixtures)
    val index = graft.ext.LshIndex.load(spark,
      GateFixtures.lshDocsIndex(spark, dir, 250))
    val (pairs, census) = graft.ext.LshIndex.incrementalPairs(
      index, docs.filter(col("doc_id") >= 250), "text", threshold = 0.9)
    require(!census.anyDropped,
      "q109: gate fixture must not hit the bucket cap")
    // incrementalPairs already materialized the pairs; nothing to delete
    pairs.orderBy(col("id_a"), col("id_b"))
  }

  // DERIVED from q30Sql (one shared LSH oracle pipeline, like
  // q107Sql = q62Sql): the only difference is the batch restriction
  // inside the cand CTE. lazy + guarded so a q30Sql edit that breaks
  // the anchor fails loudly instead of silently shipping q30's
  // unrestricted oracle as q109's.
  lazy val q109Sql: String = {
    val anchor = "WHERE a.doc_id < b.doc_id)"
    require(q30Sql.contains(anchor),
      "q109Sql: q30Sql's cand predicate moved — re-anchor the derived oracle")
    q30Sql.replace(anchor, "WHERE a.doc_id < b.doc_id AND b.doc_id >= 250)")
  }

  /** ✚ takedown-safe dedup — q109's incremental pipeline against an
    * index that had documents REMOVED ([[graft.ext.LshIndex.remove]]:
    * tombstones + negative count deltas, O(removed), no corpus
    * rewrite — the compliance face a 100 TB corpus needs when
    * takedowns arrive between batches): build over doc_id < 250,
    * remove 100–149, dedup the batch (250–999) against the survivor
    * view. The oracle replays the FULL q30 pipeline over the corpus
    * WITHOUT the removed slice, restricted to batch-touching pairs —
    * so the hash passes only if tombstone-masked reads and the
    * delta-corrected bucket totals are bit-identical to a rebuild
    * that never saw the removed documents (812 pairs differ from
    * q109's at sf0.01 — the removal is load-bearing, not vacuous).
    */
  def q112RemoveLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 1000)
    // remove() mutates — take a private FS copy of the shared build
    // (bit-identical, far cheaper than a rebuild; GateFixtures)
    val idxPath = GateFixtures.lshDocsIndexCopy(spark, dir, 250)
    graft.ext.LshIndex.remove(spark, idxPath,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .select("doc_id"))
    val index = graft.ext.LshIndex.load(spark, idxPath)
    val (pairs, census) = graft.ext.LshIndex.incrementalPairs(
      index, docs.filter(col("doc_id") >= 250), "text", threshold = 0.9)
    require(!census.anyDropped,
      "q112: gate fixture must not hit the bucket cap")
    SourceQueries.materializeThenDelete(
      pairs.orderBy(col("id_a"), col("id_b")), idxPath)
  }

  // DERIVED from q109Sql (itself derived from q30Sql): the removed
  // slice is excluded at the documents source — a rebuild that never
  // saw those documents, which is exactly remove's contract.
  lazy val q112Sql: String = {
    val anchor = "FROM documents WHERE doc_id < 1000"
    require(q109Sql.contains(anchor),
      "q112Sql: q30Sql's source clause moved — re-anchor the derived oracle")
    q109Sql.replace(anchor,
      "FROM documents WHERE doc_id < 1000 AND NOT (doc_id >= 100 AND doc_id < 150)")
  }

  /** ✚ incremental SRP embedding near-dup — q69's pipeline run through
    * a persisted [[graft.ext.SrpIndex]] (the embedding twin of q109):
    * build the index over the corpus slice (vec_id < 150), load it
    * back, and dedup the NEW batch (vec_id 150–299) against it with
    * [[graft.ext.SrpIndex.incrementalPairs]] — no corpus
    * re-projection, no corpus-internal pair regeneration. The oracle
    * replays the FULL q69 pipeline over the union slice restricted to
    * pairs touching the batch (id_a < id_b, so "≥ 1 batch id" ⇔
    * id_b ≥ 150), so the hash passes only if
    * incremental-against-loaded-index is bit-identical to
    * full-recompute — closing the operability asymmetry where text
    * near-dup had a corpus-growth face (q109/q110) but embedding
    * near-dup recomputed the corpus per run.
    */
  def q111IncrementalSrp(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q111_").toString
    val e = Tables(spark, dir, "embeddings").filter(col("vec_id") < 300)
    graft.ext.SrpIndex.build(spark, s"$root/idx",
      e.filter(col("vec_id") < 150), "vec_id", "embedding",
      numBands = 2, planesPerBand = 6, dims = 64)
    val index = graft.ext.SrpIndex.load(spark, s"$root/idx")
    val (pairs, census) = graft.ext.SrpIndex.incrementalPairs(
      index, e.filter(col("vec_id") >= 150), threshold = 0.35)
    require(!census.anyDropped,
      "q111: gate fixture must not hit the bucket cap")
    SourceQueries.materializeThenDelete(
      pairs.orderBy(col("id_a"), col("id_b")), root)
  }

  // DERIVED from q69Sql (one shared SRP oracle pipeline — the q109 ←
  // q30 pattern): the only difference is the batch restriction inside
  // the cand CTE. lazy + guarded so a q69Sql edit that breaks the
  // anchor fails loudly instead of silently shipping q69's
  // unrestricted oracle as q111's.
  lazy val q111Sql: String = {
    val anchor = "AND a.vec_id < b.vec_id)"
    require(q69Sql.contains(anchor),
      "q111Sql: q69Sql's cand predicate moved — re-anchor the derived oracle")
    q69Sql.replace(anchor, "AND a.vec_id < b.vec_id AND b.vec_id >= 150)")
  }

  val q62Sql: String =
    """WITH c0 AS (
      |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      |  FROM embeddings WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, embedding, cid FROM (
      |    SELECT v.vec_id, v.embedding, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cvec)
      |          DESC, c.cid) AS rn
      |    FROM embeddings v CROSS JOIN c0 c) t WHERE rn = 1),
      |m1 AS (
      |  SELECT cid, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
      |  FROM a1, range(1, 65) t(i) GROUP BY cid, i),
      |c1 AS (SELECT cid, list(m ORDER BY i) AS cvec FROM m1 GROUP BY cid),
      |a2 AS (
      |  SELECT vec_id, embedding, cid FROM (
      |    SELECT v.vec_id, v.embedding, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cvec)
      |          DESC, c.cid) AS rn
      |    FROM embeddings v CROSS JOIN c1 c) t WHERE rn = 1),
      |m2 AS (
      |  SELECT cid, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
      |  FROM a2, range(1, 65) t(i) GROUP BY cid, i),
      |c2 AS (SELECT cid, list(m ORDER BY i) AS cvec FROM m2 GROUP BY cid),
      |assigned AS (
      |  SELECT vec_id AS neighbor_id, embedding, cid FROM (
      |    SELECT v.vec_id, v.embedding, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cvec)
      |          DESC, c.cid) AS rn
      |    FROM embeddings v CROSS JOIN c2 c) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec, cid FROM (
      |    SELECT v.vec_id, v.embedding, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cvec)
      |          DESC, c.cid) AS rn
      |    FROM embeddings v CROSS JOIN c2 c WHERE v.vec_id < 3) t WHERE rn <= 2)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT p.query_id, a.neighbor_id,
      |    list_cosine_similarity(p.q_vec, CAST(a.embedding AS DOUBLE[])) AS cosine,
      |    row_number() OVER (PARTITION BY p.query_id ORDER BY
      |      list_cosine_similarity(p.q_vec, CAST(a.embedding AS DOUBLE[]))
      |        DESC, a.neighbor_id) AS rank
      |  FROM probes p JOIN assigned a ON p.cid = a.cid) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ✚ typed custom Aggregator: per-label embedding centroids (map-side
    * partial aggregation; dims+1 doubles shuffle per group). First four
    * dimensions rounded to 4 dp — double summation order varies with
    * partitioning, rounding absorbs the ~1e-13 drift.
    */
  def q46Centroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = CentroidAggregator(64).toColumn
    Tables(spark, dir, "embeddings")
      .select(col("label"), col("embedding"))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"),
        round(element_at(col("centroid"), 1), 4).as("c0"),
        round(element_at(col("centroid"), 2), 4).as("c1"),
        round(element_at(col("centroid"), 3), 4).as("c2"),
        round(element_at(col("centroid"), 4), 4).as("c3"),
        lit(64).as("dims"))
      .orderBy(col("label"))
  }

  val q46Sql: String =
    """SELECT label,
      |  round(avg(CAST(embedding[1] AS DOUBLE)), 4) AS c0,
      |  round(avg(CAST(embedding[2] AS DOUBLE)), 4) AS c1,
      |  round(avg(CAST(embedding[3] AS DOUBLE)), 4) AS c2,
      |  round(avg(CAST(embedding[4] AS DOUBLE)), 4) AS c3,
      |  CAST(64 AS INT) AS dims
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** ✚ dup-cluster election: connected components over the near-dup
    * pair graph, one representative (min id) per cluster — iterative
    * min-label propagation, checked against a recursive-CTE oracle.
    *
    * The edge list comes from `Dedup.lshNearDupPairs` (band-bucket
    * self-join + Jaccard ≥ 0.9 verify) — the LSH→CC composition a real
    * pipeline runs, with NO cartesian product anywhere in the plan
    * (asserted in DupClustersSpec). The oracle replicates the banding
    * exactly, as q30's does.
    */
  def q47DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 300)
    val edges = Dedup.lshNearDupPairs(docs, "text", "doc_id",
        shingleWidth = 1, numHashes = 24, numBands = 3, threshold = 0.9)
      .select(col("id_a").as("s"), col("id_b").as("t"))
    DupClusters.clusters(edges, docs.select(col("doc_id").as("id")), minSize = 2)
      .orderBy(col("rep"))
  }

  /** The q47 oracle's CC pipeline as a reusable CTE prefix (banding →
    * verified pairs → recursive reach → `comp(node, rep)`), shared
    * verbatim by q47/q113/q115's summary tail and q121's
    * curation-selection tail — one definition so the capstone's
    * oracle provably runs the SAME full-recompute clustering.
    */
  private[queries] val cc300Ctes: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, list_distinct(string_split(text,' ')) AS sh
      |  FROM documents WHERE doc_id < 300),
      |h AS (
      |  SELECT doc_id, sh,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('a#'||s),1,13) AS BIGINT)) AS h1,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('b#'||s),1,13) AS BIGINT)) AS h2
      |  FROM d),
      |sig AS (
      |  SELECT doc_id, sh,
      |    [list_min(list_transform(list_zip(h1, h2), z -> z[1] + i*z[2]))
      |     for i in range(0, 24)] AS sg
      |  FROM h),
      |bands AS (
      |  SELECT doc_id, b,
      |    md5(sg[8*b+1]||'|'||sg[8*b+2]||'|'||sg[8*b+3]||'|'||sg[8*b+4]||'|'||
      |        sg[8*b+5]||'|'||sg[8*b+6]||'|'||sg[8*b+7]||'|'||sg[8*b+8]) AS h
      |  FROM sig, range(0, 3) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.h = b.h
      |  WHERE a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT c.id_a AS s, c.id_b AS t
      |  FROM cand c
      |  JOIN h da ON c.id_a = da.doc_id
      |  JOIN h db ON c.id_b = db.doc_id
      |  WHERE CAST(len(list_intersect(da.h1, db.h1)) AS DOUBLE)
      |      / len(list_distinct(da.h1 || db.h1)) >= 0.9),
      |edges AS (SELECT s, t FROM pairs UNION ALL SELECT t, s FROM pairs),
      |reach(node, label) AS (
      |  SELECT doc_id, doc_id FROM d
      |  UNION
      |  SELECT e.t, r.label FROM reach r JOIN edges e ON e.s = r.node),
      |comp AS (SELECT node, min(label) AS rep FROM reach GROUP BY node)""".stripMargin

  val q47Sql: String = cc300Ctes +
    """
      |SELECT rep, count(*) AS n_members FROM comp
      |GROUP BY rep HAVING count(*) >= 2 ORDER BY rep""".stripMargin

  /** ✚ incremental dup-cluster election — the capstone of the
    * corpus-growth dedup story: q47's cluster summary produced WITHOUT
    * ever re-running CC over the corpus-wide pair graph. Prior labels
    * come from the corpus slice (doc_id < 200), the batch (200–299)
    * pairs come from the INCREMENTAL LSH path
    * ([[graft.ext.LshIndex.incrementalPairs]] — O(batch)), and
    * [[graft.ext.DupClusters.incrementalComponents]] folds them in on
    * the QUOTIENT graph (O(batch) vertices/edges; the corpus labeling
    * streams once map-side for the remap and never shuffles). THE
    * ORACLE IS q47's full-recompute SQL over doc_id < 300 — the hash
    * passes only if quotient fold-in ≡ full CC over the union pair
    * graph, which holds because the prior labeling's components are
    * exactly the old edge set's components and the incremental pair
    * set is exactly the union run's batch-touching pairs (q109's
    * proven contract). Labels compose canonically (min member id).
    */
  def q113IncrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 200)
    // shared session fixtures (read-only here; q114 copies/prunes):
    // the prior labeling is PERSISTED state by the operator's own
    // contract, so loading it is the production shape, not a shortcut
    val prior = GateFixtures.priorLabels(spark, dir, 200)
    val (pairs, census) = graft.ext.LshIndex.incrementalPairs(
      graft.ext.LshIndex.load(spark,
        GateFixtures.lshDocsIndex(spark, dir, 200)),
      batch, "text", threshold = 0.9)
    require(!census.anyDropped,
      "q113: gate fixture must not hit the bucket cap")
    val labels = DupClusters.incrementalComponents(prior,
      batch.select(col("doc_id").as("id")),
      pairs.select(col("id_a").as("s"), col("id_b").as("t")))
    labels.groupBy(col("label").as("rep"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .orderBy(col("rep"))
      .localCheckpoint(true)
  }

  // the full-recompute q47 oracle IS this gate's oracle — that
  // equality is the whole point (see scaladoc above)
  lazy val q113Sql: String = q47Sql

  /** ✚ takedown × labeling — the last composition seam of the
    * incremental dedup story (q112 removes documents from the INDEX,
    * q113 folds batches into the LABELING; without this, a removed
    * document could stay a cluster's canonical representative
    * forever — a compliance problem, not just staleness): prior
    * labeling over the corpus (doc_id < 200), takedown of 100–149
    * from BOTH the index ([[graft.ext.LshIndex.remove]]) and the
    * labeling ([[graft.ext.DupClusters.removeFromLabeling]] — touched
    * components re-paired through [[graft.ext.LshIndex.pairsAmong]]'s
    * survivor view, O(touched), no text re-shingled, splits and gone
    * reps re-elected exactly), then the batch (200–299) folds in via
    * the incremental path. THE ORACLE IS q47's full-recompute SQL
    * over (corpus ∖ removed) ∪ batch — the hash passes only if
    * remove-then-fold ≡ a full pipeline that never saw the removed
    * documents, proving the q112 × q113 composition end-to-end.
    * Reference contract anchor: the dedup metadata-consistency
    * semantics of `df_helpers.py:287-336` (keys stay valid under
    * mutation).
    */
  def q114RemoveClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 200)
    val removed = docs
      .filter(col("doc_id") >= 100 && col("doc_id") < 150).select("doc_id")
    // q113's identical persisted prior labeling (GateFixtures) — the
    // takedown prunes it rather than recomputing it
    val prior = GateFixtures.priorLabels(spark, dir, 200)
    val idxPath = GateFixtures.lshDocsIndexCopy(spark, dir, 200)
    val report = graft.ext.LshIndex.remove(spark, idxPath, removed)
    require(!report.anyUncapped,
      "q114: takedown un-capped a bucket — touched-component labeling " +
        "repair would be incomplete (rebuild regime)")
    val index = graft.ext.LshIndex.load(spark, idxPath)
    val pruned = DupClusters.removeFromLabeling(prior, removed, ids => {
      val (p, c) = graft.ext.LshIndex.pairsAmong(index, ids, threshold = 0.9)
      require(!c.anyDropped,
        "q114: gate fixture must not hit the bucket cap (re-pair)")
      p.select(col("id_a").as("s"), col("id_b").as("t"))
    })
    val (pairs, census) = graft.ext.LshIndex.incrementalPairs(
      index, batch, "text", threshold = 0.9)
    require(!census.anyDropped,
      "q114: gate fixture must not hit the bucket cap (batch)")
    val labels = DupClusters.incrementalComponents(pruned,
      batch.select(col("doc_id").as("id")),
      pairs.select(col("id_a").as("s"), col("id_b").as("t")))
    SourceQueries.materializeThenDelete(
      labels.groupBy(col("label").as("rep"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .orderBy(col("rep")),
      idxPath)
  }

  // DERIVED from q47Sql (the q112 ← q109 pattern): the removed slice
  // is excluded at the documents source — a full pipeline that never
  // saw those documents, which is exactly the composed contract.
  // lazy + guarded so a q47Sql edit that breaks the anchor fails
  // loudly instead of silently shipping q47's unrestricted oracle.
  lazy val q114Sql: String = {
    val anchor = "FROM documents WHERE doc_id < 300"
    require(q47Sql.contains(anchor),
      "q114Sql: q47Sql's source clause moved — re-anchor the derived oracle")
    q47Sql.replace(anchor,
      "FROM documents WHERE doc_id < 300 AND NOT (doc_id >= 100 AND doc_id < 150)")
  }

  /** ✚ takedown through the PERSISTED labeling — q114's composition
    * replayed through [[graft.ext.LabelStore]]'s full mutation
    * lifecycle instead of in-memory frames: create the store from the
    * prior labeling, [[graft.ext.LabelStore.remove]] the takedown
    * slice (tombstones + re-elected overrides, O(removed + touched)
    * delta rows — same shared [[graft.ext.DupClusters.touchedRelabel]]
    * core as q114), then [[graft.ext.LabelStore.compact]] MID-SEQUENCE
    * (the maintenance op must be labeling-invariant — the delta log
    * folds into the base and mutation continues against the compacted
    * store), then fold the batch in ([[graft.ext.LabelStore
    * .foldBatch]]) and read the composed result. THE ORACLE IS
    * q114's (q47's full recompute over (corpus ∖ removed) ∪ batch) —
    * the hash passes only if the store's delta-log persistence
    * (tombstone → override → compact → base-append → remap, composed
    * at read) is exactly the frame-level remove-then-fold, proving
    * the store's claim that every mutation is O(batch) rows while
    * reads stay corpus-exact.
    */
  def q116RemoveLabelStore(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q116_").toString
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 200)
    val removed = docs
      .filter(col("doc_id") >= 100 && col("doc_id") < 150).select("doc_id")
    val storePath = s"$root/store"
    graft.ext.LabelStore.create(spark, storePath,
      GateFixtures.priorLabels(spark, dir, 200))
    val idxPath = GateFixtures.lshDocsIndexCopy(spark, dir, 200)
    val report = graft.ext.LshIndex.remove(spark, idxPath, removed)
    require(!report.anyUncapped,
      "q116: takedown un-capped a bucket — touched-component labeling " +
        "repair would be incomplete (rebuild regime)")
    val index = graft.ext.LshIndex.load(spark, idxPath)
    graft.ext.LabelStore.remove(spark, storePath, removed, ids => {
      val (p, c) = graft.ext.LshIndex.pairsAmong(index, ids, threshold = 0.9)
      require(!c.anyDropped,
        "q116: gate fixture must not hit the bucket cap (re-pair)")
      p.select(col("id_a").as("s"), col("id_b").as("t"))
    })
    graft.ext.LabelStore.compact(spark, storePath)
    val (pairs, census) = graft.ext.LshIndex.incrementalPairs(
      index, batch, "text", threshold = 0.9)
    require(!census.anyDropped,
      "q116: gate fixture must not hit the bucket cap (batch)")
    graft.ext.LabelStore.foldBatch(spark, storePath,
      batch.select(col("doc_id").as("id")),
      pairs.select(col("id_a").as("s"), col("id_b").as("t")))
    SourceQueries.materializeThenDelete(
      graft.ext.LabelStore.load(spark, storePath)
        .groupBy(col("label").as("rep"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .orderBy(col("rep")),
      root, idxPath)
  }

  // q114's derived oracle IS this gate's oracle — store-persisted
  // remove-then-fold must equal the frame-level path (scaladoc)
  lazy val q116Sql: String = q114Sql

  /** ✚ EMBEDDING takedown × labeling — q116's composition on the
    * vector corpus, completing the family symmetry: SRP index over
    * embeddings (vec_id < 200, q69's banding), persisted labeling
    * seeded from the corpus near-dup clusters, takedown of 50–99 from
    * BOTH artifacts ([[graft.ext.SrpIndex.remove]] with its un-cap
    * report asserted; [[graft.ext.LabelStore.remove]] re-pairing the
    * touched survivors through [[graft.ext.SrpIndex.pairsAmong]] —
    * the r15 primitive, here ORACLE-gated, vectors never
    * re-projected), then the batch (200–299) folds in via
    * [[graft.ext.SrpIndex.incrementalPairs]] while the tombstones are
    * still live (q116 compacts first — the two gates cover both
    * fold-against-tombstones regimes). THE ORACLE derives from q69Sql
    * (the exact DuckDB SRP pipeline) with the removed slice excluded
    * at the source, composed with q47Sql's recursive-CTE CC tail —
    * a full pipeline over (corpus ∖ removed) ∪ batch that never saw
    * the removed vectors.
    */
  def q117RemoveSrpClusters(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q117_").toString
    val vecs = Tables(spark, dir, "embeddings").filter(col("vec_id") < 300)
    val corpus = vecs.filter(col("vec_id") < 200)
    val batch = vecs.filter(col("vec_id") >= 200)
    val removed = vecs
      .filter(col("vec_id") >= 50 && col("vec_id") < 100).select("vec_id")
    val idxPath = s"$root/idx"
    graft.ext.SrpIndex.build(spark, idxPath, corpus, "vec_id", "embedding",
      numBands = 2, planesPerBand = 6, dims = 64)
    val storePath = s"$root/store"
    graft.ext.LabelStore.create(spark, storePath,
      DupClusters.componentsStar(
        graft.ext.Similarity.srpNearDupPairs(corpus, threshold = 0.35,
            numBands = 2, planesPerBand = 6, dims = 64)
          .select(col("id_a").as("s"), col("id_b").as("t")),
        corpus.select(col("vec_id").as("id"))))
    val report = graft.ext.SrpIndex.remove(spark, idxPath, removed)
    require(!report.anyUncapped,
      "q117: takedown un-capped a bucket — touched-component labeling " +
        "repair would be incomplete (rebuild regime)")
    val index = graft.ext.SrpIndex.load(spark, idxPath)
    graft.ext.LabelStore.remove(spark, storePath, removed, ids => {
      val (p, c) = graft.ext.SrpIndex.pairsAmong(index, ids, threshold = 0.35)
      require(!c.anyDropped,
        "q117: gate fixture must not hit the bucket cap (re-pair)")
      p.select(col("id_a").as("s"), col("id_b").as("t"))
    })
    val (pairs, census) = graft.ext.SrpIndex.incrementalPairs(
      index, batch, "embedding", threshold = 0.35)
    require(!census.anyDropped,
      "q117: gate fixture must not hit the bucket cap (batch)")
    graft.ext.LabelStore.foldBatch(spark, storePath,
      batch.select(col("vec_id").as("id")),
      pairs.select(col("id_a").as("s"), col("id_b").as("t")))
    SourceQueries.materializeThenDelete(
      graft.ext.LabelStore.load(spark, storePath)
        .groupBy(col("label").as("rep"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .orderBy(col("rep")),
      root)
  }

  // DERIVED: q69Sql's pair pipeline (source-restricted to exclude the
  // removed slice) + q47Sql's recursive-CTE CC tail. Anchored +
  // guarded like every derived oracle — a moved anchor fails loudly.
  lazy val q117Sql: String = {
    val srcAnchor = "FROM embeddings WHERE vec_id < 300"
    val headAnchor = "WITH planes AS ("
    val selAnchor = "SELECT c.id_a, c.id_b,"
    require(q69Sql.contains(srcAnchor) && q69Sql.contains(headAnchor),
      "q117Sql: q69Sql's source/head moved — re-anchor the derived oracle")
    val i = q69Sql.indexOf(selAnchor)
    require(i > 0,
      "q117Sql: q69Sql's final select moved — re-anchor the derived oracle")
    val prefix = q69Sql.substring(0, i)
      .replace(headAnchor, "WITH RECURSIVE planes AS (")
      .replace(srcAnchor,
        srcAnchor + " AND NOT (vec_id >= 50 AND vec_id < 100)")
    prefix.reverse.dropWhile(_.isWhitespace).reverse + ",\n" +
      """pairs AS (
        |  SELECT c.id_a AS s, c.id_b AS t
        |  FROM cand c
        |  JOIN v va ON va.vec_id = c.id_a
        |  JOIN v vb ON vb.vec_id = c.id_b
        |  WHERE list_cosine_similarity(va.e, vb.e) >= 0.35),
        |edges AS (SELECT s, t FROM pairs UNION ALL SELECT t, s FROM pairs),
        |reach(node, label) AS (
        |  SELECT vec_id, vec_id FROM v
        |  UNION
        |  SELECT e.t, r.label FROM reach r JOIN edges e ON e.s = r.node),
        |comp AS (SELECT node, min(label) AS rep FROM reach GROUP BY node)
        |SELECT rep, count(*) AS n_members FROM comp
        |GROUP BY rep HAVING count(*) >= 2 ORDER BY rep""".stripMargin
  }

  /** ✚ BPE-style vocabulary induction, first iteration: the most
    * frequent adjacent token pairs corpus-wide (explode bigrams →
    * count → top-20 with lexicographic tiebreak). Partial aggregation
    * makes the explode map-side; only (bigram, count) shuffles.
    */
  def q54BigramVocab(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(TextStats.ngrams(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  val q54Sql: String =
    """WITH g AS (
      |  SELECT unnest([w[i]||'_'||w[i+1] for i in range(1, len(w))]) AS bigram
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents))
      |SELECT bigram, count(*) AS n FROM g
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** ✚ benchmark decontamination: documents sharing any 4-gram with the
    * benchmark slice (source src0) are contaminated. The benchmark
    * shingle set stays small (broadcast side); the corpus explodes
    * map-side and semi-joins on the gram hash.
    */
  def q55Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val grams = docs.select(col("doc_id"), col("source"),
      explode(TextStats.ngrams(col("text"), 4)).as("g"))
    val bench = grams.filter(col("source") === "src0").select("g").distinct()
    val contaminated = grams.filter(col("source") =!= "src0")
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select(col("doc_id"), col("source")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_contaminated"))
    docs.filter(col("source") =!= "src0")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(contaminated, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .orderBy(col("source"))
  }

  val q55Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, source,
      |    unnest([w[i]||'_'||w[i+1]||'_'||w[i+2]||'_'||w[i+3]
      |            for i in range(1, len(w)-2)]) AS g
      |  FROM d),
      |bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
      |hits AS (
      |  SELECT DISTINCT s.doc_id, s.source
      |  FROM sh s JOIN bench b ON s.g = b.g WHERE s.source <> 'src0'),
      |c AS (SELECT source, count(*) AS n_contaminated FROM hits GROUP BY source)
      |SELECT d.source, count(*) AS n_docs,
      |  coalesce(any_value(c.n_contaminated), 0) AS n_contaminated
      |FROM documents d LEFT JOIN c ON d.source = c.source
      |WHERE d.source <> 'src0'
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** ✚ repetition scoring: within-document duplicated-3-gram fraction,
    * the standard repetitiveness quality signal, integer-summed per
    * source with one final division.
    */
  def q56Repetition(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"),
        graft.functions.GramFunctions.gramStats(col("text"), 3).as("gs"))
      .select(col("source"),
        col("gs.total_grams").as("n_g"),
        col("gs.distinct_grams").as("n_d"))
      .groupBy(col("source"))
      .agg(sum(col("n_g")).as("total_grams"),
           sum(col("n_d")).as("distinct_grams"),
           (lit(1.0) - sum(col("n_d")).cast("double") / sum(col("n_g")))
             .as("repetition"))
      .orderBy(col("source"))

  val q56Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    [w[i]||'_'||w[i+1]||'_'||w[i+2] for i in range(1, len(w)-1)] AS g
      |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents))
      |SELECT source,
      |  CAST(sum(len(g)) AS BIGINT) AS total_grams,
      |  CAST(sum(len(list_distinct(g))) AS BIGINT) AS distinct_grams,
      |  1.0 - CAST(sum(len(list_distinct(g))) AS DOUBLE)
      |      / CAST(sum(len(g)) AS DOUBLE) AS repetition
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** ✚ event debounce: drop repeats of (user, type) arriving within
    * 60 s of the previous kept-or-dropped occurrence — lag-based
    * windowed dedup, integer outputs.
    */
  def q57Debounce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("kept",
        col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 60)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("event_type"))
  }

  val q57Sql: String =
    """WITH g AS (
      |  SELECT event_type, ts,
      |    lag(ts) OVER (PARTITION BY user_id, event_type
      |                  ORDER BY event_id) AS prev_ts
      |  FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN prev_ts IS NULL
      |           OR date_diff('second', prev_ts, ts) > 60
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ✚ deterministic stratified sampling (data mixing): keep ~25% of
    * each source via an md5 hash threshold on the id — portable,
    * seedable, and reproducible across engines and reruns, unlike
    * `rand()`-based sampling.
    */
  def q58StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("kept",
        substring(md5(concat(lit("seed1#"), col("doc_id"))), 1, 2) < "40")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("source"))

  val q58Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN substr(md5('seed1#' || doc_id), 1, 2) < '40'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** ✚ sequence-packing stats: documents ordered by id pack greedily
    * into 512-token sequences per source (cumulative token count div
    * capacity) — pack counts and fill efficiency, the pretraining
    * batch-shaping signal. Integer arithmetic end to end.
    */
  def q59PackingStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("total_tokens"),
           max(ceil(col("cum_tokens").cast("double") / 512).cast("long"))
             .as("n_packs"))
      .withColumn("fill_pct",
        col("total_tokens").cast("double") / (col("n_packs") * 512))
      .orderBy(col("source"))
  }

  val q59Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM d)
      |SELECT source,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(max(ceil(CAST(cum_tokens AS DOUBLE) / 512)) AS BIGINT) AS n_packs,
      |  CAST(sum(n_tokens) AS DOUBLE)
      |    / (CAST(max(ceil(CAST(cum_tokens AS DOUBLE) / 512)) AS BIGINT) * 512)
      |    AS fill_pct
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** ✚ capstone: the full curation pipeline as ONE dataflow — quality
    * filter ∧ exact-dedup representative election ∧ reproducible
    * sample, reported per source. This is the composition a real
    * training-data run materializes; every stage is an operator proved
    * individually above, and the whole plan still runs in two shuffles
    * (dedup groupBy + final rollup).
    */
  def q60CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val quality = docs
      .withColumn("n_tokens", size(TextStats.wsTokens(col("text"))))
      .withColumn("q_keep",
        col("n_tokens") >= 20 && col("n_chars") >= 100 &&
          TextStats.punctCount(col("text")) * 5 <= col("n_chars"))
    val reps = Dedup.exactDupGroups(docs, "text", "doc_id")
      .select(col("keep_id"))
    quality
      .join(reps, quality("doc_id") === reps("keep_id"), "left")
      .withColumn("is_rep", col("keep_id").isNotNull)
      .withColumn("s_keep",
        substring(md5(concat(lit("seed1#"), col("doc_id"))), 1, 2) < "c0")
      .withColumn("kept", col("q_keep") && col("is_rep") && col("s_keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
           sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("source"))
  }

  val q60Sql: String =
    """WITH q AS (
      |  SELECT doc_id, source, text, n_chars,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    (len(string_split(text, ' ')) >= 20 AND n_chars >= 100
      |     AND len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) * 5 <= n_chars)
      |      AS q_keep
      |  FROM documents),
      |reps AS (
      |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)),
      |j AS (
      |  SELECT q.*, (r.keep_id IS NOT NULL) AS is_rep,
      |    substr(md5('seed1#' || q.doc_id), 1, 2) < 'c0' AS s_keep
      |  FROM q LEFT JOIN reps r ON q.doc_id = r.keep_id)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN q_keep AND is_rep AND s_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN q_keep AND is_rep AND s_keep THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** ✚ native rolling-hash fingerprint: a custom Catalyst Expression
    * (a static call inside whole-stage codegen keeps the char loop
    * inline), registered as `rolling_hash` — grouped into fingerprint
    * buckets.
    */
  def q41RollingFp(spark: SparkSession, dir: String): DataFrame = {
    Kernels.register(spark)
    Tables(spark, dir, "documents")
      .withColumn("fp", expr("rolling_hash(text)"))
      .groupBy((col("fp") % 16).as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("fp")).as("min_fp"))
      .orderBy(col("bucket"))
  }

  val q41Sql: String =
    """WITH f AS (
      |  SELECT list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> ascii(c))),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS fp
      |  FROM documents)
      |SELECT fp % 16 AS bucket, count(*) AS n, min(fp) AS min_fp
      |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin

  /** ✚ multimodal plumbing: text bytes as an opaque binary column,
    * decoded per-partition by the (stub) decoder into typed features.
    * The oracle recomputes the deterministic stub features from the
    * same bytes.
    */
  def q42Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMedia(
      Tables(spark, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), lit("text").as("kind"),
                encode(col("text"), "UTF-8").as("data")),
      "doc_id", "kind", "data")
    Multimodal.decodeFeatures(media).toDF()
      .orderBy(col("id"))
  }

  val q42Sql: String =
    """SELECT doc_id AS id, 'text' AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  sha256(text) AS content_id,
      |  CAST((ascii(substr(text, 1, 1)) % 64) + 16 AS INT) AS width,
      |  CAST(octet_length(encode(text)) // 1000 + 1 AS INT) AS n_frames,
      |  CAST((octet_length(encode(text)) // 1000 + 2) // 2 AS INT) AS n_sampled
      |FROM documents WHERE doc_id < 100 ORDER BY id""".stripMargin

  /** Executor-side PNG encode for the q83 fixture: a flat-black image
    * whose dimensions are derived from table columns, so the oracle
    * can predict the decoded geometry relationally. Runs inside the
    * partition loop (ImageIO is JDK-built-in on every executor).
    */
  private def blackPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB) // zero-initialized = black
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** ✚ REAL image decode, oracle-gated end-to-end: per-row PNGs are
    * ENCODED on executors with table-derived dimensions, shipped as
    * binary media records, DECODED distributed via the ImageIO path
    * (`Multimodal.decodeImages`), and the per-lang rollup of decoded
    * geometry must match the oracle's relational prediction — the
    * aggregate is correct only if every byte round-tripped through a
    * real codec. Flat-black pixels make the Rec. 601 luma mean exactly
    * 0.0, so the luma column is oracle-exact too.
    */
  def q83ImageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slice = Tables(spark, dir, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % 16 + 1).cast("int").as("w"),
        (col("n_chars") % 16 + 1).cast("int").as("h"))
    val media = slice.select(col("doc_id"), col("w"), col("h"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        Multimodal.MediaRecord(id, "img", blackPng(w, h), Map.empty) }
    Multimodal.decodeImages(media).toDF()
      .filter(col("decode_ok"))
      .join(slice.select(col("doc_id").as("id"), col("lang"), col("w"), col("h")), "id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_imgs"),
           sum(col("width").cast("long") * col("height")).as("px_sum"),
           max(col("n_channels")).as("max_ch"),
           max(col("mean_luma")).as("luma_max"))
      .orderBy(col("lang"))
  }

  val q83Sql: String =
    """SELECT lang, count(*) AS n_imgs,
      |  CAST(sum((doc_id % 16 + 1) * (n_chars % 16 + 1)) AS BIGINT) AS px_sum,
      |  CAST(3 AS INT) AS max_ch,
      |  CAST(0.0 AS DOUBLE) AS luma_max
      |FROM documents WHERE doc_id < 500
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** ✚ KMV cardinality sketch, oracle-gated EXACTLY (not approximately):
    * the estimator is a pure function of the k smallest distinct
    * 52-bit md5 hashes, so DuckDB replays the sketch with a
    * row_number over ordered hashes and must reproduce the estimate
    * bit-for-bit — the per-group exact distinct rides along to show
    * the estimator lands near it. One pass, ≤ k longs per group
    * shuffled: the 100 TB distinct-count shape.
    */
  def q86KmvSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 128
    val hashed = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_partkey"),
        Dedup.hexHash(col("l_partkey").cast("string"), "k#").as("hv"))
    val est = hashed.select(col("l_returnflag"), col("hv"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .agg(graft.ext.Sketches.kmv[(String, Long)](k)(_._2)
        .toColumn.name("kmv_raw"))
      .toDF("l_returnflag", "kmv_raw")
    val exact = hashed.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    exact.join(est, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        round(col("kmv_raw"), 4).as("kmv_est"))
      .orderBy(col("l_returnflag"))
  }

  val q86Sql: String =
    """WITH h AS (
      |  SELECT DISTINCT l_returnflag,
      |    CAST('0x'||substr(md5('k#'||CAST(l_partkey AS VARCHAR)),1,13) AS BIGINT) AS hv
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, hv,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
      |  FROM h),
      |s AS (
      |  SELECT l_returnflag, count(*) AS nd,
      |    max(CASE WHEN rn = 128 THEN hv END) AS kth
      |  FROM r GROUP BY l_returnflag),
      |e AS (
      |  SELECT lineitem.l_returnflag, count(DISTINCT l_partkey) AS n_exact
      |  FROM lineitem GROUP BY lineitem.l_returnflag)
      |SELECT e.l_returnflag, e.n_exact,
      |  CASE WHEN s.nd < 128 THEN round(CAST(s.nd AS DOUBLE), 4)
      |       ELSE round(127 * CAST(4503599627370496 AS DOUBLE) / s.kth, 4) END AS kmv_est
      |FROM e JOIN s ON e.l_returnflag = s.l_returnflag
      |ORDER BY e.l_returnflag""".stripMargin

  /** ✚ weighted reproducible sampling (data mixing), oracle-gated
    * EXACTLY: each document gets `weight` md5 "tickets"
    * ([[graft.ext.Sketches.weightedKey]]); the 600 smallest keys are
    * the weighted without-replacement sample. The per-weight-class
    * rollup matches the oracle only if BOTH engines picked the
    * identical 600 documents — the boundary is a 52-bit integer
    * comparison, no float ordering to drift. Higher-weight sources
    * land in the sample at ~weight× their share.
    */
  def q87WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("weight", (length(col("source")) % 3 + 1).cast("int"))
    val sampled = docs
      .withColumn("ws_key",
        graft.ext.Sketches.weightedKey(col("doc_id"), col("weight"), "ws#"))
      .orderBy(col("ws_key")).limit(600)
    val totals = docs.groupBy(col("weight"))
      .agg(count(lit(1)).as("n_total"))
    sampled.groupBy(col("weight"))
      .agg(count(lit(1)).as("n_sampled"), min(col("ws_key")).as("min_key"))
      .join(totals, "weight")
      .select(col("weight"), col("n_total"), col("n_sampled"), col("min_key"))
      .orderBy(col("weight"))
  }

  val q87Sql: String =
    """WITH w AS (
      |  SELECT doc_id, (strlen(source) % 3 + 1) AS weight
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, weight,
      |    list_min([CAST('0x'||substr(md5('ws#'||CAST(doc_id AS VARCHAR)||'#'||CAST(j AS VARCHAR)),1,13) AS BIGINT)
      |              for j in range(1, weight + 1)]) AS ws_key
      |  FROM w),
      |s AS (SELECT * FROM k ORDER BY ws_key LIMIT 600),
      |t AS (SELECT weight, count(*) AS n_total FROM w GROUP BY weight)
      |SELECT t.weight, t.n_total, agg.n_sampled, agg.min_key
      |FROM (SELECT weight, count(*) AS n_sampled, min(ws_key) AS min_key
      |      FROM s GROUP BY weight) agg
      |JOIN t ON t.weight = agg.weight
      |ORDER BY t.weight""".stripMargin

  /** ✚ REAL audio decode, oracle-gated end-to-end like q83: per-row
    * WAV PCM-16 clips are ENCODED on executors (square wave with
    * table-derived sample rate / channels / amplitude / length),
    * shipped as binary media records, DECODED distributed through the
    * JDK's `javax.sound.sampled` ([[Multimodal.decodeAudio]]), and the
    * per-lang rollup of decoded sample rate, frame count, duration and
    * RMS must match the oracle's relational prediction. A ±A square
    * wave has RMS exactly A/32768 in normalized units and A ≤ 2^13
    * keeps every intermediate double exact, so the energy column is
    * oracle-exact, not approximate. Aggregates are max/sum over exact
    * values — order-independent, so partitioning can't drift the hash.
    */
  def q89AudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slice = Tables(spark, dir, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000)
          .otherwise(44100).cast("int").as("sr"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"),
        ((col("doc_id") % 8 + 1) * 1024).cast("int").as("amp"),
        ((col("doc_id") % 16 + 1) * 500).cast("int").as("frames"))
    val media = slice
      .select(col("doc_id"), col("sr"), col("ch"), col("amp"), col("frames"))
      .as[(Long, Int, Int, Int, Int)]
      .map { case (id, sr, ch, amp, frames) =>
        val samples = Array.tabulate(frames * ch)(
          j => (if (j % 2 == 0) amp else -amp).toShort)
        Multimodal.MediaRecord(id, "audio",
          Multimodal.AudioDecoder.encodeWavPcm16(samples, sr.toFloat, ch),
          Map.empty)
      }
    Multimodal.decodeAudio(media).toDF()
      .filter(col("decode_ok"))
      .join(slice.select(col("doc_id").as("id"), col("lang")), "id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_clips"),
           sum(col("n_frames")).as("frames_sum"),
           max(col("sample_rate")).as("max_sr"),
           max(col("n_channels")).as("max_ch"),
           round(max(col("duration_s")), 6).as("dur_max"),
           round(max(col("rms")), 6).as("rms_max"))
      .orderBy(col("lang"))
  }

  val q89Sql: String =
    """SELECT lang, count(*) AS n_clips,
      |  CAST(sum((doc_id % 16 + 1) * 500) AS BIGINT) AS frames_sum,
      |  CAST(max(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |           ELSE 44100 END) AS INT) AS max_sr,
      |  CAST(max(doc_id % 2 + 1) AS INT) AS max_ch,
      |  round(max(CAST((doc_id % 16 + 1) * 500 AS DOUBLE) /
      |    (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |     ELSE 44100 END)), 6) AS dur_max,
      |  round(max(((doc_id % 8) + 1) * 1024 / 32768.0), 6) AS rms_max
      |FROM documents WHERE doc_id < 500
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** ✚ bounded mergeable quantile sketch, oracle-gated EXACTLY: a
    * bottom-k-by-md5 uniform sample per group (k = 256 pairs max in
    * the aggregation buffer, vs exact `percentile` whose buffer holds
    * every distinct value — unbounded on a pathological group). The
    * sample selection hash is the portable 52-bit md5 prefix over the
    * row key, so DuckDB replays the identical sample (row_number over
    * hash order) and the identical rank-pick estimates bit-for-bit.
    * The exact p50 rides along to show estimator proximity; n_rows to
    * show the sample is a vanishing fraction of the group.
    */
  def q88QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val base = Tables(spark, dir, "lineitem").select(
      col("l_returnflag"),
      Dedup.hexHash(
        concat(col("l_orderkey").cast("string"), lit("#"),
               col("l_linenumber").cast("string")), "qs#").as("hv"),
      col("l_extendedprice").cast("double").as("v"))
    // ONE scan, ONE hash aggregation: the sketch rides in the same
    // groupBy as the exact-percentile evidence via functions.udaf,
    // whose ScalaAggregator is a TypedImperativeAggregate — the buffer
    // stays a plain JVM object per group and is serialized only at the
    // shuffle boundary (the Dataset groupByKey.agg path re-encoded the
    // case-class buffer per partial merge, and computing exact+est as
    // two frames joined paid a second lineitem scan on top)
    val sketch = udaf(graft.ext.Sketches.quantileSketch[(Long, Double)](
        k, Seq(0.5, 0.9, 0.99))(_._1, _._2),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(expr("percentile(v, 0.5)"), 4).as("p50_exact"),
        sketch(col("hv"), col("v")).as("qs"))
      .select(col("l_returnflag"), col("n_rows"), col("p50_exact"),
        col("qs")(0).as("p50_est"), col("qs")(1).as("p90_est"),
        col("qs")(2).as("p99_est"))
      .orderBy(col("l_returnflag"))
  }

  val q88Sql: String =
    """WITH b AS (
      |  SELECT l_returnflag,
      |    CAST('0x'||substr(md5('qs#'||CAST(l_orderkey AS VARCHAR)||'#'||CAST(l_linenumber AS VARCHAR)),1,13) AS BIGINT) AS hv,
      |    CAST(l_extendedprice AS DOUBLE) AS v
      |  FROM lineitem),
      |d AS (SELECT l_returnflag, hv, min(v) AS v FROM b GROUP BY l_returnflag, hv),
      |r AS (SELECT l_returnflag, v,
      |        row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
      |      FROM d),
      |s AS (SELECT l_returnflag, v FROM r WHERE rn <= 256),
      |o AS (SELECT l_returnflag, v,
      |        row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS vr,
      |        count(*) OVER (PARTITION BY l_returnflag) AS n
      |      FROM s),
      |est AS (
      |  SELECT l_returnflag,
      |    max(CASE WHEN vr = CAST(floor(0.5  * (n - 1)) AS BIGINT) + 1 THEN v END) AS p50_est,
      |    max(CASE WHEN vr = CAST(floor(0.9  * (n - 1)) AS BIGINT) + 1 THEN v END) AS p90_est,
      |    max(CASE WHEN vr = CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p99_est
      |  FROM o GROUP BY l_returnflag),
      |ex AS (
      |  SELECT l_returnflag, count(*) AS n_rows,
      |    round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50_exact
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT ex.l_returnflag, ex.n_rows, ex.p50_exact,
      |  est.p50_est, est.p90_est, est.p99_est
      |FROM ex JOIN est ON ex.l_returnflag = est.l_returnflag
      |ORDER BY ex.l_returnflag""".stripMargin

  /** ✚ adversarial large-diameter connected components: two path
    * graphs over doc ids (0–50, a 50-hop chain; 100–130, a 30-hop
    * chain), per-node labels vs a recursive-CTE oracle. Min-label
    * propagation provably CANNOT converge here inside its default
    * 20-round budget (the label must walk 50 hops) — it now throws
    * instead of returning wrong labels (asserted in DupClustersSpec);
    * the alternating big-star/small-star path labels both chains in
    * O(log n) rounds. This is the gate that separates "works on dense
    * near-dup clusters" from "works on any 100 TB edge set".
    */
  def q91ChainComponents(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables(spark, dir, "documents").select(col("doc_id").as("id"))
    val nodes = ids.filter(col("id") <= 50 ||
      (col("id") >= 100 && col("id") <= 130))
    val edges = nodes
      .filter(col("id") < 50 || (col("id") >= 100 && col("id") < 130))
      .select(col("id").as("s"), (col("id") + 1).as("t"))
    DupClusters.componentsStar(edges, nodes).orderBy(col("id"))
  }

  val q91Sql: String =
    """WITH RECURSIVE n AS (
      |  SELECT doc_id AS id FROM documents
      |  WHERE doc_id <= 50 OR doc_id BETWEEN 100 AND 130),
      |e0 AS (
      |  SELECT id AS s, id + 1 AS t FROM n
      |  WHERE id < 50 OR (id >= 100 AND id < 130)),
      |edges AS (SELECT s, t FROM e0 UNION ALL SELECT t, s FROM e0),
      |reach(node, label) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT e.t, r.label FROM reach r JOIN edges e ON e.s = r.node)
      |SELECT node AS id, min(label) AS label FROM reach
      |GROUP BY node ORDER BY id""".stripMargin

  /** ✚ KMV set algebra — cross-corpus overlap (decontamination)
    * WITHOUT joining the corpora: a "train" corpus (doc_id % 7 ≠ 0)
    * and a "benchmark" corpus (doc_id % 5 = 0) are each reduced to a
    * bounded bottom-k sketch of their text hashes ([[Sketches.kmvSet]],
    * k = 64 longs per corpus, one pass each); union cardinality,
    * Jaccard, and |train ∩ bench| are then read off the two arrays
    * with built-in array functions (array_union/sort/slice/intersect —
    * all codegen'd). At 100 TB this is the only workable shape: the
    * exact path's distinct-hash shuffle moves the corpus, the sketch
    * path moves 2·k·8 bytes. Exact counts ride along (one
    * distinct-hash pass with membership flags) to show estimator
    * proximity, and the portable md5 hash means DuckDB replays the
    * sketches and every estimate bit-for-bit.
    *
    * Library-reuse contract: both corpora must be NON-EMPTY — an empty
    * side yields zero sketch rows and the crossJoin drops the estimate
    * row entirely (and the guarded `kk` pick below nulls rather than
    * throws if a sketch array is empty).
    */
  def q92ContaminationEst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 64
    val docs = Tables(spark, dir, "documents")
    val hashed = docs.select(col("doc_id"),
      Dedup.hexHash(col("text"), "ct#").as("h"),
      (col("doc_id") % 7 =!= 0).as("in_t"),
      (col("doc_id") % 5 === 0).as("in_b"))
    // exact side: ONE distinct-hash pass, membership flags OR-folded
    val exact = hashed.groupBy(col("h"))
      .agg(max(col("in_t")).as("in_t"), max(col("in_b")).as("in_b"))
      .agg(count(when(col("in_t"), 1)).as("n_train"),
           count(when(col("in_b"), 1)).as("n_bench"),
           count(when(col("in_t") && col("in_b"), 1)).as("inter_exact"))
    // sketch side: bounded arrays, corpus never joined
    val agg = graft.ext.Sketches.kmvSet[Long](k)(identity)
    def sketch(flag: String, as: String) =
      hashed.filter(col(flag)).select(col("h")).as[Long]
        .groupByKey(_ => 0).agg(agg.toColumn.name("arr"))
        .toDF("g", as).drop("g")
    val est = sketch("in_t", "t_arr").crossJoin(sketch("in_b", "b_arr"))
      .withColumn("u",
        slice(array_sort(array_union(col("t_arr"), col("b_arr"))), 1, k))
      .select(
        size(col("u")).as("kp"),
        // guard the last-element pick: if a corpus filter matched zero
        // rows the union sketch can be empty, and element_at(_, 0)
        // throws — yield null instead (downstream estimates go null,
        // which is the honest answer for an empty corpus)
        when(size(col("u")) > 0, element_at(col("u"), size(col("u"))))
          .as("kk"),
        size(array_intersect(array_intersect(col("u"), col("t_arr")),
          col("b_arr"))).as("m"))
      .withColumn("union_est_raw",
        when(col("kp") < k, col("kp").cast("double"))
          .otherwise(lit((k - 1) * graft.ext.Sketches.HashSpace) / col("kk")))
      .withColumn("jaccard_raw", col("m").cast("double") / col("kp"))
      .select(
        round(col("union_est_raw"), 4).as("union_est"),
        round(col("jaccard_raw"), 4).as("jaccard_est"),
        round(col("jaccard_raw") * col("union_est_raw"), 4).as("inter_est"))
    exact.crossJoin(est)
  }

  val q92Sql: String =
    """WITH h0 AS (
      |  SELECT CAST('0x'||substr(md5('ct#'||text),1,13) AS BIGINT) AS h,
      |         doc_id % 7 <> 0 AS in_t, doc_id % 5 = 0 AS in_b
      |  FROM documents),
      |f AS (SELECT h, max(in_t) AS in_t, max(in_b) AS in_b FROM h0 GROUP BY h),
      |ex AS (SELECT count(*) FILTER (in_t) AS n_train,
      |              count(*) FILTER (in_b) AS n_bench,
      |              count(*) FILTER (in_t AND in_b) AS inter_exact FROM f),
      |tk AS (SELECT h FROM f WHERE in_t ORDER BY h LIMIT 64),
      |bk AS (SELECT h FROM f WHERE in_b ORDER BY h LIMIT 64),
      |u AS (SELECT h FROM (SELECT h FROM tk UNION SELECT h FROM bk) ORDER BY h LIMIT 64),
      |st AS (SELECT count(*) AS kp, max(h) AS kk,
      |         count(*) FILTER (h IN (SELECT h FROM tk)
      |                      AND h IN (SELECT h FROM bk)) AS m
      |       FROM u),
      |raw AS (SELECT kp, m,
      |         CASE WHEN kp < 64 THEN CAST(kp AS DOUBLE)
      |              ELSE 283726776524341248.0 / kk END AS union_raw,
      |         CAST(m AS DOUBLE) / kp AS jac_raw
      |       FROM st)
      |SELECT n_train, n_bench, inter_exact,
      |  round(union_raw, 4) AS union_est,
      |  round(jac_raw, 4) AS jaccard_est,
      |  round(jac_raw * union_raw, 4) AS inter_est
      |FROM ex, raw""".stripMargin

  /** ✚ ANN recall gate: IVF search graded against the brute-force
    * ground truth it approximates. q34/q35 prove each path replays its
    * own algorithm bit-for-bit; this gate proves the APPROXIMATION is
    * good — per-query recall@10 of IVF (8 centroids, nprobe=4) vs the
    * exhaustive top-10, emitted as a column the oracle recomputes
    * independently (both sides of the recall fraction are
    * deterministic, so DuckDB replays the exact recall values — not
    * a tolerance check). SimilaritySpec asserts every query's recall
    * ≥ 0.9; the nprobe dial is the standard IVF recall/cost trade and
    * 4-of-8 probes is the measured min-recall ≥ 0.9 point on ALL
    * THREE fixtures (sf0.001: min 0.9, sf0.01: min 0.9, sf0.1:
    * min 1.0) — nprobe=2–3 dropped one query to 0.7 at sf0.01.
    */
  def q93IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val k = 10
    val queries = e.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceKnn(e, queries, k)
    val ivf = Similarity.ivfKnn(e, e.filter(col("vec_id") < 8), queries,
      k, nprobe = 4)
    truth.select(col("query_id"), col("neighbor_id"))
      .join(ivf.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), count(col("hit")).as("n_hits"),
        round(count(col("hit")).cast("double") / count(lit(1)), 4).as("recall"))
      .orderBy(col("query_id"))
  }

  val q93Sql: String =
    """WITH cos AS (
      |  SELECT v.vec_id, v.embedding, c.vec_id AS centroid_id,
      |    list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS c_cos
      |  FROM embeddings v CROSS JOIN embeddings c WHERE c.vec_id < 8),
      |assigned AS (
      |  SELECT vec_id AS neighbor_id, embedding, centroid_id FROM (
      |    SELECT vec_id, embedding, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY c_cos DESC, centroid_id) AS rn
      |    FROM cos) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS q_vec, centroid_id FROM (
      |    SELECT vec_id, embedding, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY c_cos DESC, centroid_id) AS rn
      |    FROM cos WHERE vec_id < 5) t WHERE rn <= 4),
      |ivf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT p.query_id, a.neighbor_id,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY list_cosine_similarity(CAST(p.q_vec AS DOUBLE[]),
      |                 CAST(a.embedding AS DOUBLE[])) DESC, a.neighbor_id) AS rank
      |    FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id) t
      |  WHERE rank <= 10),
      |brute AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                 CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
      |    FROM embeddings q CROSS JOIN embeddings c
      |    WHERE q.vec_id < 5) t
      |  WHERE rank <= 10)
      |SELECT b.query_id AS query_id, count(*) AS k,
      |  count(i.neighbor_id) AS n_hits,
      |  round(CAST(count(i.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
      |FROM brute b LEFT JOIN ivf i
      |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  /** ✚ unigram corpus-frequency quality scoring — the LM-filtering
    * family's dataflow (CCNet/Gopher-style "score each doc under a
    * model of the corpus, filter the tails"), in the bit-portable
    * rational form: vocabulary = top-V tokens by corpus count
    * (deterministic (count desc, token) tie-break), each doc scored by
    * its OOV rate and the mean corpus frequency of its tokens. All
    * integer counts + one double division, so the DuckDB oracle
    * replays every score exactly — deliberately NO log/perplexity in
    * the gated value: ln is not correctly-rounded-specified across
    * engines, and the dataflow is IDENTICAL if a single-engine
    * deployment swaps `mean_freq` for `-avg(ln p)` (one expression).
    *
    * Scale shape: the vocab groupBy is map-side-combined and bounded
    * by the corpus vocabulary; top-V plans as TakeOrdered (per-
    * partition top-V, V rows per partition move); scoring joins the
    * token stream to a BROADCAST V-row vocab (the corpus never
    * shuffles for scoring); one shuffle for the per-doc aggregation.
    */
  def q94UnigramQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok")).limit(500)
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        count(when(col("cnt").isNull, 1)).as("n_oov"),
        round(sum(coalesce(col("cnt"), lit(0L))).cast("double")
          / count(lit(1)), 4).as("mean_freq"))
      .filter(col("doc_id") < 200)
      .orderBy(col("doc_id"))
  }

  val q94Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v0 AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
      |v AS (SELECT tok, cnt FROM v0 ORDER BY cnt DESC, tok LIMIT 500)
      |SELECT t.doc_id AS doc_id, count(*) AS n_toks,
      |  count(*) FILTER (v.tok IS NULL) AS n_oov,
      |  round(CAST(sum(coalesce(v.cnt, 0)) AS DOUBLE) / count(*), 4) AS mean_freq
      |FROM t LEFT JOIN v ON t.tok = v.tok
      |WHERE t.doc_id < 200
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** ✚ temperature-scaled source mixing weights — the data-mixing
    * step after curation: per-source token counts, proportional
    * weights, and α=0.5 temperature weights (upweights small sources,
    * the standard multi-source LM recipe). α=0.5 is sqrt, which IEEE
    * 754 specifies CORRECTLY ROUNDED — so unlike pow/ln the oracle
    * reproduces it bit-for-bit. The sqrt weights are cast to
    * decimal(30,10) BEFORE the normalizing sum so the sum is
    * order-independent (a double sum's value depends on partition
    * order; decimals don't), then divided as doubles.
    *
    * Scale shape: one map-side-combined groupBy(source) — the corpus
    * shuffles one row per source per partition; the normalization
    * window runs over the tiny per-source frame.
    */
  def q95MixWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      .withColumn("w_dec", sqrt(col("n_tokens").cast("double"))
        .cast("decimal(30,10)"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double")
          / sum(col("n_tokens")).over(all).cast("double"), 6).as("prop_weight"),
        round(col("w_dec").cast("double")
          / sum(col("w_dec")).over(all).cast("double"), 6).as("alpha_weight"))
      .orderBy(col("source"))
  }

  val q95Sql: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs, n_tokens,
      |        CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(30,10)) AS w_dec
      |      FROM s)
      |SELECT source, n_docs, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) /
      |        CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS prop_weight,
      |  round(CAST(w_dec AS DOUBLE) /
      |        CAST(sum(w_dec) OVER () AS DOUBLE), 6) AS alpha_weight
      |FROM w ORDER BY source""".stripMargin

  /** ✚ sequence-packing ASSIGNMENT (q59 reports packing statistics;
    * this emits the actual doc → pack mapping a training-data writer
    * consumes): greedy first-fit-in-order packing of documents into
    * ≤ 512-token sequences, sharded so it distributes — shard =
    * doc_id % 8, each shard packed independently in doc_id order
    * (curriculum order preserved within a shard), a new pack opened
    * when the next doc would overflow the budget (an oversized doc
    * gets a pack of its own).
    *
    * Scale shape: greedy packing is inherently sequential, so the
    * distributed form IS the sharded form — ONE shuffle to co-locate
    * each shard, a sort within partitions, then a STREAMING
    * mapPartitions scan with O(1) state (shard boundaries reset the
    * accumulator; a partition may carry several whole shards). No
    * per-group buffering — the 100 TB corpus never materializes a
    * shard in memory. Deterministic in (shard, doc_id), so the DuckDB
    * oracle replays the exact assignment with a recursive CTE.
    */
  def q96SequencePacking(spark: SparkSession, dir: String): DataFrame =
    packingAssignment(spark, dir,
      size(split(col("text"), " ")).cast("long"))

  /** The packing dataflow, parameterized by the per-doc token-count
    * expression — ONE definition drives q96 (whitespace tokens) and
    * q141 (real BPE subword tokens), so the two budgets provably run
    * the identical assignment machinery.
    */
  private def packingAssignment(spark: SparkSession, dir: String,
                                tokenCount: org.apache.spark.sql.Column)
      : DataFrame = {
    import spark.implicits._
    val budget = 512L
    val shards = 8
    Tables(spark, dir, "documents")
      .select(pmod(col("doc_id"), lit(shards)).cast("int").as("shard"),
        col("doc_id"),
        tokenCount.as("n_tokens"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        var curShard = Int.MinValue
        var pack = 0L
        var acc = 0L
        it.map { case (sh, id, n) =>
          if (sh != curShard) { curShard = sh; pack = 0L; acc = 0L }
          if (acc + n > budget && acc > 0) { pack += 1; acc = 0L }
          acc += n
          (sh, id, n, pack)
        }
      }
      .toDF("shard", "doc_id", "n_tokens", "pack_id")
      .orderBy(col("shard"), col("doc_id"))
  }

  /** ✚ packing under the REAL tokenizer's budget — q96's exact
    * assignment dataflow (shared body) with the per-doc count coming
    * from [[graft.ext.BpeTokenizer.tokenCount]] under q140's merge
    * table: the packing budget a training run actually enforces is
    * SUBWORDS, not whitespace words, and with the engine's native BPE
    * kernel the budget needs no second tokenizer outside the engine.
    * The oracle splices q140's per-word replace chain into q96's
    * recursive packing CTE.
    */
  def q141BpePacking(spark: SparkSession, dir: String): DataFrame =
    packingAssignment(spark, dir,
      graft.ext.BpeTokenizer.tokenCount(col("text"), BpeMerges))

  val q96Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT CAST(doc_id % 8 AS INT) AS shard, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      |  FROM documents),
      |p(shard, doc_id, n_tokens, rn, pack_id, acc) AS (
      |  SELECT shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
      |    CASE WHEN p.acc + d.n_tokens > 512 THEN p.pack_id + 1
      |         ELSE p.pack_id END,
      |    CASE WHEN p.acc + d.n_tokens > 512 THEN d.n_tokens
      |         ELSE p.acc + d.n_tokens END
      |  FROM p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)
      |SELECT shard, doc_id, n_tokens, pack_id FROM p
      |ORDER BY shard, doc_id""".stripMargin

  /** ✚ LSH candidate recall gate — the text-dedup analog of q93's ANN
    * gate: q30/q47 prove the banding replays exactly, this grades how
    * much of the TRUE near-dup set the banding finds. Ground truth =
    * brute-force exact Jaccard ≥ 0.9 over all pairs of the q47 slice
    * (bounded: 300 docs ≈ 45 k pairs — affordable exactly because it
    * is the slice, which is the point of having the LSH path at all;
    * the cap is executable via [[BoundedPairs.allPairs]]);
    * found = the banded pipeline's verified pairs. Every LSH output
    * pair is exact-verified, so found ⊆ true and recall is one
    * division, replayed exactly by the oracle. The theoretical floor
    * at exactly J = 0.9 is 1−(1−0.9⁸)³ ≈ 0.81; measured on the
    * fixtures: 0.951 (sf0.001) / 0.948 (sf0.01) / 0.936 (sf0.1) —
    * the ≥ 0.9 floor asserted in CurationQueriesSpec.
    */
  def q97LshRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 300)
    val base = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 1).as("sh"))
    val exact = BoundedPairs.allPairs(base, "id")
      .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.9)
      .agg(count(lit(1)).as("n_true"))
    val found = Dedup.lshNearDupPairs(docs, "text", "doc_id",
        shingleWidth = 1, numHashes = 24, numBands = 3, threshold = 0.9)
      .agg(count(lit(1)).as("n_found"))
    exact.crossJoin(found)
      .select(col("n_true"), col("n_found"),
        round(col("n_found").cast("double") / col("n_true"), 4).as("recall"))
  }

  val q97Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS sh
      |  FROM documents WHERE doc_id < 300),
      |ex AS (
      |  SELECT count(*) AS n_true FROM d a JOIN d b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
      |h AS (
      |  SELECT doc_id, sh,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('a#'||s),1,13) AS BIGINT)) AS h1,
      |    list_transform(sh, s -> CAST('0x'||substr(md5('b#'||s),1,13) AS BIGINT)) AS h2
      |  FROM d),
      |sig AS (
      |  SELECT doc_id, sh,
      |    [list_min(list_transform(list_zip(h1, h2), z -> z[1] + i*z[2]))
      |     for i in range(0, 24)] AS sg
      |  FROM h),
      |bands AS (
      |  SELECT doc_id, b,
      |    md5(sg[8*b+1]||'|'||sg[8*b+2]||'|'||sg[8*b+3]||'|'||sg[8*b+4]||'|'||
      |        sg[8*b+5]||'|'||sg[8*b+6]||'|'||sg[8*b+7]||'|'||sg[8*b+8]) AS bh
      |  FROM sig, range(3) r(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |fnd AS (
      |  SELECT count(*) AS n_found
      |  FROM cand c JOIN h a ON a.doc_id = c.ia JOIN h b ON b.doc_id = c.ib
      |  WHERE CAST(len(list_intersect(a.h1, b.h1)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.h1, b.h1))) >= 0.9)
      |SELECT n_true, n_found,
      |  round(CAST(n_found AS DOUBLE) / n_true, 4) AS recall
      |FROM ex, fnd""".stripMargin

  /** ✚ PII redaction scrub — the curation step every released corpus
    * runs: emails / IPv4s / phone numbers replaced with typed
    * placeholders, per-doc match counts as the audit artifact, and an
    * md5 fingerprint of the scrubbed text gating the exact output.
    * The fixture text contains no PII, so the gate INJECTS a
    * deterministic synthetic battery first (the q89 audio pattern:
    * synthesized input, real operator) — emails on doc_id % 3 ≠ 0
    * (a second one on % 7 = 0), an IP on % 2 = 0, a phone on % 5 = 0 —
    * then scrubs with [[TextStats.redactPii]] and counts with
    * [[TextStats.piiCounts]]. Patterns are restricted to the regex
    * subset java.util.regex and RE2 interpret identically, so DuckDB
    * replays scrub, counts, and fingerprints bit-for-bit.
    *
    * Scale shape: pure map-side column expressions — scrubbing is a
    * scan, no shuffle until the final (bounded) orderBy.
    */
  def q98PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val injected = concat(col("text"),
      when(id % 3 =!= 0,
        concat(lit(" mail user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(id % 7 === 0,
        concat(lit(" cc backup"), id.cast("string"), lit("@mail.org")))
        .otherwise(lit("")),
      when(id % 2 === 0,
        concat(lit(" host 10.0."), (id % 256).cast("string"), lit(".1")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" tel 555-"), lpad((id % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val (ne, ni, np) = TextStats.piiCounts(injected)
    Tables(spark, dir, "documents")
      .filter(id < 200)
      .select(id,
        ne.as("n_email"), ni.as("n_ip"), np.as("n_phone"),
        md5(TextStats.redactPii(injected)).as("scrubbed_md5"))
      .orderBy(id)
  }

  val q98Sql: String =
    """WITH inj AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 3 <> 0
      |         THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' cc backup' || CAST(doc_id AS VARCHAR) || '@mail.org'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0
      |         THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      |              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |         ELSE '' END AS t
      |  FROM documents WHERE doc_id < 200),
      |e1 AS (
      |  SELECT doc_id, t,
      |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |      '<EMAIL>', 'g') AS t1
      |  FROM inj),
      |e2 AS (
      |  SELECT doc_id, t, t1,
      |    regexp_replace(t1,
      |      '\b(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b',
      |      '<IP>', 'g') AS t2
      |  FROM e1)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |  len(regexp_extract_all(t1, '\b(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b')) AS n_ip,
      |  len(regexp_extract_all(t2, '\b555-\d{3}-\d{4}\b')) AS n_phone,
      |  md5(regexp_replace(t2, '\b555-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS scrubbed_md5
      |FROM e2 ORDER BY doc_id""".stripMargin

  /** ✚ deterministic train/val/test split assignment — the last step
    * before a corpus ships: each doc's split is a pure function of its
    * id (md5 bucket 0–99 → 90/5/5), so re-runs, retries, and future
    * incremental additions NEVER move a document across splits (the
    * leakage a random split with a seed still risks when the corpus
    * grows). The gate audits what a hash split is audited for:
    * per-split × language doc/token counts, which must come out
    * proportional per language if the hash is sound — and the
    * portable md5 bucket means DuckDB replays the exact assignment.
    *
    * Scale shape: the split column is map-side; one grouped shuffle
    * for the (split, lang) audit rollup.
    */
  def q100HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(Dedup.hexHash(col("doc_id").cast("string"), "sp#"),
      lit(100L))
    val splitCol = when(bucket < 90, "train")
      .when(bucket < 95, "val").otherwise("test")
    Tables(spark, dir, "documents")
      .select(splitCol.as("split"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  val q100Sql: String =
    """WITH b AS (
      |  SELECT CAST('0x'||substr(md5('sp#'||CAST(doc_id AS VARCHAR)),1,13) AS BIGINT) % 100 AS bk,
      |    lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents)
      |SELECT CASE WHEN bk < 90 THEN 'train'
      |            WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
      |  lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  /** ✚ corpus snapshot diff — the incremental-ingestion audit
    * primitive: two snapshots compared by content hash via one
    * full-outer join on doc id, each doc classified
    * added / removed / changed / unchanged. The fixture simulates the
    * two snapshots deterministically (old drops doc_id % 5 = 0, new
    * drops % 11 = 0 and revises the text of % 7 = 0), so every status
    * class is populated and the oracle replays the exact rollup.
    *
    * Scale shape: content hashes are map-side; the diff is ONE
    * doc_id-keyed shuffle join regardless of corpus width (hashes
    * travel, text does not) — at 100 TB this is how each ingestion
    * run decides what to re-process instead of re-reading everything.
    */
  def q101SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h_old"))
    val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
          .as("h_new"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .select(when(col("h_old").isNull, "added")
        .when(col("h_new").isNull, "removed")
        .when(col("h_old") === col("h_new"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("status"))
  }

  /** ✚ substring-level exact dedup (the sub-document dedup family —
    * repeated long substrings scrubbed ACROSS documents, the public
    * 50-token-window method at a gate-scale k=8): documents with a
    * deterministically injected cross-document boilerplate sentence
    * (appended on doc_id%7, prepended on doc_id%11 — the %77 overlap
    * resolves by CASE order identically on both engines) run through
    * [[graft.ext.SubstringDedup.dedup]], rolled up per source. The
    * oracle replays EVERYTHING relationally in DuckDB: the per-token
    * rolling hash (q41's fold), the k-token window polynomial (the
    * rolling update is an algebraic rearrangement — same values), the
    * min-doc-id keep-one election, and the span-removal sweep (as a
    * position comprehension), down to `clean_fp` folding an
    * md5-prefix of every document's RECONSTRUCTED post-removal text —
    * so the hash pins the exact cleaned corpus, not just counts. The
    * un-injected corpus carries natural cross-doc window repeats too
    * (small shared vocab), so the gate exercises organic duplicates
    * beside the planted ones.
    */
  def q123SubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" " + boiler)))
          .when(col("doc_id") % 11 === 0, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
    graft.ext.SubstringDedup.dedup(docs, "text", "doc_id", k = 8)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           sum(col("removed_windows")).as("removed_windows"),
           sum(col("removed_tokens")).as("removed_tokens"),
           sum(when(col("removed_tokens") > 0, 1L).otherwise(0L))
             .as("n_docs_touched"),
           sum(conv(substring(md5(col("clean_text")), 1, 6), 16, 10)
             .cast("long")).as("clean_fp"))
      .orderBy(col("source"))
  }

  val q123Sql: String =
    """WITH d0 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' lorem ipsum dolor sit amet consectetur adipiscing elit sed do'
      |         WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet consectetur adipiscing elit sed do ' || text
      |         ELSE text END AS text
      |  FROM documents),
      |tok AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM d0),
      |th AS (
      |  SELECT doc_id,
      |    list_transform(w, t -> list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 2147483647)) AS h1,
      |    list_transform(w, t -> list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 131 + b) % 2147483647)) AS h2
      |  FROM tok),
      |win AS (
      |  SELECT doc_id, s.p AS pos, s.h AS wh
      |  FROM (SELECT doc_id,
      |          unnest([{'p': i - 1,
      |                   'h': list_reduce(list_prepend(CAST(0 AS BIGINT), h1[i:i+7]),
      |                          (a, b) -> (a * 1000003 + b) % 2147483647) * 2147483648
      |                      + list_reduce(list_prepend(CAST(0 AS BIGINT), h2[i:i+7]),
      |                          (a, b) -> (a * 999983 + b) % 2147483647)}
      |                  for i in range(1, len(h1) - 6)]) AS s
      |        FROM th)),
      |keep AS (
      |  SELECT wh, min(doc_id) AS keep_id FROM win
      |  GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
      |rem AS (
      |  SELECT w.doc_id, list_sort(list(w.pos)) AS st
      |  FROM win w JOIN keep k ON w.wh = k.wh
      |  WHERE w.doc_id <> k.keep_id GROUP BY w.doc_id),
      |clean AS (
      |  SELECT t.doc_id, t.source, len(t.w) AS n_tokens,
      |    coalesce(len(r.st), 0) AS removed_windows,
      |    [t.w[i] for i in range(1, len(t.w) + 1)
      |       if len(list_filter(coalesce(r.st, []), x -> i - 1 >= x AND i - 1 < x + 8)) = 0] AS kept
      |  FROM tok t LEFT JOIN rem r USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(removed_windows) AS BIGINT) AS removed_windows,
      |  CAST(sum(n_tokens - len(kept)) AS BIGINT) AS removed_tokens,
      |  CAST(sum(CASE WHEN n_tokens > len(kept) THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched,
      |  CAST(sum(CAST('0x' || substr(md5(coalesce(array_to_string(kept, ' '), '')), 1, 6) AS BIGINT)) AS BIGINT) AS clean_fp
      |FROM clean GROUP BY source ORDER BY source""".stripMargin

  /** ✚ int8-quantized ANN search — the MEMORY-scale path of the
    * similarity family ([[graft.ext.Quantize]]): symmetric per-vector
    * scalar quantization (scale = max|x|/127, codes =
    * clamp(floor(x/scale + 0.5), ±127)) shrinks a float corpus 4×,
    * and search runs on EXACT integer dot products
    * ([[graft.functions.QuantizedDot]]) with the per-vector scales
    * cancelling out of the cosine ratio. The oracle replays the WHOLE
    * path bit-for-bit — the quantization formula (IEEE double
    * division/floor/clamp is engine-portable, and `floor(v+0.5)` is
    * used instead of `round(v)` precisely because round's half-cases
    * are NOT portable), the integer dot (exact below 2^53 even
    * through DuckDB's double-typed list kernel), the cosine ranking,
    * and the per-query recall@10 against the float brute-force ground
    * truth — so the hash pins both the exact int8 codes and the
    * approximation quality (QuantizeSpec asserts recall ≥ 0.9 per
    * query; 64-dim vectors lose little to int8). Corpus = the
    * [[clusteredVecs]] clustered+noise fixture (r20, closing the r18
    * ask): ground-truth neighbor sets are distinct instead of
    * tie-saturated, so the recall column certifies int8 fidelity
    * against a REAL ranking, not an arbitrary tie-break.
    */
  def q124QuantizedKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = clusteredVecs(spark, dir)
    val k = 10
    val queries = e.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceKnn(e, queries, k)
    val quant = Quantize.bruteForceKnnQuantized(e, queries, k)
    val recall = truth.select(col("query_id"), col("neighbor_id"))
      .join(quant.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(round(count(col("hit")).cast("double") / count(lit(1)), 4)
        .as("recall"))
    quant.join(recall, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("qdot"), col("qcos"), col("recall"))
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val q124Sql: String =
    s"""WITH $pqVSql,
      |s AS (
      |  SELECT vec_id, e AS emb,
      |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      |  FROM v),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(emb, x -> CASE WHEN scale <= 0 THEN 0.0
      |      ELSE least(greatest(floor(x / scale + 0.5), -127.0), 127.0) END) AS qvd
      |  FROM s),
      |n AS (
      |  SELECT vec_id, qvd,
      |    CAST(list_dot_product(qvd, qvd) AS BIGINT) AS qnorm FROM q),
      |p AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_dot_product(a.qvd, b.qvd) AS BIGINT) AS qdot,
      |    a.qnorm AS qn, b.qnorm AS cn
      |  FROM n a CROSS JOIN n b WHERE a.vec_id < 5),
      |sc AS (
      |  SELECT query_id, neighbor_id, qdot,
      |    CASE WHEN qn = 0 OR cn = 0 THEN NULL
      |         ELSE least(greatest(CAST(qdot AS DOUBLE)
      |                / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))),
      |              -1.0), 1.0) END AS qcos
      |  FROM p),
      |qt AS (
      |  SELECT query_id, neighbor_id, qdot, qcos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY qcos DESC, neighbor_id) AS rank
      |  FROM sc),
      |topq AS (SELECT * FROM qt WHERE rank <= 10),
      |brute AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q2.vec_id
      |        ORDER BY list_cosine_similarity(q2.e, c.e) DESC,
      |                 c.vec_id) AS r
      |    FROM v q2 CROSS JOIN v c
      |    WHERE q2.vec_id < 5) t
      |  WHERE r <= 10),
      |rec AS (
      |  SELECT b.query_id,
      |    round(CAST(count(i.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
      |  FROM brute b LEFT JOIN topq i
      |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      |  GROUP BY b.query_id)
      |SELECT t.query_id, t.neighbor_id, t.rank, t.qdot, t.qcos, r.recall
      |FROM topq t JOIN rec r ON t.query_id = r.query_id
      |ORDER BY t.query_id, t.rank""".stripMargin

  /** ✚ published quality-rule battery ([[graft.ext.QualityRules]]) —
    * the Gopher/C4-family per-rule document filter: word-count bounds,
    * mean word length, symbol ratio, bullet/ellipsis line fractions,
    * alphabetic-word fraction, stop-word floor, and the C4
    * brace/"lorem ipsum" rejects, each emitted as its own failure
    * count per source (the knobs an operator tunes — q25 is the
    * composite SHAPE, this is the named battery). The fixture is
    * single-line prose, so each line/boiler rule gets deterministic
    * dirt injected (CASE order resolves overlaps identically on both
    * engines): braces+lorem on %13, a '#' run on %17, an all-bullet
    * multi-line rewrite on %19, ellipsis-terminated lines on %23;
    * word-count / stop-word / mean-word-length failures occur
    * organically. Every signal is an integer count and every
    * threshold an integer cross-multiplication (`10*symbols <=
    * words`), so the oracle replays all nine flags bit-for-bit —
    * no float boundary anywhere.
    */
  def q125QualityRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" see { lorem ipsum } now")))
          .when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" # # # # # # # # # # # #")))
          .when(col("doc_id") % 19 === 0,
            concat(lit("- "), col("text"),
              lit("\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j")))
          .when(col("doc_id") % 23 === 0,
            concat(col("text"),
              lit("\nwait for it ...\nand more ...\nyet more ...")))
          .otherwise(col("text")).as("text"))
    val battery = graft.ext.QualityRules.battery(docs)
    val failCounts = graft.ext.QualityRules.RuleCols.map(r =>
      sum(when(!col(r), 1L).otherwise(0L)).as(s"f_${r.stripPrefix("r_")}"))
    val aggs = (count(lit(1)).as("n_docs") +: failCounts) :+
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep")
    battery.groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("source"))
  }

  val q125Sql: String =
    """WITH d0 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 13 = 0 THEN text || ' see { lorem ipsum } now'
      |         WHEN doc_id % 17 = 0 THEN text || ' # # # # # # # # # # # #'
      |         WHEN doc_id % 19 = 0 THEN '- ' || text || chr(10) ||
      |           '- b' || chr(10) || '- c' || chr(10) || '- d' || chr(10) ||
      |           '- e' || chr(10) || '- f' || chr(10) || '- g' || chr(10) ||
      |           '- h' || chr(10) || '- i' || chr(10) || '- j'
      |         WHEN doc_id % 23 = 0 THEN text || chr(10) ||
      |           'wait for it ...' || chr(10) || 'and more ...' || chr(10) ||
      |           'yet more ...'
      |         ELSE text END AS text
      |  FROM documents),
      |sig AS (
      |  SELECT source,
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
      |  FROM d0),
      |fl AS (
      |  SELECT source,
      |    (n_words >= 50 AND n_words <= 100000) AS r_word_count,
      |    (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10) AS r_mean_word_len,
      |    (n_symbols * 10 <= n_words) AS r_symbol_ratio,
      |    (n_bullet * 10 <= n_lines * 9) AS r_bullet_lines,
      |    (n_ellipsis * 10 <= n_lines * 3) AS r_ellipsis_lines,
      |    (n_alpha * 5 >= n_words * 4) AS r_alpha_words,
      |    (n_stop >= 2) AS r_stopwords,
      |    (NOT has_brace) AS r_no_brace,
      |    (NOT has_lorem) AS r_no_lorem
      |  FROM sig)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN NOT r_word_count THEN 1 ELSE 0 END) AS BIGINT) AS f_word_count,
      |  CAST(sum(CASE WHEN NOT r_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS f_mean_word_len,
      |  CAST(sum(CASE WHEN NOT r_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol_ratio,
      |  CAST(sum(CASE WHEN NOT r_bullet_lines THEN 1 ELSE 0 END) AS BIGINT) AS f_bullet_lines,
      |  CAST(sum(CASE WHEN NOT r_ellipsis_lines THEN 1 ELSE 0 END) AS BIGINT) AS f_ellipsis_lines,
      |  CAST(sum(CASE WHEN NOT r_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha_words,
      |  CAST(sum(CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS f_stopwords,
      |  CAST(sum(CASE WHEN NOT r_no_brace THEN 1 ELSE 0 END) AS BIGINT) AS f_no_brace,
      |  CAST(sum(CASE WHEN NOT r_no_lorem THEN 1 ELSE 0 END) AS BIGINT) AS f_no_lorem,
      |  CAST(sum(CASE WHEN r_word_count AND r_mean_word_len AND r_symbol_ratio
      |       AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
      |       AND r_stopwords AND r_no_brace AND r_no_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      |FROM fl GROUP BY source ORDER BY source""".stripMargin

  /** ✚ IVF × int8 — the quantized family's full production
    * composition, oracle-gated: float centroid probe ranking (q35's
    * exact assignment/probe dataflow, 8 centroids, nprobe=2) over the
    * QUANTIZED assigned corpus, candidates ranked by exact integer
    * dots. The oracle composes q35's assignment CTEs with q124's
    * quantization CTEs — every stage (float argmax assignment, probe
    * selection, int8 codes, integer dot, cosine ranking) replayed
    * bit-for-bit, so the hash pins the COMPOSITION seam (a quantized
    * corpus row ranked in the wrong probed cluster, or re-coded
    * differently from its float twin, breaks it).
    */
  def q127QuantizedIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val centroids = e.filter(col("vec_id") < 8)
    val queries = e.filter(col("vec_id") < 3)
    val assignedQ = Quantize.quantize(
      Similarity.assignToCentroids(e, centroids))
    Quantize.ivfKnnQuantized(assignedQ, centroids, queries,
        k = 5, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  val q127Sql: String =
    """WITH cos AS (
      |  SELECT v.vec_id, v.embedding, c.vec_id AS centroid_id,
      |    list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS c_cos
      |  FROM embeddings v CROSS JOIN embeddings c WHERE c.vec_id < 8),
      |assigned AS (
      |  SELECT vec_id AS neighbor_id, centroid_id FROM (
      |    SELECT vec_id, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY c_cos DESC, centroid_id) AS rn
      |    FROM cos) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, centroid_id FROM (
      |    SELECT vec_id, centroid_id,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY c_cos DESC, centroid_id) AS rn
      |    FROM cos WHERE vec_id < 3) t WHERE rn <= 2),
      |s AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(emb, x -> CASE WHEN scale <= 0 THEN 0.0
      |      ELSE least(greatest(floor(x / scale + 0.5), -127.0), 127.0) END) AS qvd
      |  FROM s),
      |n AS (
      |  SELECT vec_id, qvd,
      |    CAST(list_dot_product(qvd, qvd) AS BIGINT) AS qnorm FROM q),
      |scored AS (
      |  SELECT p.query_id, a.neighbor_id,
      |    CAST(list_dot_product(nq.qvd, nc.qvd) AS BIGINT) AS qdot,
      |    nq.qnorm AS qn, nc.qnorm AS cn
      |  FROM probes p
      |  JOIN assigned a ON p.centroid_id = a.centroid_id
      |  JOIN n nq ON nq.vec_id = p.query_id
      |  JOIN n nc ON nc.vec_id = a.neighbor_id),
      |sc AS (
      |  SELECT query_id, neighbor_id, qdot,
      |    CASE WHEN qn = 0 OR cn = 0 THEN NULL
      |         ELSE least(greatest(CAST(qdot AS DOUBLE)
      |                / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))),
      |              -1.0), 1.0) END AS qcos
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, qdot, qcos FROM (
      |  SELECT query_id, neighbor_id, qdot, qcos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY qcos DESC, neighbor_id) AS rank
      |  FROM sc) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ✚ bigram LM quality scoring — q94's unigram dataflow upgraded to
    * the bigram model (the stronger classic LM-filtering proxy: a doc
    * whose ADJACENT-PAIR distribution diverges from the corpus is
    * gibberish even when its unigrams are common — word-salad passes a
    * unigram filter, not this). Same bit-portable rational form as
    * q94: top-V corpus bigram vocabulary (count desc, gram asc — the
    * boundary tie is deterministic), broadcast to the bigram stream,
    * per-doc OOV-bigram rate + mean matched-bigram corpus frequency —
    * integer sums, one final division. Bigrams come from the native
    * `word_ngrams` expression ('_'-joined windows; the oracle rebuilds
    * them with a position comprehension).
    *
    * Scale shape: identical to q94 — two bounded shuffles (vocab
    * group-by, per-doc agg) + one broadcast; the corpus bigram stream
    * never shuffles for scoring.
    */
  def q128BigramQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val bgs = docs.select(col("doc_id"),
      explode(TextStats.ngrams(col("text"), 2)).as("bg"))
    val vocab = bgs.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bg")).limit(500)
    bgs.join(broadcast(vocab), Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("cnt").isNull, 1)).as("n_oov_bg"),
        round(sum(coalesce(col("cnt"), lit(0L))).cast("double")
          / count(lit(1)), 4).as("mean_bg_freq"))
      .filter(col("doc_id") < 200)
      .orderBy(col("doc_id"))
  }

  val q128Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest([w[i] || '_' || w[i + 1] for i in range(1, len(w))]) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      |v0 AS (SELECT bg, count(*) AS cnt FROM t GROUP BY bg),
      |v AS (SELECT bg, cnt FROM v0 ORDER BY cnt DESC, bg LIMIT 500)
      |SELECT t.doc_id AS doc_id, count(*) AS n_bigrams,
      |  count(*) FILTER (v.bg IS NULL) AS n_oov_bg,
      |  round(CAST(sum(coalesce(v.cnt, 0)) AS DOUBLE) / count(*), 4) AS mean_bg_freq
      |FROM t LEFT JOIN v ON t.bg = v.bg
      |WHERE t.doc_id < 200
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** ✚ URL canonicalization + URL-keyed dedup ([[graft.ext.UrlOps]])
    * — the pass that precedes content dedup in web-corpus pipelines:
    * the same page arriving as http/https, with/without `www.`, with
    * tracking params, trailing slashes and fragments must collapse to
    * ONE normalized key. URLs are synthesized deterministically from
    * documents with every variant class injected (scheme by %2, www
    * by %3, tracking-param mixes by %5/%4, trailing slash by %7,
    * fragment by %11; the host's TLD alternates .com/.co.uk so the
    * suffix-aware registered-domain rule exercises both branches).
    * The oracle replays construction, the full normalization (regex
    * strips, host lowercase, param filter + SORT, slash trim) and the
    * registered-domain extraction; `norm_fp`/`dom_fp` fold an
    * md5-prefix of every normalized string into the hash, so the gate
    * pins the exact canonical keys, not just their counts.
    */
  def q129UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.UrlOps
    val page = (col("doc_id") % 50).cast("string")
    val url = concat(
      when(col("doc_id") % 2 === 0, "https").otherwise("http"),
      lit("://"),
      when(col("doc_id") % 3 === 0, "www.").otherwise(""),
      lit("host-"), col("source"),
      // %3, not %2: doc_ids stride by the source count (even), so a
      // %2 branch would be CONSTANT within every source and the
      // registered-domain rule would never see both TLDs per group
      when(col("doc_id") % 3 === 1, ".example.co.uk")
        .otherwise(".example.com"),
      lit("/docs/"), page,
      when(col("doc_id") % 7 === 0, "/").otherwise(""),
      when(col("doc_id") % 5 === 0, concat(lit("?utm_source=feed&id="), page))
        .when(col("doc_id") % 4 === 0,
          concat(lit("?id="), page, lit("&utm_medium=x")))
        .otherwise(""),
      when(col("doc_id") % 11 === 0, "#sec").otherwise(""))
    Tables(spark, dir, "documents")
      .select(col("source"), url.as("url"))
      .withColumn("norm", UrlOps.normalizeUrl(col("url")))
      .withColumn("dom", UrlOps.registeredDomain(col("url")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("norm")).as("n_unique"),
        countDistinct(col("dom")).as("n_domains"),
        sum(conv(substring(md5(col("norm")), 1, 6), 16, 10)
          .cast("long")).as("norm_fp"),
        sum(conv(substring(md5(col("dom")), 1, 6), 16, 10)
          .cast("long")).as("dom_fp"))
      .orderBy(col("source"))
  }

  val q129Sql: String =
    """WITH u AS (
      |  SELECT source,
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
      |  FROM documents),
      |n AS (
      |  SELECT source, regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(url,
      |    '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
      |    '^[^/?@]*@', ''), '^www\.', '') AS noww
      |  FROM u),
      |parts AS (
      |  SELECT source,
      |    regexp_replace(lower(regexp_extract(noww, '^[^/?]*')),
      |      ':(80|443)$', '') AS host,
      |    regexp_replace(noww, '^[^/?]*', '') AS rest
      |  FROM n),
      |pq AS (
      |  SELECT source, host,
      |    CASE WHEN regexp_replace(rest, '\?.*$', '') = '/' THEN ''
      |         ELSE regexp_replace(regexp_replace(rest, '\?.*$', ''), '/$', '') END AS path,
      |    CASE WHEN contains(rest, '?') THEN regexp_replace(rest, '^[^?]*\?', '')
      |         ELSE '' END AS query
      |  FROM parts),
      |norm AS (
      |  SELECT source, host,
      |    host || path ||
      |      CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
      |           ELSE '' END AS norm
      |  FROM (
      |    SELECT *, list_sort(list_filter(string_split(query, '&'),
      |      p -> p <> '' AND NOT (p LIKE 'utm\_%' ESCAPE '\'
      |        OR p LIKE 'fbclid=%' OR p LIKE 'gclid=%' OR p LIKE 'ref=%'
      |        OR p = 'fbclid' OR p = 'gclid' OR p = 'ref'))) AS kept
      |    FROM pq)),
      |dom AS (
      |  SELECT source, norm,
      |    CASE WHEN len(hp) <= 2 THEN host
      |         WHEN (hp[-2] || '.' || hp[-1]) IN ('co.uk','org.uk','ac.uk',
      |             'com.au','net.au','co.jp','co.nz','com.br','co.in')
      |             AND len(hp) >= 3
      |           THEN hp[-3] || '.' || hp[-2] || '.' || hp[-1]
      |         ELSE hp[-2] || '.' || hp[-1] END AS dom
      |  FROM (SELECT source, norm, host, string_split(host, '.') AS hp FROM norm))
      |SELECT source, count(*) AS n_urls,
      |  count(DISTINCT norm) AS n_unique,
      |  count(DISTINCT dom) AS n_domains,
      |  CAST(sum(CAST('0x' || substr(md5(norm), 1, 6) AS BIGINT)) AS BIGINT) AS norm_fp,
      |  CAST(sum(CAST('0x' || substr(md5(dom), 1, 6) AS BIGINT)) AS BIGINT) AS dom_fp
      |FROM dom GROUP BY source ORDER BY source""".stripMargin

  val q101Sql: String =
    """WITH o AS (
      |  SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id % 5 <> 0),
      |n AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h_new
      |  FROM documents WHERE doc_id % 11 <> 0),
      |j AS (
      |  SELECT CASE WHEN o.h_old IS NULL THEN 'added'
      |              WHEN n.h_new IS NULL THEN 'removed'
      |              WHEN o.h_old = n.h_new THEN 'unchanged'
      |              ELSE 'changed' END AS status
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT status, count(*) AS n_docs FROM j
      |GROUP BY status ORDER BY status""".stripMargin

  /** ✚ bloom-filter decontamination ([[graft.ext.BloomDecontam]]) —
    * the BROADCAST-BITS shape of the eval-overlap check (q55 is the
    * exact-join shape; this is what a 100 TB run actually deploys:
    * fold the benchmark's n-grams into a bloom once, broadcast the
    * bit array, flag documents in the text scan map-side — zero
    * joins). Reference set = every doc_id % 31 document's distinct
    * 5-grams; the filter is deliberately sized (32768 bits, k=3) so
    * false POSITIVES occur and their accounting is in the hash, while
    * `d_missed` pins the zero-false-NEGATIVE guarantee executably on
    * both engines. The oracle replays membership exactly — a bloom
    * bitset IS the distinct position set of the reference grams, so
    * SQL needs no bit arithmetic: gram positive ⇔ all 3 of its md5
    * lane positions (8-hex slices at offsets 1/9/17, mod 32768) join
    * the reference position set.
    */
  def q130BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.BloomDecontam
    val docs = Tables(spark, dir, "documents")
    val grams5 = array_distinct(TextStats.ngrams(col("text"), 5))
    val ref = docs.filter(col("doc_id") % 31 === 0)
      .select(explode(grams5).as("gram")).distinct()
    val bloom = BloomDecontam.build(ref, "gram", mBits = 32768, k = 3)
    val g = docs
      .select(col("doc_id"), col("source"), explode(grams5).as("gram"))
      .withColumn("bloom_hit", BloomDecontam.contains(bloom)(col("gram")))
    val perDoc = g
      .join(broadcast(ref.withColumn("exact_hit", lit(true))),
        Seq("gram"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom"),
        sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_exact"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_bloom") > 0, 1L).otherwise(0L)).as("d_bloom"),
        sum(when(col("n_exact") > 0, 1L).otherwise(0L)).as("d_exact"),
        sum(when(col("n_exact") > 0 && col("n_bloom") === 0, 1L)
          .otherwise(0L)).as("d_missed"),
        sum(col("n_bloom")).as("g_bloom"),
        sum(col("n_exact")).as("g_exact"))
      .orderBy(col("source"))
  }

  val q130Sql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id, source, gram FROM (
      |        SELECT doc_id, source,
      |          unnest([w[i]||'_'||w[i+1]||'_'||w[i+2]||'_'||w[i+3]||'_'||w[i+4]
      |                  for i in range(1, len(w) - 3)]) AS gram
      |        FROM w)),
      |r AS (SELECT DISTINCT gram FROM g WHERE doc_id % 31 = 0),
      |lanes AS (SELECT unnest([1, 9, 17]) AS off),
      |rp AS (SELECT DISTINCT (CAST('0x' || substr(md5(gram), off, 8) AS BIGINT) % 32768) AS p
      |       FROM r CROSS JOIN lanes),
      |cp AS (SELECT g.doc_id, g.source, g.gram,
      |         (CAST('0x' || substr(md5(g.gram), off, 8) AS BIGINT) % 32768) AS p
      |       FROM g CROSS JOIN lanes),
      |bh AS (SELECT doc_id, source, gram, (count(rp.p) = 3) AS bloom_hit
      |       FROM cp LEFT JOIN rp ON cp.p = rp.p
      |       GROUP BY doc_id, source, gram),
      |ex AS (SELECT gram, TRUE AS exact_hit FROM r),
      |pd AS (SELECT b.doc_id, b.source,
      |         sum(CASE WHEN b.bloom_hit THEN 1 ELSE 0 END) AS n_bloom,
      |         sum(CASE WHEN e.exact_hit THEN 1 ELSE 0 END) AS n_exact
      |       FROM bh b LEFT JOIN ex e ON b.gram = e.gram
      |       GROUP BY b.doc_id, b.source)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_bloom > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_bloom,
      |  CAST(sum(CASE WHEN n_exact > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_exact,
      |  CAST(sum(CASE WHEN n_exact > 0 AND n_bloom = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_missed,
      |  CAST(sum(n_bloom) AS BIGINT) AS g_bloom,
      |  CAST(sum(n_exact) AS BIGINT) AS g_exact
      |FROM pd GROUP BY source ORDER BY source""".stripMargin

  /** ✚ per-document salient-term extraction ([[graft.ext.Keywords]])
    * — tf·idf keyword tagging with the score in EXACT fixed-point
    * integer form (`(tf × 10^9) div df` — raw-frequency idf, the N
    * constant dropped as per-doc-rank-invariant), so the oracle
    * replays the ranking bit-for-bit with integer division. The
    * per-doc top-3 runs through the custom
    * [[graft.plans.TopKPerKey]] operator (map-side partial top-k —
    * the scored term stream reaches the exchange at ≤ k rows per doc
    * per partition); the oracle is the equivalent window-function
    * formulation, so the gate also pins TopKPerKey ≡ row_number on a
    * live corpus beyond TopKPerKeySpec's fixtures.
    */
  def q131TfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Keywords.tfidfTopK(
        Tables(spark, dir, "documents"), "text", "doc_id", k = 3)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_q"))
      .orderBy(col("doc_id"), col("term"))

  val q131Sql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |s AS (SELECT doc_id, tf.term AS term, tf, df,
      |        (tf * 1000000000) // df AS score_q
      |      FROM tf JOIN dfreq ON tf.term = dfreq.term)
      |SELECT doc_id, term, tf, df, score_q FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_q DESC, term) AS rn
      |  FROM s WHERE doc_id < 300) z
      |WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin

  /** ✚ paragraph-level exact dedup ([[graft.ext.ParagraphDedup]]) —
    * the blank-line-block granularity between q28's document level
    * and q123's token-window level: shared boilerplate paragraphs
    * (license block on doc_id % 4, subscribe prompt prepended on % 6,
    * per-source footer on % 9 — so election crosses sources AND stays
    * within them) are scrubbed from every document except the
    * minimum-id owner. The oracle replays the split (position
    * comprehension), the md5 keep-first election, and the in-order
    * reassembly, down to `clean_fp` folding an md5-prefix of every
    * document's reconstructed text — the exact cleaned corpus is in
    * the hash. The un-injected corpus contributes organic exact-dup
    * paragraphs wherever whole texts repeat.
    */
  def q132ParagraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val sub = "Subscribe to our newsletter for updates."
    val lic = "This work is licensed under the corpus license."
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 6 === 0, lit(sub + "\n\n")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 4 === 0, lit("\n\n" + lic)).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            concat(lit("\n\nfooter for "), col("source")))
            .otherwise(lit(""))).as("text"))
    graft.ext.ParagraphDedup.dedup(docs, "text", "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_paras")).as("n_paras"),
        sum(col("removed_paras")).as("removed_paras"),
        sum(when(col("removed_paras") > 0, 1L).otherwise(0L))
          .as("n_docs_touched"),
        sum(conv(substring(md5(col("clean_text")), 1, 6), 16, 10)
          .cast("long")).as("clean_fp"))
      .orderBy(col("source"))
  }

  val q132Sql: String =
    """WITH d0 AS (SELECT doc_id, source,
      |    (CASE WHEN doc_id % 6 = 0 THEN 'Subscribe to our newsletter for updates.' || chr(10) || chr(10) ELSE '' END)
      |    || text
      |    || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || chr(10) || 'This work is licensed under the corpus license.' ELSE '' END)
      |    || (CASE WHEN doc_id % 9 = 0 THEN chr(10) || chr(10) || 'footer for ' || source ELSE '' END) AS text
      |  FROM documents),
      |sp AS (SELECT doc_id, source, string_split(text, chr(10) || chr(10)) AS ps FROM d0),
      |p AS (SELECT doc_id, u.pos AS pos, u.para AS para FROM (
      |        SELECT doc_id,
      |          unnest([{'pos': i - 1, 'para': ps[i]} for i in range(1, len(ps) + 1)]) AS u
      |        FROM sp)),
      |el AS (SELECT doc_id, pos, md5(para) AS ph FROM p WHERE para <> ''),
      |own AS (SELECT ph, min(doc_id) AS owner FROM el GROUP BY ph),
      |rem AS (SELECT e.doc_id, list_sort(list(e.pos)) AS dp
      |        FROM el e JOIN own o ON e.ph = o.ph WHERE e.doc_id <> o.owner
      |        GROUP BY e.doc_id),
      |cl AS (SELECT s.doc_id, s.source, len(s.ps) AS n_paras,
      |         coalesce(len(r.dp), 0) AS removed_paras,
      |         coalesce(array_to_string([s.ps[i] for i in range(1, len(s.ps) + 1)
      |            if NOT list_contains(coalesce(r.dp, []), i - 1)],
      |           chr(10) || chr(10)), '') AS clean_text
      |       FROM sp s LEFT JOIN rem r USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_paras) AS BIGINT) AS n_paras,
      |  CAST(sum(removed_paras) AS BIGINT) AS removed_paras,
      |  CAST(sum(CASE WHEN removed_paras > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched,
      |  CAST(sum(CAST('0x' || substr(md5(clean_text), 1, 6) AS BIGINT)) AS BIGINT) AS clean_fp
      |FROM cl GROUP BY source ORDER BY source""".stripMargin

  /** ✚ SemDeDup-style semantic dedup ([[graft.ext.SemDedup]]) — the
    * LEARNED-partition member of the embedding near-dup family (q33
    * is exact-quadratic, q69 is sign-bucketed): k-means-cluster the
    * corpus (q62's exact training pipeline, 16 seeds × 2 Lloyd
    * rounds), compare pairs ONLY within a cluster, cosine-verify at
    * the threshold, and elect one survivor (min id) per semantic
    * duplicate component. The output is one row per vector —
    * assignment, component representative, and keep flag all in the
    * hash — so a vector assigned to the wrong cluster, a pair
    * compared across clusters (SemDeDup's published miss semantics
    * forbid it), or a mis-elected representative each breaks the
    * gate. The oracle unrolls the same two training rounds (q62's
    * CTEs restricted to the gate slice), generates candidates with
    * the same cluster-equality join, and elects via the recursive-CC
    * reach (q47's formulation).
    */
  def q133SemDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.SemDedup
    val e = Tables(spark, dir, "embeddings").filter(col("vec_id") < 400)
    val centroids = Similarity.kmeansTrain(
      e, e.filter(col("vec_id") < 16), iters = 2, dims = 64)
    val (surv, census) = SemDedup.assignedSurvivorsWithStats(
      e, centroids, threshold = 0.35)
    require(!census.anyDropped,
      "q133: gate fixture must not hit the cluster cap")
    surv.select(col("id").as("vec_id"),
        col("centroid_id").cast("long").as("cid"),
        col("rep").cast("long").as("rep"),
        col("keep"))
      .orderBy(col("vec_id"))
  }

  /** ✚ Gopher repetition-rule battery
    * ([[graft.ext.RepetitionRules]]) — the within-document repetition
    * twin of q125's content battery: duplicate line/paragraph
    * fractions (count + character mass), top-n-gram character
    * coverage (n = 2–4), duplicated-n-gram character coverage
    * (n = 5–10), each flag its own failure count so the hash pins all
    * thirteen rules per source. Repetition dirt is injected
    * deterministically on disjoint residue classes (%13 duplicated
    * lines, %17 duplicated paragraphs, %19 a dominant bigram run,
    * %23 a twice-repeated 12-token sentence over a clipped head, CASE
    * order resolving overlaps); the un-clipped corpus contributes
    * organic repetition on every rule. Three raw signal sums
    * (dup-line chars, top-4-gram chars, dup-10-gram chars) ride along
    * so the exact integer arithmetic — not just the flags — is in the
    * hash. The oracle rebuilds all nine gram families with
    * unnest+group-by and the line/paragraph masses with the same
    * separator identities.
    */
  def q134RepetitionRules(spark: SparkSession, dir: String): DataFrame = {
    val dupLine = "\nthe same line" * 7
    val dupPara = "\n\nsame paragraph block" * 5
    val bigramRun = " alpha beta" * 30
    val sentence = " zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 0,
          concat(substring(col("text"), 1, 40), lit(dupLine)))
          .when(col("doc_id") % 17 === 0,
            concat(substring(col("text"), 1, 60), lit(dupPara)))
          .when(col("doc_id") % 19 === 0,
            concat(substring(col("text"), 1, 80), lit(bigramRun)))
          .when(col("doc_id") % 23 === 0,
            concat(substring(col("text"), 1, 200), lit(sentence * 2)))
          .otherwise(col("text")).as("text"))
    val battery = graft.ext.RepetitionRules.battery(docs)
    val failCounts = graft.ext.RepetitionRules.RuleCols.map(r =>
      sum(when(!col(r), 1L).otherwise(0L)).as(s"f_${r.stripPrefix("r_")}"))
    val aggs = (count(lit(1)).as("n_docs") +: failCounts) ++ Seq(
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
      sum(col("rep_dup_line_chars")).as("s_dup_line_chars"),
      sum(col("rep_top4_chars")).as("s_top4_chars"),
      sum(col("rep_dup10_chars")).as("s_dup10_chars"))
    battery.groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("source"))
  }

  // q134's oracle CTE builders, shared with the q136 pipeline
  // capstone so both oracles provably run the SAME repetition
  // arithmetic: one unnest+count family per n over a `w`-shaped CTE
  // (doc_id, w token list); top coverage = max over the max-count
  // grams of count*len (rank window), dup coverage = Σ count*len
  // over grams occurring ≥ 2 times
  private[queries] def repGramFamilyCte(n: Int, from: String): String =
    s"""g$n AS (
       |  SELECT doc_id,
       |    unnest([array_to_string(w[i:i+${n - 1}], '_')
       |            for i in range(1, len(w) - ${n - 2})]) AS g
       |  FROM $from),
       |c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g),""".stripMargin
  private[queries] def repTopCte(n: Int): String =
    s"""t$n AS (
       |  SELECT doc_id, max(c * length(g)) AS v FROM (
       |    SELECT doc_id, g, c,
       |      rank() OVER (PARTITION BY doc_id ORDER BY c DESC) AS rk
       |    FROM c$n) z WHERE rk = 1 GROUP BY doc_id),""".stripMargin
  private[queries] def repDupCte(n: Int): String =
    s"""d$n AS (
       |  SELECT doc_id,
       |    coalesce(sum(c * length(g)) FILTER (WHERE c >= 2), 0) AS v
       |  FROM c$n GROUP BY doc_id),""".stripMargin

  /** All nine gram families + coverage CTEs over a `w`-shaped CTE. */
  private[queries] def repFamiliesCtes(from: String): String =
    (2 to 10).map(repGramFamilyCte(_, from)).mkString("\n") + "\n" +
      (2 to 4).map(repTopCte).mkString("\n") + "\n" +
      (5 to 10).map(repDupCte).mkString("\n")

  /** The LEFT JOIN tail stitching the nine families onto a per-doc
    * relation aliased `ln`.
    */
  private[queries] val repFamilyJoins: String =
    (2 to 4).map(n => s"LEFT JOIN t$n ON t$n.doc_id = ln.doc_id")
      .mkString(" ") + " " +
      (5 to 10).map(n => s"LEFT JOIN d$n ON d$n.doc_id = ln.doc_id")
        .mkString(" ")

  /** The thirteen repetition flags from the signal columns — the one
    * definition of the threshold arithmetic on the oracle side.
    */
  private[queries] val repFlagSql: String =
    """    (dup_lines * 10 <= n_lines * 3) AS r_dup_lines,
      |    (dup_paras * 10 <= n_paras * 3) AS r_dup_paras,
      |    (dup_line_chars * 5 <= chars) AS r_dup_line_chars,
      |    (dup_para_chars * 5 <= chars) AS r_dup_para_chars,
      |    (top2 * 5 <= chars * 1) AS r_top2gram,
      |    (top3 * 50 <= chars * 9) AS r_top3gram,
      |    (top4 * 25 <= chars * 4) AS r_top4gram,
      |    (dup5 * 20 <= chars * 3) AS r_dup5gram,
      |    (dup6 * 50 <= chars * 7) AS r_dup6gram,
      |    (dup7 * 100 <= chars * 13) AS r_dup7gram,
      |    (dup8 * 25 <= chars * 3) AS r_dup8gram,
      |    (dup9 * 100 <= chars * 11) AS r_dup9gram,
      |    (dup10 * 10 <= chars * 1) AS r_dup10gram""".stripMargin

  /** Line/paragraph mass signals over a `w`-shaped CTE (needs ls/ps
    * split lists and chars beside the token list).
    */
  private[queries] def repLineCte(from: String): String =
    s"""ln AS (
       |  SELECT doc_id, source, chars,
       |    len(ls) AS n_lines,
       |    len(ls) - len(list_distinct(ls)) AS dup_lines,
       |    (chars - (len(ls) - 1))
       |      - length(array_to_string(list_distinct(ls), '')) AS dup_line_chars,
       |    len(ps) AS n_paras,
       |    len(ps) - len(list_distinct(ps)) AS dup_paras,
       |    (chars - (len(ps) - 1) * 2)
       |      - length(array_to_string(list_distinct(ps), '')) AS dup_para_chars
       |  FROM $from),""".stripMargin

  /** The per-doc repetition signal join (`sig` CTE) — families
    * stitched onto the line/para masses.
    */
  private[queries] val repSigCte: String =
    s"""sig AS (
       |  SELECT ln.doc_id, ln.source, ln.chars, ln.n_lines, ln.dup_lines,
       |    ln.dup_line_chars, ln.n_paras, ln.dup_paras, ln.dup_para_chars,
       |    coalesce(t2.v, 0) AS top2, coalesce(t3.v, 0) AS top3,
       |    coalesce(t4.v, 0) AS top4, coalesce(d5.v, 0) AS dup5,
       |    coalesce(d6.v, 0) AS dup6, coalesce(d7.v, 0) AS dup7,
       |    coalesce(d8.v, 0) AS dup8, coalesce(d9.v, 0) AS dup9,
       |    coalesce(d10.v, 0) AS dup10
       |  FROM ln $repFamilyJoins)""".stripMargin

  val q134Sql: String = {
    val families = repFamiliesCtes("w")
    val joins = repFamilyJoins
    s"""WITH d0 AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 13 = 0 THEN substring(text, 1, 40) ||
       |           repeat(chr(10) || 'the same line', 7)
       |         WHEN doc_id % 17 = 0 THEN substring(text, 1, 60) ||
       |           repeat(chr(10) || chr(10) || 'same paragraph block', 5)
       |         WHEN doc_id % 19 = 0 THEN substring(text, 1, 80) ||
       |           repeat(' alpha beta', 30)
       |         WHEN doc_id % 23 = 0 THEN substring(text, 1, 200) ||
       |           repeat(' zeta eta theta iota kappa lambda mu nu xi omicron pi rho', 2)
       |         ELSE text END AS text
       |  FROM documents),
       |w AS (SELECT doc_id, source, string_split(text, ' ') AS w,
       |        length(text) AS chars,
       |        string_split(text, chr(10)) AS ls,
       |        string_split(text, chr(10) || chr(10)) AS ps
       |      FROM d0),
       |ln AS (
       |  SELECT doc_id, source, chars,
       |    len(ls) AS n_lines,
       |    len(ls) - len(list_distinct(ls)) AS dup_lines,
       |    (chars - (len(ls) - 1))
       |      - length(array_to_string(list_distinct(ls), '')) AS dup_line_chars,
       |    len(ps) AS n_paras,
       |    len(ps) - len(list_distinct(ps)) AS dup_paras,
       |    (chars - (len(ps) - 1) * 2)
       |      - length(array_to_string(list_distinct(ps), '')) AS dup_para_chars
       |  FROM w),
       |$families
       |sig AS (
       |  SELECT ln.source, ln.chars, ln.n_lines, ln.dup_lines,
       |    ln.dup_line_chars, ln.n_paras, ln.dup_paras, ln.dup_para_chars,
       |    coalesce(t2.v, 0) AS top2, coalesce(t3.v, 0) AS top3,
       |    coalesce(t4.v, 0) AS top4, coalesce(d5.v, 0) AS dup5,
       |    coalesce(d6.v, 0) AS dup6, coalesce(d7.v, 0) AS dup7,
       |    coalesce(d8.v, 0) AS dup8, coalesce(d9.v, 0) AS dup9,
       |    coalesce(d10.v, 0) AS dup10
       |  FROM ln $joins),
       |fl AS (
       |  SELECT source, dup_line_chars, top4, dup10,
       |    (dup_lines * 10 <= n_lines * 3) AS r_dup_lines,
       |    (dup_paras * 10 <= n_paras * 3) AS r_dup_paras,
       |    (dup_line_chars * 5 <= chars) AS r_dup_line_chars,
       |    (dup_para_chars * 5 <= chars) AS r_dup_para_chars,
       |    (top2 * 5 <= chars * 1) AS r_top2gram,
       |    (top3 * 50 <= chars * 9) AS r_top3gram,
       |    (top4 * 25 <= chars * 4) AS r_top4gram,
       |    (dup5 * 20 <= chars * 3) AS r_dup5gram,
       |    (dup6 * 50 <= chars * 7) AS r_dup6gram,
       |    (dup7 * 100 <= chars * 13) AS r_dup7gram,
       |    (dup8 * 25 <= chars * 3) AS r_dup8gram,
       |    (dup9 * 100 <= chars * 11) AS r_dup9gram,
       |    (dup10 * 10 <= chars * 1) AS r_dup10gram
       |  FROM sig)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN NOT r_dup_lines THEN 1 ELSE 0 END) AS BIGINT) AS f_dup_lines,
       |  CAST(sum(CASE WHEN NOT r_dup_paras THEN 1 ELSE 0 END) AS BIGINT) AS f_dup_paras,
       |  CAST(sum(CASE WHEN NOT r_dup_line_chars THEN 1 ELSE 0 END) AS BIGINT) AS f_dup_line_chars,
       |  CAST(sum(CASE WHEN NOT r_dup_para_chars THEN 1 ELSE 0 END) AS BIGINT) AS f_dup_para_chars,
       |  CAST(sum(CASE WHEN NOT r_top2gram THEN 1 ELSE 0 END) AS BIGINT) AS f_top2gram,
       |  CAST(sum(CASE WHEN NOT r_top3gram THEN 1 ELSE 0 END) AS BIGINT) AS f_top3gram,
       |  CAST(sum(CASE WHEN NOT r_top4gram THEN 1 ELSE 0 END) AS BIGINT) AS f_top4gram,
       |  CAST(sum(CASE WHEN NOT r_dup5gram THEN 1 ELSE 0 END) AS BIGINT) AS f_dup5gram,
       |  CAST(sum(CASE WHEN NOT r_dup6gram THEN 1 ELSE 0 END) AS BIGINT) AS f_dup6gram,
       |  CAST(sum(CASE WHEN NOT r_dup7gram THEN 1 ELSE 0 END) AS BIGINT) AS f_dup7gram,
       |  CAST(sum(CASE WHEN NOT r_dup8gram THEN 1 ELSE 0 END) AS BIGINT) AS f_dup8gram,
       |  CAST(sum(CASE WHEN NOT r_dup9gram THEN 1 ELSE 0 END) AS BIGINT) AS f_dup9gram,
       |  CAST(sum(CASE WHEN NOT r_dup10gram THEN 1 ELSE 0 END) AS BIGINT) AS f_dup10gram,
       |  CAST(sum(CASE WHEN r_dup_lines AND r_dup_paras AND r_dup_line_chars
       |    AND r_dup_para_chars AND r_top2gram AND r_top3gram AND r_top4gram
       |    AND r_dup5gram AND r_dup6gram AND r_dup7gram AND r_dup8gram
       |    AND r_dup9gram AND r_dup10gram THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(dup_line_chars) AS BIGINT) AS s_dup_line_chars,
       |  CAST(sum(top4) AS BIGINT) AS s_top4_chars,
       |  CAST(sum(dup10) AS BIGINT) AS s_dup10_chars
       |FROM fl GROUP BY source ORDER BY source""".stripMargin
  }

  /** ✚ hashed-linear classifier scoring
    * ([[graft.ext.TextClassifier]]) — the fastText-style model-based
    * quality filter's DEPLOYMENT scan: unigram+bigram features hash
    * to buckets (q130's md5 lane arithmetic), a 4096-bucket integer
    * weight vector rides the plan as one literal, per-doc score =
    * Σ weight[bucket] with an integer mean-weight keep threshold.
    * The gate's weights are formula-derived
    * (`(i·2654435761) mod 1000003 − 500001` — a Knuth-multiplier
    * spread), so the oracle needs NO array literal: it recomputes
    * each feature's weight from its bucket and replays score, count,
    * and decision bit-for-bit. Per-source score/feature/keep sums in
    * the hash.
    */
  def q135TextClassifier(spark: SparkSession, dir: String): DataFrame = {
    val dim = 4096
    val weights = (0 until dim).map(i =>
      (i.toLong * 2654435761L) % 1000003L - 500001L)
    graft.ext.TextClassifier.score(
        Tables(spark, dir, "documents"), "text", weights,
        thrNum = 0L, thrDen = 1L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("clf_sum")).as("sum_score"),
        sum(col("clf_n")).as("sum_feats"),
        sum(when(col("clf_keep"), 1L).otherwise(0L)).as("n_keep"))
      .orderBy(col("source"))
  }

  val q135Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |f AS (
      |  SELECT doc_id, source,
      |    unnest(w || [w[i] || '_' || w[i+1] for i in range(1, len(w))]) AS g
      |  FROM d),
      |s AS (
      |  SELECT doc_id, source,
      |    sum(((CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 4096)
      |         * 2654435761) % 1000003 - 500001) AS clf_sum,
      |    count(*) AS clf_n
      |  FROM f GROUP BY doc_id, source)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(clf_sum) AS BIGINT) AS sum_score,
      |  CAST(sum(clf_n) AS BIGINT) AS sum_feats,
      |  CAST(sum(CASE WHEN clf_sum >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      |FROM s GROUP BY source ORDER BY source""".stripMargin

  /** ✚ corpus topic clustering + cluster-balanced sampling — the
    * published DIVERSITY-balancing pattern (SemDeDup's clustering
    * sibling: there the clusters scope dedup, here they scope
    * sampling): documents embed as one-pass hashed token-count
    * vectors ([[graft.functions.HashedCountVector]], 16 buckets —
    * training-free, so the whole embedding is a codegen'd scan),
    * k-means clusters the corpus into topics (q62's exact training
    * pipeline over the derived vectors, 8 seeds × 2 Lloyd rounds),
    * and a deterministic md5-ticket election keeps the 5
    * smallest-ticket documents per cluster (through the
    * [[graft.plans.TopKPerKey]] operator — ascending order this
    * time). Output is one row per document — cluster AND sample
    * election both in the hash. The oracle rebuilds the count
    * vectors relationally (unnest → bucket → dense 16-dim grid),
    * unrolls the same two Lloyd rounds, and replays the ticket
    * election as a window.
    */
  def q137TopicCluster(spark: SparkSession, dir: String): DataFrame = {
    // cast to array<float>: the similarity family's corpus element
    // type; token counts are small integers, so the cast is exact and
    // the double-typed oracle replays identically
    val vecs = Tables(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"),
        graft.functions.DocVectorFunctions
          .hashedCountVector(col("text"), 16)
          .cast("array<float>").as("embedding"))
    val centroids = Similarity.kmeansTrain(
      vecs, vecs.filter(col("vec_id") < 8), iters = 2, dims = 16)
    val assigned = Similarity.assignToCentroids(vecs, centroids)
    val picked = graft.plans.TopK.topKPerKey(
        assigned.select(col("centroid_id"), col("vec_id"))
          .withColumn("ticket",
            Dedup.hexHash(col("vec_id").cast("string"), "bal#")),
        Seq("centroid_id"), "ticket", k = 5, desc = false,
        tiebreak = Seq("vec_id"))
      .select(col("vec_id"), lit(true).as("picked"))
    assigned
      .select(col("vec_id"), col("centroid_id").cast("long").as("cid"))
      .join(picked, Seq("vec_id"), "left")
      .select(col("vec_id").as("doc_id"), col("cid"),
        coalesce(col("picked"), lit(false)).as("picked"))
      .orderBy(col("doc_id"))
  }

  val q137Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |tb AS (
      |  SELECT doc_id,
      |    (CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16) AS b
      |  FROM tok),
      |cnt AS (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY doc_id, b),
      |grid AS (
      |  SELECT d.doc_id, r.d
      |  FROM (SELECT DISTINCT doc_id FROM documents) d
      |  CROSS JOIN range(0, 16) r(d)),
      |v AS (
      |  SELECT g.doc_id, list(CAST(coalesce(c.c, 0) AS DOUBLE) ORDER BY g.d) AS e
      |  FROM grid g LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.b = g.d
      |  GROUP BY g.doc_id),
      |c0 AS (SELECT doc_id AS cid, e AS cvec FROM v WHERE doc_id < 8),
      |a1 AS (
      |  SELECT doc_id, e, cid FROM (
      |    SELECT v.doc_id, v.e, c.cid,
      |      row_number() OVER (PARTITION BY v.doc_id ORDER BY
      |        list_cosine_similarity(v.e, c.cvec) DESC, c.cid) AS rn
      |    FROM v CROSS JOIN c0 c) t WHERE rn = 1),
      |m1 AS (
      |  SELECT cid, i, round(avg(e[i]), 6) AS m
      |  FROM a1, range(1, 17) t(i) GROUP BY cid, i),
      |c1 AS (SELECT cid, list(m ORDER BY i) AS cvec FROM m1 GROUP BY cid),
      |a2 AS (
      |  SELECT doc_id, e, cid FROM (
      |    SELECT v.doc_id, v.e, c.cid,
      |      row_number() OVER (PARTITION BY v.doc_id ORDER BY
      |        list_cosine_similarity(v.e, c.cvec) DESC, c.cid) AS rn
      |    FROM v CROSS JOIN c1 c) t WHERE rn = 1),
      |m2 AS (
      |  SELECT cid, i, round(avg(e[i]), 6) AS m
      |  FROM a2, range(1, 17) t(i) GROUP BY cid, i),
      |c2 AS (SELECT cid, list(m ORDER BY i) AS cvec FROM m2 GROUP BY cid),
      |assigned AS (
      |  SELECT doc_id, cid FROM (
      |    SELECT v.doc_id, c.cid,
      |      row_number() OVER (PARTITION BY v.doc_id ORDER BY
      |        list_cosine_similarity(v.e, c.cvec) DESC, c.cid) AS rn
      |    FROM v CROSS JOIN c2 c) t WHERE rn = 1),
      |tick AS (
      |  SELECT doc_id, cid,
      |    CAST('0x' || substr(md5('bal#' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS ticket
      |  FROM assigned),
      |pick AS (
      |  SELECT doc_id, TRUE AS picked FROM (
      |    SELECT doc_id,
      |      row_number() OVER (PARTITION BY cid ORDER BY ticket, doc_id) AS rn
      |    FROM tick) z WHERE rn <= 5)
      |SELECT a.doc_id, CAST(a.cid AS BIGINT) AS cid,
      |  coalesce(p.picked, FALSE) AS picked
      |FROM assigned a LEFT JOIN pick p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** ✚ count-min heavy hitters ([[graft.ext.CountMin]]) — the
    * bounded-memory frequency sketch over the corpus bigram stream:
    * build (one ≤ d·w-row aggregation, 3×256 counters here —
    * deliberately small so collisions OCCUR and their accounting is
    * in the hash), then the map-side candidate scan at a relative
    * threshold (est·512 ≥ total). Every candidate row carries the
    * sketch estimate AND the exact count, so the gate pins the
    * overestimate-only contract (est ≥ exact, both hashed) and the
    * exact lane arithmetic. The oracle rebuilds the (lane, pos)
    * count matrix, takes the min over lanes per distinct bigram, and
    * replays the threshold.
    */
  def q138HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.CountMin
    val grams = Tables(spark, dir, "documents")
      .select(explode(TextStats.ngrams(col("text"), 2)).as("gram"))
    val sk = CountMin.build(grams, "gram", width = 256, depth = 3)
    // one bounded pass (r19): estimate filter map-side, exact count
    // only over candidates — replaces the corpus-wide exact group-by
    // + join composition (same rows: CMS never underestimates and
    // every occurrence of a gram carries the same est)
    val rep = CountMin.heavyHitters(grams, "gram", sk,
      thrNum = 1L, thrDen = 512L)
    // executable plan shape: exactly ONE shuffle, and both the est
    // filter and the partial aggregate sit BELOW it (the printed tree
    // is top-down, so "below the exchange" = printed after it) — the
    // exchange carries candidate grams only, partial-aggregated
    val plan = rep.queryExecution.executedPlan.toString
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    require(exIdx >= 0 &&
        plan.indexOf("Exchange hashpartitioning", exIdx + 1) < 0,
      s"q138: expected exactly one shuffle in the heavy-hitter plan")
    require(plan.indexOf("partial_count", exIdx) > 0,
      "q138: partial aggregation must run below the exchange")
    require(plan.indexOf("Filter", exIdx) > 0 &&
        plan.indexOf("least(", exIdx) > 0,
      "q138: the min-lane estimate filter must run map-side, below " +
        "the exchange — the exact count may only shuffle candidates")
    rep.orderBy(col("gram"))
  }

  val q138Sql: String =
    """WITH g AS (
      |  SELECT unnest([w[i] || '_' || w[i+1] for i in range(1, len(w))]) AS g
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents)),
      |lanes AS (SELECT unnest([0, 1, 2]) AS lane),
      |p AS (
      |  SELECT g.g, l.lane,
      |    (CAST('0x' || substr(md5(g.g), 1 + 8 * l.lane, 8) AS BIGINT) % 256) AS pos
      |  FROM g CROSS JOIN lanes l),
      |cms AS (SELECT lane, pos, count(*) AS c FROM p GROUP BY lane, pos),
      |tot AS (SELECT sum(c) AS total FROM cms WHERE lane = 0),
      |est AS (
      |  SELECT dg.g, min(cms.c) AS est
      |  FROM (SELECT DISTINCT g FROM g) dg
      |  CROSS JOIN lanes l
      |  JOIN cms ON cms.lane = l.lane AND cms.pos =
      |    (CAST('0x' || substr(md5(dg.g), 1 + 8 * l.lane, 8) AS BIGINT) % 256)
      |  GROUP BY dg.g),
      |ex AS (SELECT g, count(*) AS exact FROM g GROUP BY g)
      |SELECT e.g AS gram, CAST(e.est AS BIGINT) AS est,
      |  CAST(x.exact AS BIGINT) AS exact
      |FROM est e JOIN ex x ON x.g = e.g CROSS JOIN tot
      |WHERE e.est * 512 >= tot.total
      |ORDER BY gram""".stripMargin

  /** ✚ streaming count-min fold-in — the sketch family's lifecycle
    * face: the corpus arrives as micro-batches (a real
    * AvailableNow stream over batch files), each batch builds its
    * own bounded sketch, and [[graft.ext.CountMin.merge]] folds
    * them in arrival order. Counter-wise integer addition is exact,
    * associative and commutative, so the folded sketch must equal
    * the one-shot build BIT-FOR-BIT — THE ORACLE IS q138's SQL
    * UNCHANGED: the hash passes only if streaming fold-in ≡ batch
    * rebuild (the q109/q111 equivalence pattern, here for the
    * frequency sketch). The gate requires ≥ 2 real micro-batches so
    * the merge path genuinely runs.
    */
  def q139StreamingCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.CountMin
    val tmp = java.nio.file.Files.createTempDirectory("graft_q139_")
      .toString
    val batchDir = s"$tmp/batches"
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    docs.repartition(4).write.parquet(batchDir)
    val folded = new java.util.concurrent.atomic.AtomicReference(
      CountMin.empty(width = 256, depth = 3))
    val batches = graft.streaming.EventStream.streamTo(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(batchDir),
      s"q139_${System.nanoTime()}", Some(s"$tmp/ckpt")) { (b, _) =>
      val grams = b.select(explode(TextStats.ngrams(col("text"), 2))
        .as("gram"))
      val sk = CountMin.build(grams, "gram", width = 256, depth = 3)
      folded.updateAndGet(CountMin.merge(_, sk))
    }.length
    require(batches >= 2,
      s"q139: the fold must span multiple micro-batches, got $batches")
    val sk = folded.get()
    val grams = Tables(spark, dir, "documents")
      .select(explode(TextStats.ngrams(col("text"), 2)).as("gram"))
    SourceQueries.materializeThenDelete(
      CountMin.heavyHitters(grams, "gram", sk, 1L, 512L)
        .orderBy(col("gram")), tmp)
  }

  /** q138's SQL verbatim — the equivalence IS the gate. */
  lazy val q139Sql: String = q138Sql

  /** The q140 merge table — consistent by construction (each side a
    * single char or an earlier output; [[graft.ext.BpeTokenizer]]
    * validates), chosen so the corpus vocabulary exercises
    * multi-level merges: "scan" collapses to ONE token through
    * s+c → sc, a+n → an, sc+an → scan; "hash" segments h+a → ha,
    * ha+s → has, leaving [has, h].
    */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "a" -> "n", "e" -> "r", "s" -> "c", "sc" -> "an", "o" -> "r",
    "t" -> "a", "r" -> "o", "h" -> "a", "ha" -> "s")

  /** ✚ BPE tokenization apply ([[graft.ext.BpeTokenizer]]) — real
    * ranked-merge byte-pair segmentation (the merge table is an
    * input, like the classifier's weights; q54's pair counts are its
    * training iteration), replacing the "BPE-ish regex" counting
    * approximation where an exact subword budget matters. Output per
    * source: doc count, token count computed BOTH ways (the exploded
    * token stream and the count-only scan — the oracle computes one
    * number for both columns, so the two faces are pinned equal),
    * subword vocabulary size, and a token-multiset fingerprint. The
    * engine runs the native min-rank loop
    * ([[graft.functions.BpeSegment]]); the oracle chains k literal
    * replaces over sentinel-wrapped words ([[bpeSegSql]]) — literal
    * replace is leftmost-first non-overlapping, which IS BPE's
    * merge-all-occurrences sweep, the wrapped pattern can only match
    * at token boundaries, and on the consistent table
    * rank-sequential sweeps equal the min-rank loop — so the gate
    * pins the kernel to an independent formulation.
    */
  def q140BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.BpeTokenizer
    val docs = Tables(spark, dir, "documents")
    val toks = docs.select(col("source"),
      explode(BpeTokenizer.tokens(col("text"), BpeMerges)).as("tok"))
    val perSource = toks.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("tok")).as("n_subwords"),
      sum(conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long"))
        .as("tok_fp"))
    val counted = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(BpeTokenizer.tokenCount(col("text"), BpeMerges))
        .as("n_tokens_cnt"))
    counted.join(perSource, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_tokens_cnt"), col("n_subwords"), col("tok_fp"))
      .orderBy(col("source"))
  }

  /** The q143 byte-level merge table, built over the GPT-2 byte↔char
    * bijection's MAPPED symbols ([[graft.functions.BpeModel.byteToChar]]):
    * the three UTF-8 bytes of 你 and of 好 each collapse to one token
    * (multi-byte CJK reassembly), the mapped space merges with 't'
    * (GPT-2 space-attachment), and (t,h)/(e,r) exercise plain ASCII —
    * with (Ġ,t) outranking (t,h) so the min-rank order is observable.
    * Consistent by construction (each side a single mapped char or an
    * earlier output).
    */
  private lazy val ByteBpeMerges: Seq[(String, String)] = {
    def mb(b: Int): String = graft.functions.BpeModel.byteStr(b)
    def bytesOf(s: String): Array[Int] =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8).map(_ & 0xff)
    val ni = bytesOf("你")
    val ho = bytesOf("好")
    Seq(
      mb(ni(0)) -> mb(ni(1)),
      (mb(ni(0)) + mb(ni(1))) -> mb(ni(2)),
      mb(ho(0)) -> mb(ho(1)),
      (mb(ho(0)) + mb(ho(1))) -> mb(ho(2)),
      mb(' ') -> mb('t'),
      mb('t') -> mb('h'),
      mb('e') -> mb('r'))
  }

  /** ✚ BYTE-LEVEL BPE over mixed-script text
    * ([[graft.functions.BpeSegment]], `byteLevel = true`) — the
    * GPT-2-family production shape: words are `' ?[^ ]+'` matches
    * (each carries its preceding space), the base alphabet is UTF-8
    * BYTES through the printable byte↔char bijection, so CJK/emoji/
    * no-whitespace text segments into byte-level subwords instead of
    * one opaque code-point "word". The gate text appends a Chinese
    * suffix to every document (the reference's own fixtures are
    * partly Chinese — process_blade_load.py:414 multi-level keys),
    * and the oracle replays EVERYTHING relationally: hex-expands each
    * word's UTF-8 bytes, maps them through the same 256-entry
    * bijection carried as a SQL list literal, then runs the identical
    * sentinel-wrapped merge chain.
    */
  /** The byte-level BPE per-source gate body, shared by q143 (default
    * space-boundary pretokenizer) and q150 (the GPT-2-style
    * pretokenizer): suffix-extended docs, token stream + count-only
    * faces pinned to one oracle value, vocab + multiset fingerprint.
    */
  private def byteBpePerSource(spark: SparkSession, dir: String,
                               suffix: String,
                               merges: Seq[(String, String)],
                               pretokenRegex: Option[String]): DataFrame = {
    import graft.functions.BpeSegment
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 120)
      .select(col("source"), concat(col("text"), lit(suffix)).as("txt"))
    val toks = docs.select(col("source"),
      explode(BpeSegment.tokens(col("txt"), merges,
        byteLevel = true, pretokenRegex = pretokenRegex)).as("tok"))
    val perSource = toks.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("tok")).as("n_subwords"),
      sum(conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long"))
        .as("tok_fp"))
    val counted = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(BpeSegment.tokenCount(col("txt"), merges,
        byteLevel = true, pretokenRegex = pretokenRegex)).as("n_tokens_cnt"))
    counted.join(perSource, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_tokens_cnt"), col("n_subwords"), col("tok_fp"))
      .orderBy(col("source"))
  }

  def q143ByteBpe(spark: SparkSession, dir: String): DataFrame =
    byteBpePerSource(spark, dir, " 你好 你好世界", ByteBpeMerges,
      pretokenRegex = None)

  /** The q143/q150 oracle body, parameterized by suffix, pretokenizer
    * pattern and merge table (SQL literals pre-escaped by the
    * caller): byte-expand each word through the 256-entry bijection,
    * run the wrapped merge chain, aggregate per source.
    */
  private def byteBpeSqlFor(suffixLit: String, patternLit: String,
                            merges: Seq[(String, String)]): String = {
    val bytemap = graft.functions.BpeModel.byteToChar
      .map(c => "'" + c.toString.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    val seg = bpeSegSqlFor("mw", merges)
    s"""WITH bm AS (SELECT $bytemap AS m),
       |d AS (
       |  SELECT source, text || '$suffixLit' AS txt
       |  FROM documents WHERE doc_id < 120),
       |w AS (
       |  SELECT source, unnest(regexp_extract_all(txt, '$patternLit')) AS word
       |  FROM d),
       |mapped AS (
       |  SELECT source, array_to_string(list_transform(
       |    range(1, CAST(octet_length(encode(word)) AS INT) + 1),
       |    i -> m[CAST('0x' || substr(hex(encode(word)),
       |                 CAST(2*i-1 AS INT), 2) AS INT) + 1]), '') AS mw
       |  FROM w CROSS JOIN bm),
       |seg AS (SELECT source, $seg AS s FROM mapped),
       |tk AS (SELECT source, unnest(${bpeTokenListSql("s")}) AS tok FROM seg),
       |per_source AS (
       |  SELECT source, count(*) AS n_tokens,
       |    count(DISTINCT tok) AS n_subwords,
       |    sum(CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT)) AS tok_fp
       |  FROM tk GROUP BY source),
       |counted AS (
       |  SELECT source, count(*) AS n_docs FROM d GROUP BY source)
       |SELECT c.source, c.n_docs,
       |  CAST(p.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(p.n_tokens AS BIGINT) AS n_tokens_cnt,
       |  CAST(p.n_subwords AS BIGINT) AS n_subwords,
       |  CAST(p.tok_fp AS BIGINT) AS tok_fp
       |FROM counted c JOIN per_source p ON p.source = c.source
       |ORDER BY c.source""".stripMargin
  }

  lazy val q143Sql: String =
    byteBpeSqlFor(" 你好 你好世界", " ?[^ ]+", ByteBpeMerges)

  /** q150's merge table: q143's plus a chained digit pair (2,0) →
    * (20,2), firing inside the injected "2024" digit run.
    */
  private lazy val ByteBpeMergesQ150: Seq[(String, String)] = {
    def mb(b: Int): String = graft.functions.BpeModel.byteStr(b)
    ByteBpeMerges ++ Seq(mb('2') -> mb('0'), (mb('2') + mb('0')) -> mb('2'))
  }

  /** ✚ GPT-2-style PRETOKENIZER over byte-level BPE
    * ([[graft.functions.BpeModel.Gpt2ishPretokenizer]]) — the
    * published pattern restricted to the java.regex ∩ RE2 subset
    * (contractions split off, space-attached letter/digit/other runs,
    * whitespace runs; the `\\s+(?!\\S)` lookahead dropped — RE2 has
    * no lookaround — so a multi-space gap stays one token). The
    * injected suffix exercises every match class the ASCII fixture
    * text lacks: a contraction, a digit run (with a chained digit
    * merge firing inside it), a punctuation run splitting a hyphened
    * pair, and CJK letters. The oracle replays the SAME pattern
    * through regexp_extract_all plus the q143 byte-mapping and merge
    * machinery (shared builders on both sides).
    */
  def q150Gpt2Pretokenizer(spark: SparkSession, dir: String): DataFrame =
    byteBpePerSource(spark, dir, " don't 2024 ab-cd! 你好",
      ByteBpeMergesQ150,
      pretokenRegex = Some(graft.functions.BpeModel.Gpt2ishPretokenizer))

  lazy val q150Sql: String =
    byteBpeSqlFor(" don''t 2024 ab-cd! 你好",
      graft.functions.BpeModel.Gpt2ishPretokenizer.replace("'", "''"),
      ByteBpeMergesQ150)

  /** The `n` lowest vec_ids' vectors as driver-side PQ queries. */
  private def pqQueries(e: DataFrame, n: Int): Seq[(Long, Array[Double])] =
    e.filter(col("vec_id") < n)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  /** A PQ gate's output: `knn`'s top-k rows with the 6-dp ADC score and
    * `recall<k>`, the share of each query's exact inner-product top-k
    * ([[Pq.bruteDotKnn]]) that it found.
    */
  private def withDotRecall(knn: DataFrame, e: DataFrame,
                            queries: Seq[(Long, Array[Double])],
                            k: Int): DataFrame = {
    val truth = Pq.bruteDotKnn(e, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val recall = knn.select(col("query_id"), col("neighbor_id"))
      .join(truth, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    knn.join(broadcast(recall), Seq("query_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("adc_dot"), 6).as("adc_dot"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k.toDouble, 2)
          .as(s"recall$k"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ✚ product quantization + ADC search ([[graft.ext.Pq]],
    * [[graft.functions.PqAdc]]) — the ANN memory ladder's next rung
    * after int8 (q124): m=8 per-subspace codebooks trained with the
    * SAME Lloyd loop the IVF gates replay (cosine assignment,
    * 2 iterations, 6-dp rounded means, seeds = the 16 lowest
    * vec_ids' subvectors), vectors encoded to 8 codes in one
    * map-side scan, queries scored by ADC — per-subspace dot tables,
    * ascending-j left-associated sum, so the oracle replays the
    * EXACT double. Output: per query the ADC top-10 (rank, neighbor,
    * 6-dp score) plus recall@10 against the exact-inner-product
    * brute ranking — codebook training, assignment, ADC arithmetic
    * and the recall join all inside the hash. Corpus = the
    * [[clusteredVecs]] clustered+noise fixture (r19), so the recall
    * column has real dynamic range instead of the raw fixture's
    * tie-saturation.
    */
  def q144PqAdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = clusteredVecs(spark, dir)
    val cbs = GateFixtures.pqCodebooks(spark, dir)
    val encoded = Pq.encode(e, cbs, dims = 64)
    val queries = pqQueries(e, 3)
    withDotRecall(Pq.adcKnn(encoded, cbs, queries, k = 10), e, queries, 10)
  }

  /** One Lloyd assignment round against codebook CTE `cb`, emitting
    * (j, vec_id, sv, cid) — subspace j rides as data, so ONE set of
    * CTEs covers all 8 codebooks. Shared by q144 and q147.
    */
  /** CLUSTERED+NOISE ANN fixture (r19): the raw synthetic embeddings
    * are near-uniform, so exact top-k inner products are nearly tied
    * and id-recall is tie-saturated (adjudicated in the r18 ledger —
    * approximate methods look arbitrarily bad/good depending on which
    * of many near-equal neighbors they return). Derive
    * `v_i = center(i % 8) + NoiseScale · e_i` (center = raw e_{i%8},
    * one float rounding — both replayed exactly): 8 REAL clusters
    * with within-cluster noise, so ground-truth neighbor sets are
    * distinct, recall@10 has dynamic range, and the IVF coarse
    * centroids fall out as the derived ids 0..7 (v_i = 1.15·e_i for
    * i < 8 — parallel to the true centers; cosine assignment is
    * scale-invariant). Shared by the PQ family (q144/q147/q152).
    */
  private[queries] val AnnNoiseScale: Double = 0.15

  private[queries] def clusteredVecs(spark: SparkSession,
                                     dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings").filter(col("vec_id") < 400)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("ve").as("ce"))
    e.join(broadcast(c), pmod(col("vec_id"), lit(8)) === col("cid"))
      .select(col("vec_id"),
        zip_with(col("ce"), col("ve"),
          (x, y) => x + lit(AnnNoiseScale) * y).cast("array<float>")
          .as("embedding"))
  }

  /** The fixture's SQL face — every PQ-family oracle's `v`. */
  private lazy val pqVSql: String =
    s"""v AS (
       |  SELECT w.vec_id,
       |    list_transform(range(1, 65),
       |      k -> CAST(CAST(c.e[k] + $AnnNoiseScale * w.e[k] AS FLOAT)
       |           AS DOUBLE)) AS e
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |        FROM embeddings WHERE vec_id < 400) w
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |        FROM embeddings WHERE vec_id < 8) c
       |    ON c.vec_id = w.vec_id % 8)""".stripMargin

  private def pqAssignSql(cb: String): String =
    s"""SELECT j, vec_id, sv, cid FROM (
       |  SELECT s.j, s.vec_id, s.sv, c.cid,
       |    row_number() OVER (PARTITION BY s.j, s.vec_id
       |      ORDER BY list_cosine_similarity(s.sv, c.cv) DESC, c.cid) AS rn
       |  FROM sub s JOIN $cb c ON c.j = s.j) t WHERE rn = 1""".stripMargin

  /** Ascending-j left-associated ADC sum (PqAdc's exact order). */
  private val pqAdcSumSql: String = (0 until 8)
    .map(j => s"max(CASE WHEN j = $j THEN d END)").mkString(" + ")

  /** The shared PQ CTE prefix: 400-vector slice, 8 subspaces, 16-seed
    * codebooks through 2 unrolled Lloyd rounds, final code
    * assignment, query subvectors — q144 and q147 build on it
    * verbatim (one definition of the training/encoding replay).
    */
  /** The training/encoding CTE chain over vector CTE `src` (must
    * expose vec_id, e): 8 subspaces → seed codebooks → two unrolled
    * Lloyd rounds → final code assignment. Parameterized so q152 can
    * run the SAME chain over a residual frame (with a seed predicate
    * avoiding the zero-residual centroid-member vectors, whose
    * zero-magnitude cosines would otherwise make every assignment a
    * NaN-vs-null engine seam).
    */
  private def pqTrainCtesSql(src: String,
                             seedPred: String = "vec_id < 16"): String =
    s"""sub AS (
       |  SELECT vec_id, CAST(j AS INT) AS j,
       |    e[(j*8+1):(j*8+8)] AS sv
       |  FROM $src, range(0, 8) t(j)),
       |c0 AS (SELECT j, vec_id AS cid, sv AS cv FROM sub WHERE $seedPred),
       |a1 AS (${pqAssignSql("c0")}),
       |m1 AS (SELECT j, cid, i, round(avg(sv[i]), 6) AS mv
       |       FROM a1, range(1, 9) t(i) GROUP BY j, cid, i),
       |c1 AS (SELECT j, cid, list(mv ORDER BY i) AS cv FROM m1 GROUP BY j, cid),
       |a2 AS (${pqAssignSql("c1")}),
       |m2 AS (SELECT j, cid, i, round(avg(sv[i]), 6) AS mv
       |       FROM a2, range(1, 9) t(i) GROUP BY j, cid, i),
       |c2 AS (SELECT j, cid, list(mv ORDER BY i) AS cv FROM m2 GROUP BY j, cid),
       |codes AS (${pqAssignSql("c2")})""".stripMargin

  private lazy val pqCtesSql: String =
    s"""$pqVSql,
       |${pqTrainCtesSql("v")},
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 3),
       |qsub AS (
       |  SELECT query_id, CAST(j AS INT) AS j, qe[(j*8+1):(j*8+8)] AS qv
       |  FROM q, range(0, 8) t(j))""".stripMargin

  val q144Sql: String = {
    val adcSum = pqAdcSumSql
    s"""WITH $pqCtesSql,
       |adcp AS (
       |  SELECT qs.query_id, cd.vec_id AS neighbor_id, qs.j,
       |    list_dot_product(qs.qv, c.cv) AS d
       |  FROM codes cd
       |  JOIN c2 c ON c.j = cd.j AND c.cid = cd.cid
       |  JOIN qsub qs ON qs.j = cd.j),
       |adc AS (
       |  SELECT query_id, neighbor_id, $adcSum AS adc_dot
       |  FROM adcp GROUP BY query_id, neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adc_dot,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dot DESC, neighbor_id) AS rank
       |  FROM adc),
       |top AS (SELECT * FROM ranked WHERE rank <= 10),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, v.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_dot_product(q.qe, v.e) DESC, v.vec_id) AS rn
       |    FROM q CROSS JOIN v) t WHERE rn <= 10),
       |rec AS (
       |  SELECT t.query_id, count(*) AS n_hits
       |  FROM top t JOIN truth u
       |    ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT t.query_id, CAST(t.rank AS INT) AS rank, t.neighbor_id,
       |  round(t.adc_dot, 6) AS adc_dot,
       |  round(coalesce(r.n_hits, 0) / 10.0, 2) AS recall10
       |FROM top t LEFT JOIN rec r ON r.query_id = t.query_id
       |ORDER BY t.query_id, t.rank""".stripMargin
  }

  /** ✚ IVF × PQ — the full production ANN composition
    * ([[graft.ext.Pq.ivfAdcKnn]]; FAISS's IVF-PQ shape from the
    * engine's own parts), oracle-gated like q127 did for IVF × int8:
    * float centroid probe ranking (q127's exact probe dataflow, 8
    * centroids, nprobe=2) over the corpus stored as PQ CODES, ADC
    * scoring inside the probed clusters only. The oracle composes
    * q127's assignment/probe CTEs with q144's training/encoding CTEs
    * (shared [[pqCtesSql]] — ONE definition) — the hash pins the
    * COMPOSITION seam: a coded row scored in an un-probed cluster, or
    * re-coded differently from its q144 twin, breaks it.
    */
  def q147IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = clusteredVecs(spark, dir)
    val cbs = GateFixtures.pqCodebooks(spark, dir)
    val centroids = e.filter(col("vec_id") < 8)
    val encodedAssigned = Pq.encode(
      Similarity.assignToCentroids(e, centroids), cbs, dims = 64)
    val queries = pqQueries(e, 3)
    val knn = Pq.ivfAdcKnn(encodedAssigned, centroids, cbs, queries,
      k = 5, nprobe = 2)
    withDotRecall(knn, e, queries, 5)
  }

  val q147Sql: String =
    s"""WITH $pqCtesSql,
       |ivfc AS (SELECT vec_id AS centroid_id, e AS cv FROM v WHERE vec_id < 8),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT w.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY w.vec_id
       |        ORDER BY list_cosine_similarity(w.e, c.cv) DESC,
       |                 c.centroid_id) AS rn
       |    FROM v w CROSS JOIN ivfc c) t WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT q.query_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.qe, c.cv) DESC,
       |                 c.centroid_id) AS rn
       |    FROM q CROSS JOIN ivfc c) t WHERE rn <= 2),
       |adcp AS (
       |  SELECT qs.query_id, cd.vec_id AS neighbor_id, qs.j,
       |    list_dot_product(qs.qv, c.cv) AS d
       |  FROM codes cd
       |  JOIN c2 c ON c.j = cd.j AND c.cid = cd.cid
       |  JOIN assigned a ON a.vec_id = cd.vec_id
       |  JOIN probes p ON p.centroid_id = a.centroid_id
       |  JOIN qsub qs ON qs.j = cd.j AND qs.query_id = p.query_id),
       |adc AS (
       |  SELECT query_id, neighbor_id, $pqAdcSumSql AS adc_dot
       |  FROM adcp GROUP BY query_id, neighbor_id),
       |top AS (
       |  SELECT query_id, neighbor_id, adc_dot, rank FROM (
       |    SELECT query_id, neighbor_id, adc_dot,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dot DESC, neighbor_id) AS rank
       |    FROM adc) t WHERE rank <= 5),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, v.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_dot_product(q.qe, v.e) DESC, v.vec_id) AS rn
       |    FROM q CROSS JOIN v) t WHERE rn <= 5),
       |rec AS (
       |  SELECT t.query_id, count(*) AS n_hits
       |  FROM top t JOIN truth u
       |    ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT t.query_id, CAST(t.rank AS INT) AS rank, t.neighbor_id,
       |  round(t.adc_dot, 6) AS adc_dot,
       |  round(coalesce(r.n_hits, 0) / 5.0, 2) AS recall5
       |FROM top t LEFT JOIN rec r ON r.query_id = t.query_id
       |ORDER BY t.query_id, t.rank""".stripMargin

  /** ✚ BPE TRAINING ([[graft.ext.BpeTrainer]]) — the loop that mints
    * merge tables, closing the learn → apply → budget seam (q54's
    * pair count is iteration 0; q140/q141/q143 apply external
    * tables). Three iterations over the full `documents` word
    * vocabulary: segment under merges-so-far (codegen'd min-rank
    * expression), explode adjacent pairs weighted by word count, one
    * pair-count shuffle, argmax with the (count desc, lhs, rhs)
    * deterministic tie. The oracle unrolls the three iterations as
    * CTEs, carrying each found merge as DATA into the next round's
    * sentinel-wrapped replace — legal because trained tables are
    * consistent by construction, so the min-rank loop and the
    * rank-sequential sweep agree (BpeTokenizer's proof).
    */
  def q145BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = graft.ext.BpeTrainer.train(
      Tables(spark, dir, "documents"), "text", nMerges = 3)
    merges.zipWithIndex
      .map { case (m, i) => (i, m.lhs, m.rhs, m.pairCount) }
      .toDF("rank", "lhs", "rhs", "pair_count")
      .orderBy(col("rank"))
  }

  /** One training iteration's pair-count + argmax CTEs (q145/q149). */
  private def bpeTrainPairsSql(sCte: String, i: Int): String =
    s"""p$i AS (
       |  SELECT lhs, rhs, sum(cnt) AS c FROM (
       |    SELECT cnt, unnest(t[1:len(t)-1]) AS lhs,
       |           unnest(t[2:len(t)]) AS rhs
       |    FROM (SELECT cnt, ${bpeTokenListSql("s")} AS t FROM $sCte)
       |    WHERE len(t) >= 2)
       |  GROUP BY lhs, rhs),
       |m$i AS (SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1)""".stripMargin

  /** One training iteration's merge sweep, the found merge as DATA. */
  private def bpeTrainSweepSql(prev: String, i: Int): String =
    s"""s$i AS (
       |  SELECT word, cnt,
       |    replace(s, chr(1)||m.lhs||chr(2)||chr(1)||m.rhs||chr(2),
       |            chr(1)||m.lhs||m.rhs||chr(2)) AS s
       |  FROM $prev, m$i m)""".stripMargin

  val q145Sql: String =
    s"""WITH w AS (
       |  SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |    FROM documents) GROUP BY word),
       |s0 AS (SELECT word, cnt,
       |  regexp_replace(word, '([\\s\\S])', chr(1) || '\\1' || chr(2), 'g') AS s
       |  FROM w),
       |${bpeTrainPairsSql("s0", 1)},
       |${bpeTrainSweepSql("s0", 1)},
       |${bpeTrainPairsSql("s1", 2)},
       |${bpeTrainSweepSql("s1", 2)},
       |${bpeTrainPairsSql("s2", 3)}
       |SELECT CAST(0 AS INT) AS rank, lhs, rhs, CAST(c AS BIGINT) AS pair_count FROM m1
       |UNION ALL SELECT 1, lhs, rhs, CAST(c AS BIGINT) FROM m2
       |UNION ALL SELECT 2, lhs, rhs, CAST(c AS BIGINT) FROM m3
       |ORDER BY rank""".stripMargin

  /** ✚ byte-level BPE TRAINING ([[graft.ext.BpeTrainer]],
    * `byteLevel = true`) — completes the train/apply × word/byte
    * matrix (q145 trains word-mode, q143 applies byte-mode): words
    * are `' ?[^ ]+'` matches mapped into the printable byte alphabet,
    * so the learned merges are byte-level symbols (the GPT-2 training
    * shape). Mixed-script text via the q143 suffix makes multi-byte
    * reassembly competitive with ASCII pairs in the counts. The
    * oracle maps each word's UTF-8 bytes through the 256-entry
    * bijection (q143's list-literal replay) and unrolls two
    * iterations carrying each found merge as data (q145's CTEs).
    */
  def q149ByteBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents").filter(col("doc_id") < 500)
      .select(concat(col("text"), lit(" 你好 你好世界")).as("text"))
    val merges = graft.ext.BpeTrainer.train(docs, "text", nMerges = 2,
      byteLevel = true)
    merges.zipWithIndex
      .map { case (m, i) => (i, m.lhs, m.rhs, m.pairCount) }
      .toDF("rank", "lhs", "rhs", "pair_count")
      .orderBy(col("rank"))
  }

  lazy val q149Sql: String = {
    val bytemap = graft.functions.BpeModel.byteToChar
      .map(c => "'" + c.toString.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    s"""WITH bm AS (SELECT $bytemap AS m),
       |d AS (
       |  SELECT text || ' 你好 你好世界' AS txt
       |  FROM documents WHERE doc_id < 500),
       |rw AS (
       |  SELECT unnest(regexp_extract_all(txt, ' ?[^ ]+')) AS raw FROM d),
       |w AS (
       |  SELECT word, count(*) AS cnt FROM (
       |    SELECT array_to_string(list_transform(
       |      range(1, CAST(octet_length(encode(raw)) AS INT) + 1),
       |      i -> m[CAST('0x' || substr(hex(encode(raw)),
       |                   CAST(2*i-1 AS INT), 2) AS INT) + 1]), '') AS word
       |    FROM rw CROSS JOIN bm) GROUP BY word),
       |s0 AS (SELECT word, cnt,
       |  regexp_replace(word, '([\\s\\S])', chr(1) || '\\1' || chr(2), 'g') AS s
       |  FROM w),
       |${bpeTrainPairsSql("s0", 1)},
       |${bpeTrainSweepSql("s0", 1)},
       |${bpeTrainPairsSql("s1", 2)}
       |SELECT CAST(0 AS INT) AS rank, lhs, rhs, CAST(c AS BIGINT) AS pair_count FROM m1
       |UNION ALL SELECT 1, lhs, rhs, CAST(c AS BIGINT) FROM m2
       |ORDER BY rank""".stripMargin
  }

  /** ✚ MULTICLASS classifier scoring
    * ([[graft.ext.TextClassifier.scoreMulti]]) — q135's binary head
    * generalized to the fastText-style per-class form (langid /
    * topic / register filters): three 4096-bucket weight vectors
    * derived from a per-class Knuth-spread formula
    * (`((i + c·7919)·2654435761) mod 1000003 − 500001`), per-doc
    * argmax with ties to the earlier class, and the best-vs-runner-up
    * margin. Per (source, class): doc count, Σ best score, Σ margin —
    * argmax, tie direction and margin arithmetic all in the hash. The
    * oracle recomputes each feature's per-class weight from its
    * bucket (no literals) and replays the argmax as a window.
    */
  def q146MulticlassClassifier(spark: SparkSession, dir: String): DataFrame = {
    val dim = 4096
    val classes = Seq("news", "web", "code").zipWithIndex.map {
      case (name, c) =>
        name -> (0 until dim).map(i =>
          ((i.toLong + c * 7919L) * 2654435761L) % 1000003L - 500001L)
    }
    graft.ext.TextClassifier.scoreMulti(
        Tables(spark, dir, "documents"), "text", classes)
      .groupBy(col("source"), col("clf_class"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("clf_best")).as("sum_best"),
        sum(col("clf_margin")).as("sum_margin"))
      .orderBy(col("source"), col("clf_class"))
  }

  val q146Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |f AS (
      |  SELECT doc_id, source,
      |    unnest(w || [w[i] || '_' || w[i+1] for i in range(1, len(w))]) AS g
      |  FROM d),
      |s AS (
      |  SELECT doc_id, source, c,
      |    sum((((CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 4096)
      |          + c * 7919) * 2654435761) % 1000003 - 500001) AS score
      |  FROM f, range(0, 3) t(c) GROUP BY doc_id, source, c),
      |r AS (
      |  SELECT doc_id, source, c, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
      |  FROM s),
      |best AS (
      |  SELECT b.doc_id, b.source,
      |    (['news', 'web', 'code'])[CAST(b.c AS INT) + 1] AS clf_class,
      |    b.score AS best, b.score - u.score AS margin
      |  FROM r b JOIN r u ON u.doc_id = b.doc_id AND u.rn = 2
      |  WHERE b.rn = 1)
      |SELECT source, clf_class, count(*) AS n_docs,
      |  CAST(sum(best) AS BIGINT) AS sum_best,
      |  CAST(sum(margin) AS BIGINT) AS sum_margin
      |FROM best GROUP BY source, clf_class
      |ORDER BY source, clf_class""".stripMargin

  /** The boundary-wrapped BPE segmentation chain over SQL variable
    * `varName` — shared by q140's token gate and q141's packing
    * oracle (one definition of the replace chain on both engines).
    * chr(1)/chr(2) are [[graft.ext.BpeTokenizer.Open]]/Close: every
    * token rides as `\x01tok\x02`, so a merge's literal pattern
    * carries BOTH boundaries of BOTH tokens and can only match two
    * complete adjacent tokens (the r17 boundary-bug fix — the
    * single-space separator let `t a` match the prefix of `t an`).
    */
  private def bpeSegSql(varName: String): String =
    bpeSegSqlFor(varName, BpeMerges)

  /** The same wrapped replace chain for an arbitrary merge table
    * (q143's byte-level table reuses it over mapped-byte symbols;
    * single quotes in symbols are SQL-escaped). The wrap matches
    * `[\s\S]`, not `.`: RE2's `.` skips \n, so a `.` wrap would
    * leave a \n inside a word unwrapped, while the native kernel
    * starts from every code point of the word.
    */
  private def bpeSegSqlFor(varName: String,
                           merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    merges.foldLeft(
      s"regexp_replace($varName, '([\\s\\S])', chr(1) || '\\1' || chr(2), 'g')") {
      case (s, (l, r)) =>
        s"replace($s, chr(1)||'${esc(l)}'||chr(2)||chr(1)||'${esc(r)}'||chr(2), " +
          s"chr(1)||'${esc(l + r)}'||chr(2))"
    }
  }

  /** Segmented string → token LIST: strip the outermost sentinels,
    * split on the close+open boundary (`\x01`/`\x02` are RE2 byte
    * escapes).
    */
  private def bpeTokenListSql(segExpr: String): String =
    s"string_split(regexp_replace($segExpr, '^\\x01|\\x02$$', '', 'g'), " +
      "chr(2) || chr(1))"

  val q140Sql: String = {
    val seg = bpeSegSql("word")
    s"""WITH w AS (
       |  SELECT source,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |  FROM documents),
       |seg AS (SELECT source, $seg AS s FROM w),
       |tk AS (SELECT source, unnest(${bpeTokenListSql("s")}) AS tok FROM seg),
       |per_source AS (
       |  SELECT source, count(*) AS n_tokens,
       |    count(DISTINCT tok) AS n_subwords,
       |    sum(CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT)) AS tok_fp
       |  FROM tk GROUP BY source),
       |counted AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
       |SELECT c.source, c.n_docs,
       |  CAST(p.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(p.n_tokens AS BIGINT) AS n_tokens_cnt,
       |  CAST(p.n_subwords AS BIGINT) AS n_subwords,
       |  CAST(p.tok_fp AS BIGINT) AS tok_fp
       |FROM counted c JOIN per_source p ON p.source = c.source
       |ORDER BY c.source""".stripMargin
  }

  val q141Sql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT CAST(doc_id % 8 AS INT) AS shard, doc_id,
       |    CAST(coalesce(list_aggregate(list_transform(
       |      list_filter(string_split(text, ' '), x -> x <> ''),
       |      w -> len(${bpeTokenListSql(bpeSegSql("w"))})), 'sum'), 0)
       |      AS BIGINT) AS n_tokens,
       |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
       |  FROM documents),
       |p(shard, doc_id, n_tokens, rn, pack_id, acc) AS (
       |  SELECT shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
       |    CASE WHEN p.acc + d.n_tokens > 512 THEN p.pack_id + 1
       |         ELSE p.pack_id END,
       |    CASE WHEN p.acc + d.n_tokens > 512 THEN d.n_tokens
       |         ELSE p.acc + d.n_tokens END
       |  FROM p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)
       |SELECT shard, doc_id, n_tokens, pack_id FROM p
       |ORDER BY shard, doc_id""".stripMargin

  val q133Sql: String =
    """WITH RECURSIVE v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings WHERE vec_id < 400),
      |c0 AS (SELECT vec_id AS cid, e AS cvec FROM v WHERE vec_id < 16),
      |a1 AS (
      |  SELECT vec_id, e, cid FROM (
      |    SELECT v.vec_id, v.e, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_cosine_similarity(v.e, c.cvec) DESC, c.cid) AS rn
      |    FROM v CROSS JOIN c0 c) t WHERE rn = 1),
      |m1 AS (
      |  SELECT cid, i, round(avg(e[i]), 6) AS m
      |  FROM a1, range(1, 65) t(i) GROUP BY cid, i),
      |c1 AS (SELECT cid, list(m ORDER BY i) AS cvec FROM m1 GROUP BY cid),
      |a2 AS (
      |  SELECT vec_id, e, cid FROM (
      |    SELECT v.vec_id, v.e, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_cosine_similarity(v.e, c.cvec) DESC, c.cid) AS rn
      |    FROM v CROSS JOIN c1 c) t WHERE rn = 1),
      |m2 AS (
      |  SELECT cid, i, round(avg(e[i]), 6) AS m
      |  FROM a2, range(1, 65) t(i) GROUP BY cid, i),
      |c2 AS (SELECT cid, list(m ORDER BY i) AS cvec FROM m2 GROUP BY cid),
      |assigned AS (
      |  SELECT vec_id, e, cid FROM (
      |    SELECT v.vec_id, v.e, c.cid,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_cosine_similarity(v.e, c.cvec) DESC, c.cid) AS rn
      |    FROM v CROSS JOIN c2 c) t WHERE rn = 1),
      |pairs AS (
      |  SELECT a.vec_id AS s, b.vec_id AS t
      |  FROM assigned a JOIN assigned b
      |    ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  -- zero-magnitude guard: Spark's cosine is NULL there (never
      |  -- passes the threshold), but DuckDB returns NaN and orders
      |  -- NaN above every double, so 'NaN >= 0.35' would be true —
      |  -- pin both engines to dropping such pairs
      |  WHERE list_dot_product(a.e, a.e) > 0
      |    AND list_dot_product(b.e, b.e) > 0
      |    AND list_cosine_similarity(a.e, b.e) >= 0.35),
      |edges AS (SELECT s, t FROM pairs UNION ALL SELECT t, s FROM pairs),
      |reach(node, label) AS (
      |  SELECT vec_id, vec_id FROM v
      |  UNION
      |  SELECT g.t, r.label FROM reach r JOIN edges g ON g.s = r.node),
      |comp AS (SELECT node, min(label) AS rep FROM reach GROUP BY node)
      |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
      |  CAST(c.rep AS BIGINT) AS rep, a.vec_id = c.rep AS keep
      |FROM assigned a JOIN comp c ON c.node = a.vec_id
      |ORDER BY vec_id""".stripMargin

  /** ✚ HTML → TEXT extraction ([[graft.functions.HtmlText]]) — the
    * crawl seam's missing link (r18 verdict #1): C4/RefinedWeb-class
    * pipelines strip tags/scripts/styles and decode entities BEFORE
    * any quality signal. Each document's text is entity-escaped and
    * wrapped in a deterministic full-page template exercising every
    * lexer rule — doctype, elided script (with `<p>` traps and
    * unescaped `<`/`>` inside), elided style, a comment carrying
    * markup, a block headline with a named entity, the escaped text
    * in a `<p>`, and a tail div with numeric/hex references, a
    * quote-aware `href="q?a>b"` attribute, an inline anchor and a
    * `<br>` boundary. The engine runs the codegen'd single-pass
    * extractor; the oracle states the expected extraction RELATIONALLY
    * from the source column (block lines joined by chr(10), the text
    * whitespace-collapsed with the portable `[ \t\n\x0B\f\r]`
    * class) — entity round-trip, elision, block segmentation and
    * whitespace collapsing all inside the md5.
    */
  def q151HtmlText(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    def esc(c: org.apache.spark.sql.Column) =
      F.replace(F.replace(F.replace(c, lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), id,
      lit("</title><script type=\"text/javascript\">" +
        "var s = \"<p>trap</p>\"; if (a<b && b>c) {}</script>" +
        "<style>p > a { color: #fff; }</style></head><body><!-- id="), id,
      lit(" <p>trap</p> --><h1>Doc &amp; "), id,
      lit("</h1><p>"), esc(col("text")),
      lit("</p><div>tail &#65;&#x42; <a href=\"q?a>b\">link</a>" +
        "<br>end</div></body></html>"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.HtmlToTextFunctions.htmlToText(html).as("txt"))
      .select(col("doc_id"), md5(col("txt")).as("t_md5"),
        length(col("txt")).cast("long").as("n_out"))
      .orderBy(col("doc_id"))
  }

  val q151Sql: String =
    """WITH e AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'),
      |         ' ') AS coll
      |  FROM documents),
      |x AS (
      |  SELECT doc_id,
      |    'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
      |    'Doc & ' || CAST(doc_id AS VARCHAR) ||
      |    CASE WHEN coll = '' THEN '' ELSE chr(10) || coll END ||
      |    chr(10) || 'tail AB link' || chr(10) || 'end' AS txt
      |  FROM e)
      |SELECT doc_id, md5(txt) AS t_md5,
      |  CAST(length(txt) AS BIGINT) AS n_out
      |FROM x ORDER BY doc_id""".stripMargin

  /** ✚ RESIDUAL IVF-PQ ([[graft.ext.Pq.residuals]],
    * [[graft.ext.Pq.ivfResidualAdcKnn]]) — the true FAISS shape on
    * top of q147's raw-vector composition: vectors are IVF-assigned,
    * the PQ codebooks are trained on RESIDUALS x − centroid(x)
    * (element-wise double subtract, one round-to-float — both
    * replayed exactly), codes encode residuals, and the ADC score
    * decomposes as dot(q, c) + dot(q, r̂) — the per-cluster constant
    * added OUTSIDE the ascending-j ADC sum, with explicit parens in
    * the oracle so both engines add in the same order. Residual
    * seeds come from vec_ids [8, 24): the 8 coarse centroids' own
    * residuals are exactly ZERO, and a zero-magnitude seed centroid
    * would turn every assignment cosine into the NaN-vs-null engine
    * seam (zero-magnitude CORPUS rows are fine: all-null cosines
    * fall back to the smallest cid in Spark, and DuckDB's all-NaN
    * tie breaks to the same cid). Output: per query the residual
    * IVF-PQ top-10 plus recall@10 against the exact float brute
    * ranking — residual arithmetic, training, probe gating, score
    * decomposition and recall all inside the hash.
    */
  def q152ResidualPq(spark: SparkSession, dir: String): DataFrame = {
    val e = clusteredVecs(spark, dir)
    val centroids = e.filter(col("vec_id") < 8)
    val assigned = Similarity.assignToCentroids(e, centroids)
    // materialize the residual frame ONCE: codebook training touches
    // the corpus 8 subspaces × 2 Lloyd rounds times, and re-evaluating
    // the assignment join each time quadrupled the gate's wall
    val res = Pq.residuals(assigned, centroids).localCheckpoint(true)
    val seeds = res.filter(col("vec_id") >= 8 && col("vec_id") < 24)
    val resCbs = Pq.trainCodebooks(res, seeds, m = 8, dims = 64, iters = 2)
    val encodedAssigned = Pq.encode(res, resCbs, dims = 64)
    val queries = pqQueries(e, 3)
    val knn = Pq.ivfResidualAdcKnn(encodedAssigned, centroids, resCbs,
      queries, k = 10, nprobe = 2)
    withDotRecall(knn, e, queries, 10)
  }

  val q152Sql: String = {
    val adcSum = pqAdcSumSql
    s"""WITH $pqVSql,
       |ivfc AS (SELECT vec_id AS centroid_id, e AS cv FROM v WHERE vec_id < 8),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT w.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY w.vec_id
       |        ORDER BY list_cosine_similarity(w.e, c.cv) DESC,
       |                 c.centroid_id) AS rn
       |    FROM v w CROSS JOIN ivfc c) t WHERE rn = 1),
       |rv AS (
       |  SELECT w.vec_id,
       |    list_transform(range(1, 65),
       |      i -> CAST(CAST(w.e[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS e
       |  FROM v w
       |  JOIN assigned a ON a.vec_id = w.vec_id
       |  JOIN ivfc c ON c.centroid_id = a.centroid_id),
       |${pqTrainCtesSql("rv", "vec_id >= 8 AND vec_id < 24")},
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 3),
       |qsub AS (
       |  SELECT query_id, CAST(j AS INT) AS j, qe[(j*8+1):(j*8+8)] AS qv
       |  FROM q, range(0, 8) t(j)),
       |probes AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT q.query_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.qe, c.cv) DESC,
       |                 c.centroid_id) AS rn
       |    FROM q CROSS JOIN ivfc c) t WHERE rn <= 2),
       |adcp AS (
       |  SELECT qs.query_id, cd.vec_id AS neighbor_id, qs.j,
       |    list_dot_product(qs.qv, c.cv) AS d,
       |    list_dot_product(q.qe, ic.cv) AS qc
       |  FROM codes cd
       |  JOIN c2 c ON c.j = cd.j AND c.cid = cd.cid
       |  JOIN assigned a ON a.vec_id = cd.vec_id
       |  JOIN probes p ON p.centroid_id = a.centroid_id
       |  JOIN ivfc ic ON ic.centroid_id = a.centroid_id
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN qsub qs ON qs.j = cd.j AND qs.query_id = p.query_id),
       |adc AS (
       |  SELECT query_id, neighbor_id, max(qc) + ($adcSum) AS adc_dot
       |  FROM adcp GROUP BY query_id, neighbor_id),
       |top AS (
       |  SELECT query_id, neighbor_id, adc_dot,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dot DESC, neighbor_id) AS rank
       |  FROM adc QUALIFY rank <= 10),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, v.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_dot_product(q.qe, v.e) DESC, v.vec_id) AS rn
       |    FROM q CROSS JOIN v) t WHERE rn <= 10),
       |rec AS (
       |  SELECT t.query_id, count(*) AS n_hits
       |  FROM top t JOIN truth u
       |    ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT t.query_id, CAST(t.rank AS INT) AS rank, t.neighbor_id,
       |  round(t.adc_dot, 6) AS adc_dot,
       |  round(coalesce(r.n_hits, 0) / 10.0, 2) AS recall10
       |FROM top t LEFT JOIN rec r ON r.query_id = t.query_id
       |ORDER BY t.query_id, t.rank""".stripMargin
  }

  /** ✚ C4 LINE-level cleaning composed with HTML→text extraction
    * ([[graft.ext.LineClean]] ∘ [[graft.functions.HtmlToText]]) — the
    * published pipeline's actual order: extract text from markup, drop
    * low-quality LINES (terminal punctuation, ≥ 5 words, no
    * "javascript"), rewrite the page from the survivors, drop pages
    * left with < 2 lines or containing code/boilerplate markers
    * (`{`, "lorem ipsum"). Each document becomes a four-block page —
    * one real-text line (kept iff its collapsed form has ≥ 5 words),
    * a too-short line, a case-insensitive "JavaScript" trap, and a
    * good line carrying doc_id-keyed `{`/"lorem ipsum" injections that
    * flip the PAGE predicate. The oracle replays extraction (the q151
    * relational-replay discipline) and every predicate over a SQL list
    * of the same four lines.
    */
  def q154C4Lines(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import graft.ext.LineClean
    def esc(c: org.apache.spark.sql.Column) =
      F.replace(F.replace(F.replace(c, lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    val id = col("doc_id")
    val brace = when(pmod(id, lit(7)) === 0, lit(" {x}")).otherwise(lit(""))
    val lorem = when(pmod(id, lit(11)) === 0, lit(" lorem ipsum"))
      .otherwise(lit(""))
    val html = concat(
      lit("<html><body><p>"), esc(col("text")), lit(".</p>"),
      lit("<p>short line</p>"),
      lit("<p>All about JavaScript frameworks and their many merits" +
        " online.</p>"),
      lit("<p>Another good line with enough words to pass muster"),
      brace, lorem, lit(".</p></body></html>"))
    val x = graft.functions.HtmlToTextFunctions.htmlToText(html)
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(LineClean.keptLines(x)).cast("long").as("n_kept"),
        LineClean.pageKeep(x, minLines = 2).as("page_keep"),
        md5(LineClean.cleanedText(x)).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val q154Sql: String =
    """WITH e AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(text || '.', '[ \t\n\x0B\f\r]+', ' ', 'g'),
      |         ' ') AS l1,
      |    CASE WHEN doc_id % 7 = 0 THEN ' {x}' ELSE '' END AS brace,
      |    CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END AS lorem
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    [l1, 'short line',
      |     'All about JavaScript frameworks and their many merits online.',
      |     'Another good line with enough words to pass muster'
      |       || brace || lorem || '.'] AS lines
      |  FROM e),
      |k AS (
      |  SELECT doc_id,
      |    list_filter(lines, l ->
      |      right(l, 1) IN ('.', '!', '?', '"')
      |      AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
      |      AND NOT contains(lower(l), 'javascript')) AS kept,
      |    array_to_string(lines, chr(10)) AS full_text
      |  FROM p)
      |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
      |  len(kept) >= 2 AND NOT contains(full_text, '{')
      |    AND NOT contains(lower(full_text), 'lorem ipsum') AS page_keep,
      |  md5(array_to_string(kept, chr(10))) AS clean_md5
      |FROM k ORDER BY doc_id""".stripMargin

  /** ✚ link extraction → frontier normalization
    * ([[graft.functions.HtmlText.links]] ∘
    * [[graft.ext.UrlOps.normalizeUrl]]) — the crawl FRONTIER seam:
    * URL discovery from fetched pages, the step that feeds the next
    * crawl round. Each document becomes a page carrying four real
    * anchors (double-quoted with an entity-encoded `&amp;` in the
    * query, single-quoted, UNQUOTED, and upper-case `<A HREF>` with a
    * scheme/case/fragment-noisy target) plus two traps that must mint
    * NOTHING (an anchor inside script content, one inside a comment)
    * and an href-less anchor. The engine extracts hrefs in document
    * order (entity-decoded) and normalizes each into its frontier
    * key; the oracle states all four links and their q129-pinned
    * normal forms relationally.
    */
  def q155HtmlLinks(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val g5 = (col("doc_id") % 5).cast("string")
    val g3 = (col("doc_id") % 3).cast("string")
    val html = concat(
      lit("<html><head><script>var s = '<a href=\"http://trap.test/x\">t" +
        "</a>';</script></head><body>" +
        "<!-- <a href=\"http://comment.test/\">c</a> -->" +
        "<a href=\"http://ex.test/a?id="), id, lit("&amp;p=1\">one</a>" +
        "<a href='http://ex.test/b/"), g5, lit("'>two</a>" +
        "<a class=\"x\" href=http://ex.test/bare/"), g3, lit(">three</a>" +
        "<A HREF=\"HTTP://EX.test/caps#frag\">four</A>" +
        "<a name=\"anchor\">no href</a></body></html>"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), posexplode(
        graft.functions.HtmlToTextFunctions.htmlLinks(html))
        .as(Seq("pos", "link")))
      .withColumn("nurl", graft.ext.UrlOps.normalizeUrl(col("link")))
      .orderBy(col("doc_id"), col("pos"))
  }

  val q155Sql: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |r AS (
      |  SELECT doc_id, 0 AS pos,
      |    'http://ex.test/a?id=' || CAST(doc_id AS VARCHAR) || '&p=1' AS link,
      |    'ex.test/a?id=' || CAST(doc_id AS VARCHAR) || '&p=1' AS nurl
      |  FROM d
      |  UNION ALL SELECT doc_id, 1,
      |    'http://ex.test/b/' || CAST(doc_id % 5 AS VARCHAR),
      |    'ex.test/b/' || CAST(doc_id % 5 AS VARCHAR) FROM d
      |  UNION ALL SELECT doc_id, 2,
      |    'http://ex.test/bare/' || CAST(doc_id % 3 AS VARCHAR),
      |    'ex.test/bare/' || CAST(doc_id % 3 AS VARCHAR) FROM d
      |  UNION ALL SELECT doc_id, 3, 'HTTP://EX.test/caps#frag',
      |    'ex.test/caps' FROM d)
      |SELECT doc_id, CAST(pos AS INT) AS pos, link, nurl
      |FROM r ORDER BY doc_id, pos""".stripMargin

  /** ✚ robots.txt politeness ([[graft.functions.RobotsRules]] +
    * [[graft.ext.Robots.withAllowed]]) — the crawl seam's missing
    * gatekeeper: REAL robots.txt TEXT is parsed per host by the
    * map-side expression (comments, case-insensitive fields/agents,
    * an OtherBot group and a `*` fallback group that must BOTH lose
    * to the exact graftbot match, an even-host-only extra rule), the
    * rules explode to a per-host frame, and every document-derived
    * URL is decided by the REP election — longest matching prefix
    * wins, Allow wins the length tie, no match ⇒ allowed. The oracle
    * rebuilds the rules relationally from the template and replays
    * the election as a window over matching rules.
    */
  def q156Robots(spark: SparkSession, dir: String): DataFrame = {
    // 7 hosts, COPRIME with the 4 path variants: every path variant
    // lands on both even- and odd-k hosts, so the even-host-only /p2
    // rule is exercised both present (deny) and absent (default allow)
    val hosts = spark.range(7).select(col("id").as("k"),
      concat(lit("h"), col("id").cast("string"), lit(".test")).as("host"))
    val txt = concat(
      lit("# robots for graft\nUser-agent: OtherBot\nDisallow: /\n\n" +
        "User-Agent: GraftBot\nDisallow: /private\nAllow: /private/ok\n"),
      when(col("k") % 2 === 0, lit("Disallow: /p2\n")).otherwise(lit("")),
      lit("\nUser-agent: *\nDisallow: /\n"))
    val rules = hosts.select(col("host"),
        explode(graft.functions.RobotsFunctions.robotsRules(
          txt, "graftbot")).as("r"))
      .select(col("host"), col("r.allow").as("allow"),
        col("r.prefix").as("prefix"))
    val id = col("doc_id").cast("string")
    val urls = Tables(spark, dir, "documents").select(col("doc_id"),
      concat(lit("h"), (col("doc_id") % 7).cast("string"), lit(".test"))
        .as("host"),
      when(col("doc_id") % 4 === 0, concat(lit("/private/ok/"), id))
        .when(col("doc_id") % 4 === 1, concat(lit("/private/"), id))
        .when(col("doc_id") % 4 === 2, concat(lit("/p2/"), id))
        .otherwise(lit("/")).as("path"))
    graft.ext.Robots.withAllowed(urls, rules, Seq("doc_id"))
      .select(col("doc_id"), col("host"), col("path"), col("allowed"))
      .orderBy(col("doc_id"))
  }

  val q156Sql: String =
    """WITH hosts AS (
      |  SELECT CAST(k AS BIGINT) AS k,
      |    'h' || CAST(k AS VARCHAR) || '.test' AS host
      |  FROM range(0, 7) t(k)),
      |rules AS (
      |  SELECT host, FALSE AS allow, '/private' AS prefix FROM hosts
      |  UNION ALL SELECT host, TRUE, '/private/ok' FROM hosts
      |  UNION ALL SELECT host, FALSE, '/p2' FROM hosts WHERE k % 2 = 0),
      |u AS (
      |  SELECT doc_id,
      |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.test' AS host,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
      |      WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN '/p2/' || CAST(doc_id AS VARCHAR)
      |      ELSE '/' END AS path
      |  FROM documents),
      |m AS (
      |  SELECT u.doc_id, r.allow,
      |    row_number() OVER (PARTITION BY u.doc_id
      |      ORDER BY length(r.prefix) DESC, CAST(r.allow AS INT) DESC) AS rn
      |  FROM u JOIN rules r
      |    ON r.host = u.host AND starts_with(u.path, r.prefix))
      |SELECT u.doc_id, u.host, u.path,
      |  coalesce(m.allow, TRUE) AS allowed
      |FROM u LEFT JOIN (SELECT doc_id, allow FROM m WHERE rn = 1) m
      |  ON m.doc_id = u.doc_id
      |ORDER BY u.doc_id""".stripMargin

  /** ✚ crawl-frontier round ([[graft.functions.HtmlLinks]] →
    * [[graft.ext.UrlOps.normalizeUrl]] → dedup-vs-seen →
    * [[graft.ext.Robots.withAllowed]]) — one full frontier iteration
    * of a crawler, composed from the r19 parts: extract hrefs from
    * fetched pages (two per page: a unique deep link and a SHARED
    * `/p2` link carrying www/tracking noise the normalizer must
    * strip), canonicalize into frontier keys, drop URLs already
    * fetched (the seen set = every fourth page's deep link), then
    * gate the survivors through the per-host robots election (the
    * q156 rules: `/p2` is disallowed on even hosts only). Output:
    * per-stage (count, fingerprint-sum) rows — extraction volume,
    * post-dedup size and the final polite frontier all in one hash.
    */
  def q157CrawlFrontier(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val k = (col("doc_id") % 7).cast("string")
    val g = (col("doc_id") % 40).cast("string")
    val html = concat(
      lit("<html><body><a href=\"http://h"), k,
      lit(".test/private/ok/"), id,
      lit("\">x</a><a href=\"http://www.h"), k, lit(".test/p2/"), g,
      lit("?utm_source=z\">y</a></body></html>"))
    val docs = Tables(spark, dir, "documents")
    val links = docs
      .select(explode(graft.functions.HtmlToTextFunctions.htmlLinks(html))
        .as("link"))
      .select(graft.ext.UrlOps.normalizeUrl(col("link")).as("nurl"))
    val seen = docs.filter(col("doc_id") % 4 === 0)
      .select(concat(lit("h"), (col("doc_id") % 7).cast("string"),
        lit(".test/private/ok/"), col("doc_id").cast("string")).as("nurl"))
    val newUrls = links.select(col("nurl")).distinct()
      .join(seen, Seq("nurl"), "left_anti")
    val hosts = spark.range(7).select(col("id").as("k"),
      concat(lit("h"), col("id").cast("string"), lit(".test")).as("host"))
    val txt = concat(
      lit("# robots for graft\nUser-agent: OtherBot\nDisallow: /\n\n" +
        "User-Agent: GraftBot\nDisallow: /private\nAllow: /private/ok\n"),
      when(col("k") % 2 === 0, lit("Disallow: /p2\n")).otherwise(lit("")),
      lit("\nUser-agent: *\nDisallow: /\n"))
    val rules = hosts.select(col("host"),
        explode(graft.functions.RobotsFunctions.robotsRules(
          txt, "graftbot")).as("r"))
      .select(col("host"), col("r.allow").as("allow"),
        col("r.prefix").as("prefix"))
    val withHostPath = graft.ext.UrlOps.withHostPath(newUrls)
    val frontier = graft.ext.Robots
      .withAllowed(withHostPath, rules, Seq("nurl"))
      .filter(col("allowed"))
    val fp = conv(substring(md5(col("nurl")), 1, 6), 16, 10).cast("long")
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n"), coalesce(sum(fp), lit(0L)).as("fp"))
        .select(lit(name).as("stage"), col("n"), col("fp"))
    stage(links, "1_links")
      .unionAll(stage(newUrls, "2_new"))
      .unionAll(stage(frontier, "3_frontier"))
      .orderBy(col("stage"))
  }

  val q157Sql: String =
    """WITH hosts AS (
      |  SELECT CAST(k AS BIGINT) AS k,
      |    'h' || CAST(k AS VARCHAR) || '.test' AS host
      |  FROM range(0, 7) t(k)),
      |rules AS (
      |  SELECT host, FALSE AS allow, '/private' AS prefix FROM hosts
      |  UNION ALL SELECT host, TRUE, '/private/ok' FROM hosts
      |  UNION ALL SELECT host, FALSE, '/p2' FROM hosts WHERE k % 2 = 0),
      |l AS (
      |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.test/private/ok/'
      |    || CAST(doc_id AS VARCHAR) AS nurl FROM documents
      |  UNION ALL
      |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.test/p2/'
      |    || CAST(doc_id % 40 AS VARCHAR) FROM documents),
      |f AS (
      |  SELECT nurl,
      |    CAST('0x' || substr(md5(nurl), 1, 6) AS BIGINT) AS fp
      |  FROM l),
      |seen AS (
      |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.test/private/ok/'
      |    || CAST(doc_id AS VARCHAR) AS nurl
      |  FROM documents WHERE doc_id % 4 = 0),
      |nw AS (
      |  SELECT DISTINCT nurl, fp FROM f
      |  WHERE nurl NOT IN (SELECT nurl FROM seen)),
      |hp AS (
      |  SELECT nurl, fp,
      |    substr(nurl, 1, strpos(nurl, '/') - 1) AS host,
      |    substr(nurl, strpos(nurl, '/')) AS path
      |  FROM nw),
      |m AS (
      |  SELECT hp.nurl, r.allow,
      |    row_number() OVER (PARTITION BY hp.nurl
      |      ORDER BY length(r.prefix) DESC, CAST(r.allow AS INT) DESC) AS rn
      |  FROM hp JOIN rules r
      |    ON r.host = hp.host AND starts_with(hp.path, r.prefix)),
      |fr AS (
      |  SELECT hp.nurl, hp.fp
      |  FROM hp LEFT JOIN (SELECT nurl, allow FROM m WHERE rn = 1) m
      |    ON m.nurl = hp.nurl
      |  WHERE coalesce(m.allow, TRUE))
      |SELECT '1_links' AS stage, count(*) AS n, CAST(coalesce(sum(fp), 0) AS BIGINT) AS fp
      |FROM f
      |UNION ALL SELECT '2_new', count(*), CAST(coalesce(sum(fp), 0) AS BIGINT) FROM nw
      |UNION ALL SELECT '3_frontier', count(*), CAST(coalesce(sum(fp), 0) AS BIGINT)
      |FROM fr
      |ORDER BY stage""".stripMargin

  /** 9×8 grayscale PNG with hash-free deterministic pixels: base
    * `(grp·37 + x·19 + y·11) % 256`, first `v` pixels of row 0
    * shifted by +128 (the q158 perturbation — same construction in
    * the oracle).
    */
  private def grayPng9x8(grp: Int, v: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val base = (grp * 37 + x * 19 + y * 11) % 256
        val g = if (v > 0 && y == 0 && x < v) (base + 128) % 256 else base
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** ✚ perceptual IMAGE near-dup dedup ([[graft.ext.Multimodal.dHash]]
    * + [[graft.ext.ImageDedup.nearDupPairs]]) — the multimodal twin of
    * the text dedup family with a STRONGER guarantee: the 64-bit dHash
    * banding is COMPLETE for Hamming ≤ t by pigeonhole (t+1 disjoint
    * bands — at least one must be identical), so the gate's oracle can
    * be plain all-pairs arithmetic and equality PROVES the banding
    * misses nothing. Each document becomes a REAL 9×8 PNG (lossless —
    * the decoder reads back exact pixels) whose class is
    * (doc_id % 24, doc_id % 5): same-group variants differ only in the
    * few row-0 pixels the perturbation shifts, landing at small
    * Hamming distances; cross-group images land far and are filtered.
    * The oracle replays pixels → the decoder's exact luma doubles →
    * comparison bits → the signed 64-bit packing → per-class-pair
    * popcounts, weighted by class sizes. Output: (hamming, n_pairs).
    */
  def q158ImageDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // 2000-doc slice: the gate's point is codec + banding correctness,
    // and PNG encode+decode is ~1.5 ms/row — the slice keeps all 120
    // classes populated (>= 16 members each) at a bounded bench price
    val media = Tables(spark, dir, "documents")
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"), (col("doc_id") % 24).cast("int").as("grp"),
        (col("doc_id") % 5).cast("int").as("v"))
      .as[(Long, Int, Int)]
      .map { case (id, grp, v) =>
        Multimodal.MediaRecord(id, "img", grayPng9x8(grp, v), Map.empty) }
    val hashes = Multimodal.dHashes(media)
    graft.ext.ImageDedup.nearDupPairs(hashes, "id", "dhash", maxHamming = 6)
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming"))
  }

  val q158Sql: String =
    """WITH cls AS (
      |  SELECT CAST(doc_id % 24 AS INT) AS grp,
      |    CAST(doc_id % 5 AS INT) AS v, count(*) AS cnt
      |  FROM documents WHERE doc_id < 2000 GROUP BY 1, 2),
      |px AS (
      |  SELECT c.grp, c.v, CAST(x.x AS INT) AS x, CAST(y.y AS INT) AS y,
      |    CAST(CASE WHEN c.v > 0 AND y.y = 0 AND x.x < c.v
      |      THEN ((c.grp*37 + x.x*19 + y.y*11) % 256 + 128) % 256
      |      ELSE (c.grp*37 + x.x*19 + y.y*11) % 256 END AS DOUBLE) AS g
      |  FROM cls c, range(0, 9) x(x), range(0, 8) y(y)),
      |lm AS (SELECT grp, v, x, y,
      |  0.299*g + 0.587*g + 0.114*g AS luma FROM px),
      |bits AS (
      |  SELECT a.grp, a.v, a.y*8 + a.x AS idx, (b.luma > a.luma) AS bit
      |  FROM lm a JOIN lm b
      |    ON b.grp = a.grp AND b.v = a.v AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |hs AS (
      |  SELECT grp, v,
      |    CAST(sum(CASE WHEN bit AND idx < 63
      |      THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS BIGINT)
      |    + CASE WHEN bool_or(bit AND idx = 63)
      |        THEN (CAST(-9223372036854775807 AS BIGINT) - 1)
      |        ELSE 0 END AS h
      |  FROM bits GROUP BY grp, v),
      |cl AS (
      |  SELECT c.grp, c.v, c.cnt, h.h
      |  FROM cls c JOIN hs h ON h.grp = c.grp AND h.v = c.v),
      |pr AS (
      |  SELECT 0 AS hamming, CAST(cnt*(cnt-1)/2 AS BIGINT) AS n
      |  FROM cl WHERE cnt >= 2
      |  UNION ALL
      |  SELECT CAST(bit_count(xor(a.h, b.h)) AS INT),
      |    CAST(a.cnt*b.cnt AS BIGINT)
      |  FROM cl a JOIN cl b
      |    ON (a.grp < b.grp OR (a.grp = b.grp AND a.v < b.v))
      |  WHERE bit_count(xor(a.h, b.h)) <= 6)
      |SELECT CAST(hamming AS INT) AS hamming,
      |  CAST(sum(n) AS BIGINT) AS n_pairs
      |FROM pr GROUP BY 1 ORDER BY hamming""".stripMargin

  /** 520-sample mono PCM-16 WAV with formula samples: base
    * `((grp·131 + t·17) % 2001) − 1000`, first `v` FRAMES (8 samples
    * each) doubled — the q159 perturbation. Doubling scales a frame's
    * energy, so comparisons INSIDE the doubled prefix are unchanged
    * (2a > 2b ⟺ a > b) and only the boundary bit can flip: the
    * envelope-hash robustness, constructed.
    */
  private def toneWav(grp: Int, v: Int): Array[Byte] = {
    val samples = new Array[Short](520)
    var t = 0
    while (t < 520) {
      val base = ((grp * 131 + t * 17) % 2001) - 1000
      samples(t) = (if (t < v * 8) base * 2 else base).toShort
      t += 1
    }
    Multimodal.AudioDecoder.encodeWavPcm16(samples, 8000f, 1)
  }

  /** ✚ perceptual AUDIO near-dup dedup ([[graft.ext.Multimodal.audioHash]]
    * through the SAME exact-Hamming banding as q158 — [[graft.ext.ImageDedup]]
    * is hash-generic) — the audio twin: every document becomes a real
    * PCM-16 WAV (encoded and decoded through javax.sound.sampled),
    * fingerprinted by 64 frame-energy-delta bits. Energies are
    * INTEGER sums of |sample|, so the oracle replays every bit with
    * no float-order caveats: samples from the construction formula →
    * per-frame integer energies → comparison bits → the signed
    * packing → all-pairs popcounts weighted by class sizes (the q158
    * completeness-proof shape). Output: (hamming, n_pairs).
    */
  def q159AudioDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables(spark, dir, "documents")
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"), (col("doc_id") % 24).cast("int").as("grp"),
        (col("doc_id") % 5).cast("int").as("v"))
      .as[(Long, Int, Int)]
      .map { case (id, grp, v) =>
        Multimodal.MediaRecord(id, "aud", toneWav(grp, v), Map.empty) }
    val hashes = Multimodal.audioHashes(media)
    graft.ext.ImageDedup.nearDupPairs(hashes, "id", "ahash", maxHamming = 6)
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming"))
  }

  val q159Sql: String =
    """WITH cls AS (
      |  SELECT CAST(doc_id % 24 AS INT) AS grp,
      |    CAST(doc_id % 5 AS INT) AS v, count(*) AS cnt
      |  FROM documents WHERE doc_id < 2000 GROUP BY 1, 2),
      |sm AS (
      |  SELECT c.grp, c.v, CAST(t.t AS INT) AS t,
      |    CAST(CASE WHEN t.t < c.v * 8
      |      THEN ((c.grp*131 + t.t*17) % 2001 - 1000) * 2
      |      ELSE (c.grp*131 + t.t*17) % 2001 - 1000 END AS BIGINT) AS s
      |  FROM cls c, range(0, 520) t(t)),
      |en AS (
      |  SELECT grp, v, t // 8 AS f, sum(abs(s)) AS e
      |  FROM sm GROUP BY grp, v, t // 8),
      |bits AS (
      |  SELECT a.grp, a.v, a.f AS idx, (b.e > a.e) AS bit
      |  FROM en a JOIN en b
      |    ON b.grp = a.grp AND b.v = a.v AND b.f = a.f + 1
      |  WHERE a.f < 64),
      |hs AS (
      |  SELECT grp, v,
      |    CAST(sum(CASE WHEN bit AND idx < 63
      |      THEN (CAST(1 AS BIGINT) << CAST(idx AS INT)) ELSE 0 END)
      |      AS BIGINT)
      |    + CASE WHEN bool_or(bit AND idx = 63)
      |        THEN (CAST(-9223372036854775807 AS BIGINT) - 1)
      |        ELSE 0 END AS h
      |  FROM bits GROUP BY grp, v),
      |cl AS (
      |  SELECT c.grp, c.v, c.cnt, h.h
      |  FROM cls c JOIN hs h ON h.grp = c.grp AND h.v = c.v),
      |pr AS (
      |  SELECT 0 AS hamming, CAST(cnt*(cnt-1)/2 AS BIGINT) AS n
      |  FROM cl WHERE cnt >= 2
      |  UNION ALL
      |  SELECT CAST(bit_count(xor(a.h, b.h)) AS INT),
      |    CAST(a.cnt*b.cnt AS BIGINT)
      |  FROM cl a JOIN cl b
      |    ON (a.grp < b.grp OR (a.grp = b.grp AND a.v < b.v))
      |  WHERE bit_count(xor(a.h, b.h)) <= 6)
      |SELECT CAST(hamming AS INT) AS hamming,
      |  CAST(sum(n) AS BIGINT) AS n_pairs
      |FROM pr GROUP BY 1 ORDER BY hamming""".stripMargin

  /** ✚ SimHash × exact-Hamming dedup — the FAMILY UNIFICATION gate:
    * the text fingerprint (q31's SimHash, widened to 64 bits —
    * [[graft.functions.MinHashOps.simhash64]]: 32 nibble votes of
    * md5(token) + 32 of md5("#" + token), MSB-first) flows through
    * the SAME hash-generic exact-Hamming banding as the image/audio
    * hashes (q158/q159) — one dedup operator, three modalities. Docs
    * are near-dup by construction (each is a base text, doc_id % 24,
    * plus a one-token " v<doc_id % 5>" suffix: one changed token of
    * ~80 flips only the near-tie vote bits), and the oracle replays
    * the 64 votes per class with q31's list-comprehension pattern,
    * packs the signed hash, and counts class pairs by popcount —
    * banding completeness proven against all-pairs arithmetic again.
    */
  def q160SimhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").filter(col("doc_id") < 300)
    val base = d.filter(col("doc_id") < 24)
      .select(col("doc_id").as("bid"), col("text").as("btext"))
    val docs = d.select(col("doc_id"), (col("doc_id") % 24).as("bid"))
      .join(broadcast(base), Seq("bid"))
      .select(col("doc_id"),
        concat(col("btext"), lit(" v"),
          (col("doc_id") % 5).cast("string")).as("text"))
    val hashes = docs.select(col("doc_id").as("id"),
      graft.functions.MinHashFunctions.simhash64(
        TextStats.wsTokens(col("text"))).as("sh"))
    graft.ext.ImageDedup.nearDupPairs(hashes, "id", "sh", maxHamming = 3)
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming"))
  }

  val q160Sql: String =
    """WITH cls AS (
      |  SELECT CAST(doc_id % 24 AS INT) AS grp,
      |    CAST(doc_id % 5 AS INT) AS v, count(*) AS cnt
      |  FROM documents WHERE doc_id < 300 GROUP BY 1, 2),
      |ct AS (
      |  SELECT c.grp, c.v, c.cnt,
      |    string_split(b.text || ' v' || CAST(c.v AS VARCHAR), ' ') AS toks
      |  FROM cls c JOIN documents b ON b.doc_id = c.grp),
      |hs AS (
      |  SELECT grp, v, cnt,
      |    CAST(list_sum([CASE WHEN
      |        list_sum(list_transform(toks, t ->
      |          CASE WHEN substr(md5(CASE WHEN j <= 32 THEN t
      |                ELSE '#' || t END), ((j-1) % 32) + 1, 1) >= '8'
      |            THEN 1 ELSE -1 END)) > 0
      |      THEN (CAST(1 AS BIGINT) << (64 - j)) ELSE 0 END
      |      for j in range(2, 65)]) AS BIGINT)
      |    + CASE WHEN
      |        list_sum(list_transform(toks, t ->
      |          CASE WHEN substr(md5(t), 1, 1) >= '8'
      |            THEN 1 ELSE -1 END)) > 0
      |      THEN (CAST(-9223372036854775807 AS BIGINT) - 1)
      |      ELSE 0 END AS h
      |  FROM ct),
      |pr AS (
      |  SELECT 0 AS hamming, CAST(cnt*(cnt-1)/2 AS BIGINT) AS n
      |  FROM hs WHERE cnt >= 2
      |  UNION ALL
      |  SELECT CAST(bit_count(xor(a.h, b.h)) AS INT),
      |    CAST(a.cnt*b.cnt AS BIGINT)
      |  FROM hs a JOIN hs b
      |    ON (a.grp < b.grp OR (a.grp = b.grp AND a.v < b.v))
      |  WHERE bit_count(xor(a.h, b.h)) <= 3)
      |SELECT CAST(hamming AS INT) AS hamming,
      |  CAST(sum(n) AS BIGINT) AS n_pairs
      |FROM pr GROUP BY 1 ORDER BY hamming""".stripMargin

  /** ✚ RFC 3986 relative-link resolution → frontier keys
    * ([[graft.functions.HtmlText.links]] →
    * [[graft.functions.UrlResolve]] → [[graft.ext.UrlOps.normalizeUrl]])
    * — the step q155/q157 deliberately deferred: real pages link
    * RELATIVELY, and a frontier built from unresolved hrefs mints
    * wrong keys. Each document is a page at a doc_id-templated base
    * URL carrying EIGHT reference classes: bare-relative, `../` up
    * one, `../../../` OVER-POPPING past the root (absorbed per the
    * RFC's abnormal examples), a `./`/`/./`/`/../` mixture, a
    * network-path `//host` reference, query-only, fragment-only, and
    * an absolute URL carrying its own dot segments. The engine
    * resolves each against the base with the codegen'd `resolve_url`
    * and normalizes into the q129 frontier key; the oracle replays
    * the §5.2.2 transform relationally — reference classification,
    * §5.2.3 path merge, query/fragment inheritance — and §5.2.4
    * dot-segment removal as a FIXED-POINT recursive CTE (one
    * leftmost rewrite per iteration: collapse a `/./`, absorb a
    * root-level `/../`, or pop a `segment/../` whose segment is not
    * itself a dot segment).
    */
  def q161ResolveLinks(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val k = (col("doc_id") % 7).cast("string")
    val k2 = ((col("doc_id") + 1) % 7).cast("string")
    val g = (col("doc_id") % 40).cast("string")
    val html = concat(
      lit("<html><body><a href=\"a/b_"), id, lit(".html\">1</a>" +
        "<a href=\"../up.html\">2</a>" +
        "<a href=\"../../../deep/"), g, lit(".html\">3</a>" +
        "<a href=\"./c/./d/../e_"), id, lit(".html\">4</a>" +
        "<a href=\"//h"), k2, lit(".test/net/x\">5</a>" +
        "<a href=\"?q="), id, lit("\">6</a>" +
        "<a href=\"#frag\">7</a>" +
        "<a href=\"http://ext.test/x/../y/"), g, lit("\">8</a>" +
        "</body></html>"))
    val base = concat(lit("http://h"), k, lit(".test/sec/"), g,
      lit("/page.html"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), base.as("base"),
        posexplode(graft.functions.HtmlToTextFunctions.htmlLinks(html))
          .as(Seq("pos", "link")))
      .withColumn("resolved", graft.functions.ResolveUrlFunctions
        .resolveUrl(col("base"), col("link")))
      .select(col("doc_id"), col("pos"), col("link"), col("resolved"),
        graft.ext.UrlOps.normalizeUrl(col("resolved")).as("nurl"))
      .orderBy(col("doc_id"), col("pos"))
  }

  val q161Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS k,
      |    CAST((doc_id + 1) % 7 AS VARCHAR) AS k2,
      |    CAST(doc_id % 40 AS VARCHAR) AS g,
      |    CAST(doc_id AS VARCHAR) AS i
      |  FROM documents),
      |refs AS (
      |  SELECT doc_id, k, g, 0 AS pos, 'a/b_' || i || '.html' AS href FROM d
      |  UNION ALL SELECT doc_id, k, g, 1, '../up.html' FROM d
      |  UNION ALL SELECT doc_id, k, g, 2,
      |    '../../../deep/' || g || '.html' FROM d
      |  UNION ALL SELECT doc_id, k, g, 3,
      |    './c/./d/../e_' || i || '.html' FROM d
      |  UNION ALL SELECT doc_id, k, g, 4, '//h' || k2 || '.test/net/x' FROM d
      |  UNION ALL SELECT doc_id, k, g, 5, '?q=' || i FROM d
      |  UNION ALL SELECT doc_id, k, g, 6, '#frag' FROM d
      |  UNION ALL SELECT doc_id, k, g, 7,
      |    'http://ext.test/x/../y/' || g FROM d),
      |hb AS (
      |  SELECT doc_id, pos, href,
      |    'h' || k || '.test' AS bauth,
      |    '/sec/' || g || '/page.html' AS bpath
      |  FROM refs),
      |-- strip the fragment, then classify the reference (5.2.2)
      |p1 AS (
      |  SELECT doc_id, pos, href, bauth, bpath,
      |    CASE WHEN strpos(href, '#') > 0
      |         THEN substr(href, strpos(href, '#') + 1) END AS fg,
      |    CASE WHEN strpos(href, '#') > 0
      |         THEN left(href, strpos(href, '#') - 1) ELSE href END AS h0
      |  FROM hb),
      |p2 AS (
      |  SELECT *,
      |    (regexp_matches(h0, '^[A-Za-z][A-Za-z0-9+.-]*://')
      |      OR h0 LIKE '//%') AS own_auth
      |  FROM p1),
      |p3 AS (
      |  SELECT doc_id, pos, href, fg, bpath, own_auth,
      |    CASE WHEN own_auth THEN regexp_extract(
      |        regexp_replace(h0, '^[A-Za-z][A-Za-z0-9+.-]*:', ''),
      |        '^//([^/?]*)', 1)
      |      ELSE bauth END AS auth,
      |    CASE WHEN own_auth THEN regexp_replace(
      |        regexp_replace(h0, '^[A-Za-z][A-Za-z0-9+.-]*:', ''),
      |        '^//[^/?]*', '')
      |      ELSE h0 END AS rest
      |  FROM p2),
      |p4 AS (
      |  SELECT doc_id, pos, href, fg, bpath, own_auth, auth,
      |    CASE WHEN strpos(rest, '?') > 0
      |         THEN substr(rest, strpos(rest, '?') + 1) END AS qy,
      |    CASE WHEN strpos(rest, '?') > 0
      |         THEN left(rest, strpos(rest, '?') - 1) ELSE rest END AS rp
      |  FROM p3),
      |-- 5.2.3 merge: empty path keeps the base path (and would keep
      |-- its query — the fixture base has none); absolute-path and
      |-- own-authority references keep their own
      |m AS (
      |  SELECT doc_id, pos, href, fg, auth, qy,
      |    CASE WHEN rp = '' THEN bpath
      |         WHEN own_auth OR rp LIKE '/%' THEN rp
      |         ELSE regexp_replace(bpath, '[^/]*$', '') || rp
      |    END AS p
      |  FROM p4),
      |-- 5.2.4 remove_dot_segments as a fixed point: each iteration
      |-- applies ONE leftmost rewrite until the path stops changing
      |rec AS (
      |  SELECT doc_id, pos, href, fg, auth, qy, p, 0 AS it FROM m
      |  UNION ALL
      |  SELECT doc_id, pos, href, fg, auth, qy, np, it + 1 FROM (
      |    SELECT doc_id, pos, href, fg, auth, qy, p, it,
      |      CASE
      |        WHEN regexp_matches(p, '/\.(/|$)')
      |          THEN regexp_replace(p, '/\.(/|$)', '/')
      |        WHEN regexp_matches(p, '^/\.\.(/|$)')
      |          THEN regexp_replace(p, '^/\.\.(/|$)', '/')
      |        ELSE regexp_replace(p,
      |          '/([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)/\.\.(/|$)', '/')
      |      END AS np
      |    FROM rec) WHERE np <> p),
      |fin AS (
      |  SELECT doc_id, pos, href, fg, auth, qy, p
      |  FROM rec
      |  QUALIFY row_number() OVER (PARTITION BY doc_id, pos
      |    ORDER BY it DESC) = 1)
      |SELECT doc_id, CAST(pos AS INT) AS pos, href AS link,
      |  'http://' || auth || p
      |    || CASE WHEN qy IS NOT NULL THEN '?' || qy ELSE '' END
      |    || CASE WHEN fg IS NOT NULL THEN '#' || fg ELSE '' END
      |    AS resolved,
      |  auth || p
      |    || CASE WHEN qy IS NOT NULL THEN '?' || qy ELSE '' END AS nurl
      |FROM fin ORDER BY doc_id, pos""".stripMargin

  /** ✚ robots.txt REP WILDCARD election
    * ([[graft.functions.RobotsRules.repMatches]] +
    * [[graft.ext.Robots.withAllowedPatterns]]) — q156's election
    * extended to the RFC 9309 wildcard grammar real robots.txt files
    * use constantly: `*` (any character run) and a trailing `$` (end
    * anchor), with specificity = the pattern's octet length and Allow
    * winning ties. The per-host file mixes plain prefix rules with an
    * anchored extension rule (slash-star `.php` dollar), a
    * star-in-the-middle Allow that outweighs it (`/files/` star
    * `/public`), an exact-path anchor (`/dl$`) and an even-host-only
    * star rule (`/p2` star); eight URL
    * classes (coprime with the 7 hosts) exercise every rule both
    * firing and missing. The oracle restates each pattern with its
    * portable-regex translation and replays the election as a window
    * ordered by pattern length.
    */
  def q162RobotsWildcards(spark: SparkSession, dir: String): DataFrame = {
    val hosts = spark.range(7).select(col("id").as("k"),
      concat(lit("h"), col("id").cast("string"), lit(".test")).as("host"))
    val txt = concat(
      lit("# wildcard robots\nUser-agent: OtherBot\nDisallow: /\n\n" +
        "User-Agent: GraftBot\nDisallow: /private\nAllow: /private/ok\n" +
        "Disallow: /*.php$\nAllow: /files/*/public\nDisallow: /dl$\n"),
      when(col("k") % 2 === 0, lit("Disallow: /p2*\n")).otherwise(lit("")),
      lit("\nUser-agent: *\nDisallow: /\n"))
    val rules = hosts.select(col("host"),
        explode(graft.functions.RobotsFunctions.robotsRules(
          txt, "graftbot")).as("r"))
      .select(col("host"), col("r.allow").as("allow"),
        col("r.prefix").as("pattern"))
    val id = col("doc_id").cast("string")
    val g = (col("doc_id") % 40).cast("string")
    val urls = Tables(spark, dir, "documents").select(col("doc_id"),
      concat(lit("h"), (col("doc_id") % 7).cast("string"), lit(".test"))
        .as("host"),
      when(col("doc_id") % 8 === 0, concat(lit("/files/"), g,
          lit("/public/a.php")))
        .when(col("doc_id") % 8 === 1, concat(lit("/x/page"), id,
          lit(".php")))
        .when(col("doc_id") % 8 === 2, concat(lit("/x/page"), id,
          lit(".php5")))
        .when(col("doc_id") % 8 === 3, lit("/dl"))
        .when(col("doc_id") % 8 === 4, concat(lit("/dl/"), id))
        .when(col("doc_id") % 8 === 5, concat(lit("/p2/"), id))
        .when(col("doc_id") % 8 === 6, concat(lit("/private/"), id))
        .otherwise(concat(lit("/private/ok/"), id)).as("path"))
    graft.ext.Robots.withAllowedPatterns(urls, rules, Seq("doc_id"))
      .select(col("doc_id"), col("host"), col("path"), col("allowed"))
      .orderBy(col("doc_id"))
  }

  val q162Sql: String =
    """WITH hosts AS (
      |  SELECT CAST(k AS BIGINT) AS k,
      |    'h' || CAST(k AS VARCHAR) || '.test' AS host
      |  FROM range(0, 7) t(k)),
      |-- each engine pattern restated with its portable-regex
      |-- translation; specificity = raw pattern length (octets)
      |rules AS (
      |  SELECT host, FALSE AS allow, '/private' AS pattern,
      |    '^/private' AS rx FROM hosts
      |  UNION ALL SELECT host, TRUE, '/private/ok', '^/private/ok'
      |    FROM hosts
      |  UNION ALL SELECT host, FALSE, '/*.php$', '^/.*\.php$' FROM hosts
      |  UNION ALL SELECT host, TRUE, '/files/*/public',
      |    '^/files/.*/public' FROM hosts
      |  UNION ALL SELECT host, FALSE, '/dl$', '^/dl$' FROM hosts
      |  UNION ALL SELECT host, FALSE, '/p2*', '^/p2.*' FROM hosts
      |    WHERE k % 2 = 0),
      |u AS (
      |  SELECT doc_id,
      |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.test' AS host,
      |    CASE CAST(doc_id % 8 AS INT)
      |      WHEN 0 THEN '/files/' || CAST(doc_id % 40 AS VARCHAR)
      |        || '/public/a.php'
      |      WHEN 1 THEN '/x/page' || CAST(doc_id AS VARCHAR) || '.php'
      |      WHEN 2 THEN '/x/page' || CAST(doc_id AS VARCHAR) || '.php5'
      |      WHEN 3 THEN '/dl'
      |      WHEN 4 THEN '/dl/' || CAST(doc_id AS VARCHAR)
      |      WHEN 5 THEN '/p2/' || CAST(doc_id AS VARCHAR)
      |      WHEN 6 THEN '/private/' || CAST(doc_id AS VARCHAR)
      |      ELSE '/private/ok/' || CAST(doc_id AS VARCHAR) END AS path
      |  FROM documents),
      |m AS (
      |  SELECT u.doc_id, r.allow,
      |    row_number() OVER (PARTITION BY u.doc_id
      |      ORDER BY length(r.pattern) DESC, CAST(r.allow AS INT) DESC)
      |      AS rn
      |  FROM u JOIN rules r
      |    ON r.host = u.host AND regexp_matches(u.path, r.rx))
      |SELECT u.doc_id, u.host, u.path,
      |  coalesce(m.allow, TRUE) AS allowed
      |FROM u LEFT JOIN (SELECT doc_id, allow FROM m WHERE rn = 1) m
      |  ON m.doc_id = u.doc_id
      |ORDER BY u.doc_id""".stripMargin

  /** ✚ boilerplate BLOCK classification between extraction and line
    * cleaning ([[graft.functions.HtmlText.blocks]] →
    * [[graft.ext.Boilerplate]] → [[graft.ext.LineClean]]) — the
    * published pipeline order (jusText-style block verdicts, then C4
    * line rules over the survivors). Each document is a five-block
    * page: a nav bar (all anchor text — dropped by link density), the
    * real document text (verdict DATA-DEPENDENT on its stop-word
    * density — the non-degenerate split; the gate runs the threshold
    * at 6/100, the synthetic keyword-soup corpus's median, where the
    * jusText-style 3/10 default is calibrated for real prose), a
    * prose block carrying one light inline link (kept: density under
    * 1/5, stop words far over threshold), a stop-word-free spam line
    * (dropped) and a link-heavy
    * footer (dropped). The oracle states the template blocks with
    * their lexer-derived link-char counts literally, recomputes the
    * text block's collapsed form (the q151/q154 replay), and replays
    * BOTH integer cross-multiplied verdicts and the C4 line rules
    * relationally.
    */
  def q163Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    def esc(c: org.apache.spark.sql.Column) =
      F.replace(F.replace(F.replace(c, lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    val html = concat(
      lit("<html><body><div><a href=\"/a\">Home</a> " +
        "<a href=\"/b\">About</a> <a href=\"/c\">Contact</a></div><p>"),
      esc(col("text")), lit(".</p>" +
        "<p>Please read the <a href=\"/terms\">terms</a> of this" +
        " policy for all of the details here.</p>" +
        "<p>Buy cheap widgets online today now fast</p>" +
        "<div>Copyright 2020 <a href=\"/t\">Terms</a> " +
        "<a href=\"/p\">Privacy</a></div></body></html>"))
    val blocks = graft.functions.HtmlToTextFunctions.htmlBlocks(html)
    val cleaned = graft.ext.Boilerplate.contentText(blocks,
      stopNum = 6, stopDen = 100)
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(blocks).cast("long").as("n_blocks"),
        size(filter(blocks, b => graft.ext.Boilerplate.isContent(
          b.getField("text"), b.getField("link_chars"),
          stopNum = 6, stopDen = 100)))
          .cast("long").as("n_content"),
        size(graft.ext.LineClean.keptLines(cleaned))
          .cast("long").as("n_kept"),
        md5(graft.ext.LineClean.cleanedText(cleaned)).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val stopwordSqlList: String =
    graft.ext.Boilerplate.Stopwords.map(w => s"'$w'").mkString(", ")

  val q163Sql: String =
    s"""WITH e AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(text || '.', '[ \\t\\n\\x0B\\f\\r]+',
      |      ' ', 'g'), ' ') AS l1
      |  FROM documents),
      |-- the text block's verdict: zero link chars (always passes the
      |-- link rule), stop-word density over the collapsed tokens
      |v AS (
      |  SELECT doc_id, l1,
      |    len(list_filter(string_split(lower(l1), ' '),
      |      w -> w IN ($stopwordSqlList))) * 100
      |      >= len(list_filter(string_split(l1, ' '), w -> w <> '')) * 6
      |      AS v2
      |  FROM e),
      |c AS (
      |  SELECT doc_id,
      |    CASE WHEN v2 THEN [l1,
      |      'Please read the terms of this policy for all of the details here.']
      |    ELSE
      |      ['Please read the terms of this policy for all of the details here.']
      |    END AS content,
      |    CASE WHEN v2 THEN 2 ELSE 1 END AS n_content
      |  FROM v),
      |k AS (
      |  SELECT doc_id, n_content,
      |    list_filter(content, l ->
      |      right(l, 1) IN ('.', '!', '?', '"')
      |      AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
      |      AND NOT contains(lower(l), 'javascript')) AS kept
      |  FROM c)
      |SELECT doc_id, CAST(5 AS BIGINT) AS n_blocks,
      |  CAST(n_content AS BIGINT) AS n_content,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  md5(array_to_string(kept, chr(10))) AS clean_md5
      |FROM k ORDER BY doc_id""".stripMargin

  /** ✚ persisted multi-round crawl-frontier LIFECYCLE
    * ([[graft.ext.Frontier]]) — the stateful system q157's one-shot
    * round composes into: the seen set and per-round frontier live as
    * an index-family artifact (meta-last transactions, writer lease,
    * exactly-once streaming marker), and each micro-batch of a file
    * stream drives ONE crawl round off the PERSISTED frontier. The
    * web is synthesized over documents: page `h{id%7}.test/d/{id}`
    * links (1) a RELATIVE `../d/{j}` (j = (3·id+1) mod N) — resolved
    * against the page URL through the RFC 3986 expression (q161's
    * operator) onto the SOURCE host, where it is mostly a dead link
    * (the real page d/j lives on h{j%7} — crawls discover dead URLs
    * constantly, and the frontier must carry them), (2) a scheme-
    * relative NETWORK-PATH reference `//h{j%7}.test/d/{j}` — the live
    * edge that keeps later rounds populated, (3) an absolute
    * `http://www.h{(id+1)%7}.test/private/ok/{id}?utm_source=x` whose
    * www/tracking noise the normalizer strips and whose
    * Allow-overrides-Disallow election q156 pins, (4) a root-relative
    * `/p2/{id%40}` denied by an even-host-only wildcard rule (q162's
    * grammar). Seeds = every tenth page; TWO trigger files → two
    * streamed rounds. Output: per-stage (n, fp) census of the store
    * read back AFTER the stream AND a [[graft.ext.Frontier.compactSeen]]
    * (compaction invisibility inside the hash) — seeds, both round
    * frontiers, and the final seen set. THE ORACLE RECOMPUTES THE
    * WHOLE TWO-ROUND CRAWL RELATIONALLY (resolved link graph, per-
    * round anti-join against the growing seen set, the length-ordered
    * robots election per round), so stream ≡ one-shot multi-round
    * recompute is exactly what the hash asserts (the q110/q153
    * stream≡batch pattern, here over persisted crawl state).
    */
  def q164FrontierLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val n = docs.count()
    val id = col("doc_id")
    val k = (id % 7).cast("string")
    val j = (id * 3 + 1) % n
    val html = concat(
      lit("<html><body><a href=\"../d/"), j.cast("string"),
      lit("\">a</a><a href=\"//h"), (j % 7).cast("string"),
      lit(".test/d/"), j.cast("string"),
      lit("\">b</a><a href=\"http://www.h"),
      ((id + 1) % 7).cast("string"),
      lit(".test/private/ok/"), id.cast("string"),
      lit("?utm_source=x\">c</a><a href=\"/p2/"),
      (id % 40).cast("string"),
      lit("\">d</a></body></html>"))
    val web = docs.select(
      concat(lit("h"), k, lit(".test/d/"), id.cast("string")).as("nurl"),
      html.as("html"))
    val hosts = spark.range(7).select(col("id").as("hk"),
      concat(lit("h"), col("id").cast("string"), lit(".test")).as("host"))
    val txt = concat(
      lit("User-agent: OtherBot\nDisallow: /\n\n" +
        "User-Agent: GraftBot\nDisallow: /private\nAllow: /private/ok\n"),
      when(col("hk") % 2 === 0, lit("Disallow: /p2*\n")).otherwise(lit("")),
      lit("\nUser-agent: *\nDisallow: /\n"))
    val rules = hosts.select(col("host"),
        explode(graft.functions.RobotsFunctions.robotsRules(
          txt, "graftbot")).as("r"))
      .select(col("host"), col("r.allow").as("allow"),
        col("r.prefix").as("pattern"))
    val seeds = web.filter(id % 10 === 0).select("nurl")

    val root = java.nio.file.Files.createTempDirectory("graft_q164_")
      .toString
    val store = s"$root/frontier"
    graft.ext.Frontier.create(spark, store, seeds)
    val man = s"$root/manifest"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(man))
    Seq("t0", "t1").foreach { t =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$man/$t.txt"),
        s"$t\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    graft.streaming.EventStream.streamTo(
      spark.readStream.option("maxFilesPerTrigger", 1).text(man),
      s"q164_${System.nanoTime()}", Some(s"$root/ckpt"))(
      graft.ext.Frontier.streamingRoundBatch(spark, store, web, rules) _)
    // maintenance between crawl and census: the merged seen frame must
    // census identically to the delta frames — compaction invisibility
    // rides the oracle hash, not just the spec
    graft.ext.Frontier.compactSeen(spark, store)

    val fp = conv(substring(md5(col("nurl")), 1, 6), 16, 10).cast("long")
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n"), coalesce(sum(fp), lit(0L)).as("fp"))
        .select(lit(name).as("stage"), col("n"), col("fp"))
    val out = stage(graft.ext.Frontier.frontier(spark, store, 0), "0_seeds")
      .unionAll(stage(
        graft.ext.Frontier.frontier(spark, store, 1), "1_frontier"))
      .unionAll(stage(
        graft.ext.Frontier.frontier(spark, store, 2), "2_frontier"))
      .unionAll(stage(graft.ext.Frontier.seen(spark, store), "3_seen"))
      .orderBy(col("stage"))
    SourceQueries.materializeThenDelete(out, root)
  }

  /** The two-round crawl recomputed relationally: the link graph is
    * stated post-resolution/normalization (the q161/q129 replays pin
    * those transforms' own gates), each round anti-joins the growing
    * seen set, and the robots election is the q156/q162 length-
    * ordered window — `/p2*` restated as its prefix `/p2` for the
    * match with its RAW octet length (4) as specificity.
    */
  val q164Sql: String =
    """WITH cnt AS (SELECT count(*) AS n FROM documents),
      |web AS (
      |  SELECT doc_id AS id, doc_id % 7 AS k,
      |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.test/d/' ||
      |      CAST(doc_id AS VARCHAR) AS nurl
      |  FROM documents),
      |links AS (
      |  SELECT id, 'h' || CAST(k AS VARCHAR) || '.test/d/' ||
      |    CAST((3 * id + 1) % (SELECT n FROM cnt) AS VARCHAR) AS l
      |  FROM web
      |  UNION ALL SELECT id,
      |    'h' || CAST((3 * id + 1) % (SELECT n FROM cnt) % 7 AS VARCHAR)
      |    || '.test/d/' ||
      |    CAST((3 * id + 1) % (SELECT n FROM cnt) AS VARCHAR) FROM web
      |  UNION ALL SELECT id, 'h' || CAST((id + 1) % 7 AS VARCHAR) ||
      |    '.test/private/ok/' || CAST(id AS VARCHAR) FROM web
      |  UNION ALL SELECT id, 'h' || CAST(k AS VARCHAR) || '.test/p2/' ||
      |    CAST(id % 40 AS VARCHAR) FROM web),
      |rules AS (
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.test' AS host,
      |    FALSE AS allow, '/private' AS pattern, 8 AS plen
      |  FROM range(0, 7) t(k)
      |  UNION ALL SELECT 'h' || CAST(k AS VARCHAR) || '.test',
      |    TRUE, '/private/ok', 11 FROM range(0, 7) t(k)
      |  UNION ALL SELECT 'h' || CAST(k AS VARCHAR) || '.test',
      |    FALSE, '/p2', 4 FROM range(0, 7) t(k) WHERE k % 2 = 0),
      |seeds AS (SELECT nurl FROM web WHERE id % 10 = 0),
      |c1 AS (
      |  SELECT DISTINCT l.l AS nurl FROM links l JOIN web w ON w.id = l.id
      |  WHERE w.nurl IN (SELECT nurl FROM seeds)),
      |n1 AS (
      |  SELECT nurl FROM c1 WHERE nurl NOT IN (SELECT nurl FROM seeds)),
      |h1 AS (
      |  SELECT nurl, substr(nurl, 1, strpos(nurl, '/') - 1) AS host,
      |    substr(nurl, strpos(nurl, '/')) AS path
      |  FROM n1),
      |m1 AS (
      |  SELECT h1.nurl, r.allow,
      |    row_number() OVER (PARTITION BY h1.nurl
      |      ORDER BY r.plen DESC, CAST(r.allow AS INT) DESC) AS rn
      |  FROM h1 JOIN rules r
      |    ON r.host = h1.host AND starts_with(h1.path, r.pattern)),
      |f1 AS (
      |  SELECT h1.nurl
      |  FROM h1 LEFT JOIN (SELECT nurl, allow FROM m1 WHERE rn = 1) m
      |    ON m.nurl = h1.nurl
      |  WHERE coalesce(m.allow, TRUE)),
      |seen1 AS (
      |  SELECT nurl FROM seeds UNION SELECT nurl FROM n1),
      |c2 AS (
      |  SELECT DISTINCT l.l AS nurl FROM links l JOIN web w ON w.id = l.id
      |  WHERE w.nurl IN (SELECT nurl FROM f1)),
      |n2 AS (
      |  SELECT nurl FROM c2 WHERE nurl NOT IN (SELECT nurl FROM seen1)),
      |h2 AS (
      |  SELECT nurl, substr(nurl, 1, strpos(nurl, '/') - 1) AS host,
      |    substr(nurl, strpos(nurl, '/')) AS path
      |  FROM n2),
      |m2 AS (
      |  SELECT h2.nurl, r.allow,
      |    row_number() OVER (PARTITION BY h2.nurl
      |      ORDER BY r.plen DESC, CAST(r.allow AS INT) DESC) AS rn
      |  FROM h2 JOIN rules r
      |    ON r.host = h2.host AND starts_with(h2.path, r.pattern)),
      |f2 AS (
      |  SELECT h2.nurl
      |  FROM h2 LEFT JOIN (SELECT nurl, allow FROM m2 WHERE rn = 1) m
      |    ON m.nurl = h2.nurl
      |  WHERE coalesce(m.allow, TRUE)),
      |seen2 AS (SELECT nurl FROM seen1 UNION SELECT nurl FROM n2)
      |SELECT '0_seeds' AS stage, count(*) AS n,
      |  CAST(coalesce(sum(CAST('0x' || substr(md5(nurl), 1, 6) AS BIGINT)),
      |    0) AS BIGINT) AS fp FROM seeds
      |UNION ALL SELECT '1_frontier', count(*),
      |  CAST(coalesce(sum(CAST('0x' || substr(md5(nurl), 1, 6) AS BIGINT)),
      |    0) AS BIGINT) FROM f1
      |UNION ALL SELECT '2_frontier', count(*),
      |  CAST(coalesce(sum(CAST('0x' || substr(md5(nurl), 1, 6) AS BIGINT)),
      |    0) AS BIGINT) FROM f2
      |UNION ALL SELECT '3_seen', count(*),
      |  CAST(coalesce(sum(CAST('0x' || substr(md5(nurl), 1, 6) AS BIGINT)),
      |    0) AS BIGINT) FROM seen2
      |ORDER BY stage""".stripMargin

  /** ✚ polite frontier scheduling ([[graft.ext.Frontier.politeSlice]]
    * + the `robots_crawl_delay` expression) — the pacing knob real
    * crawlers enforce: a host with `Crawl-delay: d` gets
    * `floor(cycle/d)` fetch slots per cycle (minimum one), the rest
    * of its round defers. Per-host robots.txt carries delay `k+1`
    * seconds (host h6 carries NONE — the default-delay path), cycle
    * 100 s; each host's frontier slice is ranked in nurl order and
    * censused: frontier size, in-budget fetches, fingerprint of the
    * fetched set. The oracle restates the parsed delays (the parse
    * itself is spec- and q156-pinned) and replays the rank and the
    * CROSS-MULTIPLIED budget predicate `rank=1 OR rank·delay ≤ cycle`
    * exactly — integer arithmetic only, every boundary in the hash.
    */
  def q165PoliteFrontier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val k = (col("doc_id") % 7).cast("string")
    val frontier = docs.select(
      concat(lit("h"), k, lit(".test/d/"), col("doc_id").cast("string"))
        .as("nurl"))
    val hosts = spark.range(7).select(col("id").as("hk"),
      concat(lit("h"), col("id").cast("string"), lit(".test")).as("host"))
    val txt = concat(lit("User-agent: GraftBot\n"),
      when(col("hk") === 6, lit(""))
        .otherwise(concat(lit("Crawl-delay: "),
          (col("hk") + 1).cast("string"), lit("\n"))),
      lit("Disallow: /private\n"))
    val delays = hosts.select(col("host"),
      graft.functions.RobotsFunctions.robotsCrawlDelay(txt, "graftbot")
        .as("delay"))
    val fp = conv(substring(md5(col("nurl")), 1, 6), 16, 10).cast("long")
    graft.ext.Frontier.politeSlice(frontier, delays, cycleSeconds = 100L)
      .groupBy(col("host"))
      .agg(first(col("delay")).as("delay"),
        count(lit(1)).as("n_frontier"),
        sum(when(col("fetch_now"), 1L).otherwise(0L)).as("n_fetch"),
        sum(when(col("fetch_now"), fp).otherwise(0L)).as("fp_fetch"))
      .orderBy(col("host"))
  }

  val q165Sql: String =
    """WITH f AS (
      |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.test' AS host,
      |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.test/d/' ||
      |      CAST(doc_id AS VARCHAR) AS nurl
      |  FROM documents),
      |-- the parsed per-host delays, restated: h6 has no Crawl-delay
      |-- line, so it runs at the operator's default of 1 s
      |d AS (
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.test' AS host,
      |    CASE WHEN k = 6 THEN 1 ELSE k + 1 END AS delay
      |  FROM range(0, 7) t(k)),
      |r AS (
      |  SELECT f.host, f.nurl, d.delay,
      |    row_number() OVER (PARTITION BY f.host ORDER BY f.nurl) AS rank
      |  FROM f JOIN d ON d.host = f.host),
      |s AS (
      |  SELECT host, nurl, delay,
      |    (rank = 1 OR rank * delay <= 100) AS fetch_now
      |  FROM r)
      |SELECT host, CAST(max(delay) AS BIGINT) AS delay,
      |  count(*) AS n_frontier,
      |  CAST(sum(CASE WHEN fetch_now THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_fetch,
      |  CAST(sum(CASE WHEN fetch_now
      |    THEN CAST('0x' || substr(md5(nurl), 1, 6) AS BIGINT)
      |    ELSE 0 END) AS BIGINT) AS fp_fetch
      |FROM s GROUP BY host ORDER BY host""".stripMargin

  /** ✚ sitemap parsing → frontier seeds ([[graft.functions.Sitemap]])
    * — the crawl frontier's other seed source (robots.txt `Sitemap:`
    * lines point here): parse each host's sitemap XML with the
    * tolerant scanner, normalize every `<loc>` into the frontier key,
    * and census per document. Four-fifths of the corpus carries a
    * `<urlset>` exercising the real-web grammar — a www/utm-noised
    * loc the normalizer strips, whitespace-padded element text, an
    * `&amp;`-entity query, a CDATA loc, an XML comment inside
    * `<lastmod>`, per-entry `<priority>`, and a loc-less entry that
    * must drop; every fifth document is a `<sitemapindex>` (kind =
    * sitemap — the recursion face). Output per doc: kind counts and
    * one md5 over the ordered (kind, normalized loc, lastmod,
    * priority) tuples — the whole parse + normalization in the hash,
    * entirely map-side (the only exchange is the final ORDER BY).
    * The oracle restates each entry's post-parse, post-normalization
    * value relationally (the scanner's own grammar is SitemapSpec's
    * battery; normalization is q129's gate).
    */
  def q166SitemapSeeds(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val k = (id % 7).cast("string")
    val idS = id.cast("string")
    val urlsetXml = concat(
      lit("<?xml version=\"1.0\"?><urlset " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<url><loc>http://www.h"), k, lit(".test/d/"), idS,
      lit("?utm_source=map</loc><lastmod>2024-0"),
      ((id % 9) + 1).cast("string"),
      lit("-15</lastmod><priority>0."), (id % 10).cast("string"),
      lit("</priority></url><url><loc>\n  http://h"), k,
      lit(".test/p/"), (id % 40).cast("string"),
      lit("\n</loc></url><url><loc>http://h"), k,
      lit(".test/q?a=1&amp;b="), idS,
      lit("</loc><lastmod><!-- noise -->2023-12-31</lastmod></url>" +
        "<url><loc><![CDATA[http://h"), k, lit(".test/cd/"), idS,
      lit("]]></loc></url><url><priority>0.5</priority></url></urlset>"))
    val indexXml = concat(
      lit("<sitemapindex><sitemap><loc>http://h"), k,
      lit(".test/maps/"), idS,
      lit("_a.xml</loc><lastmod>2024-06-01</lastmod></sitemap>" +
        "<sitemap><loc>http://www.h"), k, lit(".test/maps/"), idS,
      lit("_b.xml</loc></sitemap></sitemapindex>"))
    val entries = graft.functions.SitemapFunctions.sitemapEntries(
      when(id % 5 === 0, indexXml).otherwise(urlsetXml))
    Tables(spark, dir, "documents")
      .select(id,
        size(filter(entries, e => e.getField("kind") === "url"))
          .cast("long").as("n_url"),
        size(filter(entries, e => e.getField("kind") === "sitemap"))
          .cast("long").as("n_sitemap"),
        md5(concat_ws("|", transform(entries, e => concat_ws("#",
          e.getField("kind"),
          graft.ext.UrlOps.normalizeUrl(e.getField("loc")),
          e.getField("lastmod"), e.getField("priority")))))
          .as("entry_md5"))
      .orderBy(id)
  }

  val q166Sql: String =
    """SELECT doc_id, CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 4 END
      |    AS BIGINT) AS n_url,
      |  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS BIGINT)
      |    AS n_sitemap,
      |  CASE WHEN doc_id % 5 = 0 THEN md5(
      |    'sitemap#h' || CAST(doc_id % 7 AS VARCHAR) || '.test/maps/'
      |      || CAST(doc_id AS VARCHAR) || '_a.xml#2024-06-01#'
      |    || '|' ||
      |    'sitemap#h' || CAST(doc_id % 7 AS VARCHAR) || '.test/maps/'
      |      || CAST(doc_id AS VARCHAR) || '_b.xml##')
      |  ELSE md5(
      |    'url#h' || CAST(doc_id % 7 AS VARCHAR) || '.test/d/'
      |      || CAST(doc_id AS VARCHAR) || '#2024-0'
      |      || CAST(doc_id % 9 + 1 AS VARCHAR) || '-15#0.'
      |      || CAST(doc_id % 10 AS VARCHAR)
      |    || '|' ||
      |    'url#h' || CAST(doc_id % 7 AS VARCHAR) || '.test/p/'
      |      || CAST(doc_id % 40 AS VARCHAR) || '##'
      |    || '|' ||
      |    'url#h' || CAST(doc_id % 7 AS VARCHAR) || '.test/q?a=1&b='
      |      || CAST(doc_id AS VARCHAR) || '#2023-12-31#'
      |    || '|' ||
      |    'url#h' || CAST(doc_id % 7 AS VARCHAR) || '.test/cd/'
      |      || CAST(doc_id AS VARCHAR) || '##')
      |  END AS entry_md5
      |FROM documents ORDER BY doc_id""".stripMargin
}

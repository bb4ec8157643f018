package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star ✚):
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: signatures are pure per-row array expressions (map-side,
  * codegen'd, no shuffle); the only shuffles are the final groupBy on a
  * 16-byte hash (exact dedup) or the band-bucket self-join (LSH), both of
  * which shuffle keys + ids, never full documents. The verify step's
  * payload defaults to the per-shingle 52-bit hash sets ([[VerifyOn]]),
  * so even the verify joins never move document-derived strings.
  */
object Dedup {

  /** What the exact-Jaccard verify stage intersects — the r13 lever on
    * the pair stage's measured dominant footprint (BASELINE.md
    * §"Staged band processing": the verify joins + pair dedup carry
    * ~80% of the stage's shuffle bytes and all of its memory spill,
    * and the verify side's payload is the per-doc shingle array).
    *
    *  - [[VerifyOn.Shingles]]: intersect the shingle STRING arrays —
    *    the reference formulation, exact. Opt-in.
    *  - [[VerifyOn.HashSets]] (DEFAULT): intersect the per-shingle
    *    52-bit [[hexHash]] arrays (already computed for the MinHash
    *    signatures, so hashing adds no work) — the verify joins ship
    *    8-byte longs instead of strings, and the persisted base frame
    *    drops the strings entirely. Set semantics are preserved
    *    (intersect/union are distinct-element on both engines); the
    *    approximation is hash collisions WITHIN one pair's union of
    *    shingle sets: P ≈ s²/2⁵³ for s distinct shingles (~1e-8 at
    *    s = 10⁴), i.e. bit-identical to Shingles on any real corpus
    *    slice, with a one-in-10⁸ pair's jaccard off by 1/|union| at
    *    100 TB — the same order as MinHash banding's own false-negative
    *    floor the pipeline already accepts.
    *
    * Adopted as default on the 8 M-doc SpillProbe comparison
    * (BASELINE.md §"Hash-set verify", round 13): the verify stage's
    * uncompressed sort/spill path is where the strings hurt — memory
    * spill 28.5 → 18.9 GB (−33%), disk spill −19%, wall −21%, with
    * shuffle WRITE nearly flat (strings compress well on the wire;
    * sorts pay the uncompressed width).
    */
  sealed trait VerifyOn
  object VerifyOn {
    case object Shingles extends VerifyOn
    case object HashSets extends VerifyOn
  }

  /** The ONE payload-column mapping (used by the verify stage, the
    * incremental path, and [[LshIndex]]'s persisted base frame — a
    * rename or a new case must not desynchronize a persisted index
    * from the verify path reading it).
    */
  private[graft] def payloadColumn(verifyOn: VerifyOn): String = verifyOn match {
    case VerifyOn.Shingles => "sh"
    case VerifyOn.HashSets => "h1"
  }

  /** Distinct word shingles of width `n` (n=1 → the word set).
    * n>1 rides the native [[graft.functions.WordNGrams]] expression
    * (same '_'-joined windows, empty below n tokens, codegen'd instead
    * of an interpreted HOF chain).
    */
  def shingles(text: Column, n: Int): Column =
    if (n == 1) array_distinct(split(text, " "))
    else array_distinct(graft.functions.GramFunctions.wordNgrams(text, n))

  /** 52-bit integer hash of a shingle: md5 hex prefix parsed as a
    * number — portable (md5 + hex parse exist everywhere), and 52 bits
    * leaves headroom for the linear combinations below in an int64.
    */
  def hexHash(s: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), s)), 1, 13), 16, 10).cast("long")

  /** MinHash signature via the Carter-Wegman trick: only TWO md5
    * evaluations per shingle (h1, h2), hash family i = h1 + i·h2.
    * At 100 TB the md5 battery is the dominant map-side cost of
    * signature computation — this cuts it numHashes/2 ×, and the
    * native [[graft.functions.HexHashArray]] /
    * [[graft.functions.MinhashArray]] expressions run it in one
    * codegen'd pass per row (the HOF formulation they replaced walked
    * an interpreted expression tree per shingle, then re-walked both
    * hash arrays once per signature slot).
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    minhashFromHashes(
      graft.functions.MinHashFunctions.hexHashArray(shingleArr, "a#"),
      graft.functions.MinHashFunctions.hexHashArray(shingleArr, "b#"),
      numHashes)

  /** Signature from precomputed h1/h2 arrays (cache these when several
    * stages reuse them — column expressions re-inline otherwise).
    */
  def minhashFromHashes(h1: Column, h2: Column, numHashes: Int): Column =
    graft.functions.MinHashFunctions.minhashArray(h1, h2, numHashes)

  /** LSH band keys: `numBands` bands of `rowsPerBand` signature slots,
    * each band hashed to one md5 key. element_at is 1-based.
    */
  def bandHashes(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*))
    }: _*)

  /** Exact Jaccard over two distinct-element arrays. Integer sizes +
    * one double division → bit-identical across engines.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** 16-bit portable SimHash over tokens (duplicates counted): bit j is
    * the majority vote of hex digit j of md5(token) being >= '8' (the
    * digit's high bit). Small by design so the oracle can replicate it;
    * widen numBits for production use.
    *
    * Native [[graft.functions.SimHash16]] expression: ONE md5 per token
    * covers all 16 bits in a codegen'd pass — the HOF formulation this
    * replaces re-folded the whole token array interpreted once per bit
    * (16 md5 evaluations per token).
    */
  def simhash16(tokens: Column): Column =
    graft.functions.MinHashFunctions.simhash16(tokens)

  /** Exact duplicate groups: md5(text) → (representative id, copies). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Full MinHash-LSH near-duplicate pipeline: shingle → signature →
    * band explode → bucket self-join → exact-Jaccard verify.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, one row per
    * candidate pair that clears `threshold`. The self-join shuffles on
    * the band hash; only (band, hash, id) rows move, and the verify
    * payload ([[VerifyOn]], hash sets by default) attaches after pair
    * dedup.
    *
    * `maxBucketSize` is the 100 TB skew guard: a degenerate band
    * bucket (empty strings, boilerplate headers, templated docs)
    * otherwise makes the self-join quadratic WITHIN the bucket — a
    * 1M-row bucket is 10^12 candidate pairs from one key. Buckets
    * with more than `maxBucketSize` members are dropped from candidate
    * generation (and the drop is logged); members can still pair in
    * their other, more selective bands, which is exactly the LSH
    * recall story. The default is FINITE ([[LshSkew.DefaultMaxBucketSize]],
    * 100 k) — the measured 2 M-doc uncapped run filled the disk, so
    * uncapped is an explicit opt-in via [[LshSkew.NoCap]], not a
    * default a caller can stumble into.
    */
  def lshNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleWidth: Int = 1, numHashes: Int = 24,
                      numBands: Int = 3, threshold: Double = 0.9,
                      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
                      verifyOn: VerifyOn = VerifyOn.HashSets): DataFrame =
    lshNearDupPairsWithStats(df, textCol, idCol, shingleWidth, numHashes,
      numBands, threshold, maxBucketSize, verifyOn)._1

  /** [[lshNearDupPairs]] plus the skew-guard [[LshSkew.CapCensus]]:
    * what the bucket cap dropped, as a RETURNED fact rather than a log
    * line — a corpus-scale run asserts `census.anyDropped == false`
    * (or routes the dropped mass through [[exactDupGroups]]) as an
    * executable post-condition.
    */
  def lshNearDupPairsWithStats(
      df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int = 1, numHashes: Int = 24,
      numBands: Int = 3, threshold: Double = 0.9,
      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
      verifyOn: VerifyOn = VerifyOn.HashSets): (DataFrame, LshSkew.CapCensus) = {
    val (pairs, caches, census) = lshNearDupPairsLazy(df, textCol, idCol,
      shingleWidth, numHashes, numBands, threshold, maxBucketSize, verifyOn)
    // Materialize eagerly so the intermediate caches can be released
    // immediately — long-lived sessions otherwise accumulate signature
    // frames until eviction pressure degrades the executor cache. The
    // checkpointed pair list is tiny relative to the shingle frames.
    // unpersist in finally: a failed/cancelled materialization must
    // not leave the caches pinned.
    try (pairs.localCheckpoint(true), census)
    finally caches.foreach(_.unpersist())
  }

  /** Lazy variant of [[lshNearDupPairs]]: returns the un-materialized
    * pair plan, the persisted intermediates the caller must
    * unpersist after its action, and the skew-guard census. Exists so
    * tests can assert plan shape (no cartesian product) before
    * checkpointing truncates lineage.
    */
  /** The shared signature half of the LSH pipeline: (base, banded)
    * where base = (id, shingles, two-md5 battery) and banded =
    * (id, band_idx, band_hash) posexploded — both persisted. Factored
    * out so measurement tools (`tools/BucketCensus`) census the SAME
    * banded frame the production pair path joins on, by construction
    * rather than by copy. Callers own the unpersist of both frames.
    */
  private[graft] def bandedFrame(
      df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int, numHashes: Int,
      numBands: Int,
      verifyOn: VerifyOn = VerifyOn.HashSets): (DataFrame, DataFrame) = {
    // fail fast on a non-dividing banding: rowsPerBand = 0 would band
    // every doc into one constant md5 (silently degenerate — the exact
    // shape the census tools exist to detect), and a remainder would
    // silently ignore signature slots
    require(numBands > 0 && numHashes > 0 && numHashes % numBands == 0,
      s"numBands ($numBands) must be positive and divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / numBands
    // persist: both the verify joins (base) and both sides of the
    // bucket self-join (banded) reference these frames — without a
    // cache Spark recomputes the md5 battery per reference. Caching
    // h1/h2 here also guarantees the two md5s per shingle are computed
    // once, not re-inlined into each of the numHashes signature slots.
    // (Measured, round 6: the native md5 battery over the whole sf0.1
    // documents table is 0.32 s on ONE core — signature computation is
    // NOT the cost center, the bucket-join machinery is. A repartition
    // here to widen the battery was tried and reverted: pure overhead.)
    val withHashes = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleWidth).as("sh"))
      .withColumn("h1", graft.functions.MinHashFunctions.hexHashArray(col("sh"), "a#"))
      .withColumn("h2", graft.functions.MinHashFunctions.hexHashArray(col("sh"), "b#"))
    // HashSets verify never reads the shingle strings again — dropping
    // them BEFORE the persist shrinks the cached frame itself, not just
    // the verify joins' shuffle payload
    val base = (verifyOn match {
      case VerifyOn.Shingles => withHashes
      case VerifyOn.HashSets => withHashes.drop("sh")
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ids only through the bucket self-join — the shingle sets rejoin
    // afterwards, so the (potentially huge) candidate shuffle moves
    // (band, hash, id) triples, never document content.
    val banded = base
      .withColumn("bands", bandHashes(
        minhashFromHashes(col("h1"), col("h2"), numHashes),
        numBands, rowsPerBand))
      .select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (base, banded)
  }

  /** [[lshNearDupPairsWithStats]] with STAGED pair generation: the
    * band-bucket self-join runs band-at-a-time — `numBands` sequential
    * smaller self-joins, each over ≤ 1/numBands of the banded rows,
    * each materialized (id pairs only) before the next starts — instead
    * of one fused join over all bands at once.
    *
    * Identical output by construction: a candidate pair meets in band b
    * iff it meets in band b of the fused join (the join key includes
    * `band_idx`, so the fused plan never pairs across bands either);
    * per-band distinct + a cross-band dropDuplicates reproduce the
    * fused plan's global dedup, and the verify join runs once over the
    * unioned candidates.
    *
    * When to use — narrower than it sounds (measured, BASELINE.md
    * §"Staged band processing (round 12)"): on a healthy CAPPED corpus
    * the candidate self-join staging splits is only ~20% of the pair
    * stage's shuffle bytes — the pair dedup and shingle-verify joins
    * (which need every band's candidates together) carry the rest and
    * all of the memory spill, so staging there is wall-neutral but
    * pays +7% shuffle write and +2.6 GB spill for nothing; the FUSED
    * path is the right default. Staging earns its keep only where the
    * candidate join IS the dominant term: degenerate/[[LshSkew.NoCap]]
    * corpora with giant buckets, where capping in-flight volume at the
    * largest single band (~1/numBands) genuinely bounds peak footprint.
    *
    * @param onBandDone measurement hook, called after band i's
    *                   candidate pairs materialize (probe bracketing);
    *                   default no-op.
    */
  def lshNearDupPairsStagedWithStats(
      df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int = 1, numHashes: Int = 24,
      numBands: Int = 3, threshold: Double = 0.9,
      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
      onBandDone: Int => Unit = _ => (),
      verifyOn: VerifyOn = VerifyOn.HashSets): (DataFrame, LshSkew.CapCensus) = {
    val (base, banded) = bandedFrame(df, textCol, idCol,
      shingleWidth, numHashes, numBands, verifyOn)
    val perBand = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      var census = LshSkew.CapCensus.none(maxBucketSize)
      (0 until numBands).foreach { bandIdx =>
        val band = banded.filter(col("band_idx") === bandIdx)
        // per-band capping ≡ global capping: buckets are keyed by
        // (band_idx, band_hash), so no bucket spans bands and the
        // censuses sum exactly
        val (capped, guardCaches, bandCensus) = LshSkew.capBuckets(band,
          Seq("band_idx", "band_hash"), maxBucketSize,
          s"lshNearDupPairsStaged band $bandIdx")
        census = LshSkew.CapCensus(
          census.droppedBuckets + bandCensus.droppedBuckets,
          census.droppedRows + bandCensus.droppedRows, maxBucketSize)
        // unpersist the band's guard caches in a finally — if the
        // join/count below throws, an in-flight band must not leak its
        // skew-guard frames into the executor cache for the session's
        // lifetime (the outer finally covers perBand/base/banded only)
        try {
          val a = capped.select(col("band_hash"), col("id").as("id_a"))
          val b = capped.select(col("band_hash"), col("id").as("id_b"))
          // persist(DISK_ONLY) + count: the BARRIER that keeps band i's
          // join out of flight while band i+1 runs. DISK_ONLY on purpose
          // — this mode exists to RELIEVE memory pressure, and parking
          // each band's candidate list in the block-manager heap
          // (localCheckpoint's MEMORY_AND_DISK) was measured to OOM an
          // 8 g probe JVM at 8 M docs where the fused path survives; the
          // lists are read back exactly once by the verify join below.
          val pairs = a.join(b, "band_hash")
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"))
            .dropDuplicates("id_a", "id_b")
            .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          perBand += pairs
          pairs.count() // materialize: band i completes before i+1 starts
        } finally guardCaches.foreach(_.unpersist())
        onBandDone(bandIdx)
      }
      val candidates = perBand.reduce(_ union _)
        .dropDuplicates("id_a", "id_b")
      val verified =
        verifyPairs(candidates, base, threshold, verifyOn).localCheckpoint(true)
      (verified, census)
    } finally {
      perBand.foreach(_.unpersist())
      base.unpersist()
      banded.unpersist()
    }
  }

  private[graft] def lshNearDupPairsLazy(
      df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int, numHashes: Int,
      numBands: Int, threshold: Double,
      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
      verifyOn: VerifyOn = VerifyOn.HashSets): (DataFrame, Seq[DataFrame], LshSkew.CapCensus) = {
    val (base, banded) = bandedFrame(df, textCol, idCol,
      shingleWidth, numHashes, numBands, verifyOn)
    val (capped, guardCaches, census) = LshSkew.capBuckets(banded,
      Seq("band_idx", "band_hash"), maxBucketSize, "lshNearDupPairs")
    val a = capped.select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
    val b = capped.select(col("band_idx"), col("band_hash"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    (verifyPairs(candidates, base, threshold, verifyOn),
      Seq(base, banded) ++ guardCaches, census)
  }

  /** Incremental near-dup: pairs involving at least one document of a
    * NEW batch, computed against a prebuilt corpus index — the frames
    * [[LshIndex]] persists (verify base, banded rows, per-bucket
    * counts). Returns exactly the pairs [[lshNearDupPairs]] over
    * corpus ∪ batch (same params/cap) would return RESTRICTED to pairs
    * with ≥ 1 batch id — proven by construction: a full-run pair
    * (x, y) survives iff x, y share a capped (band, hash) bucket of
    * the union, and every union bucket containing a batch row is
    * reproduced here from the stored counts + the batch's rows.
    *
    * The 100 TB shape — this is the path that makes corpus-growth
    * dedup O(batch), not O(corpus²) or even O(corpus shuffle):
    *  - capping uses the STORED per-bucket counts, so union totals
    *    need counts only for buckets the batch touches (a bucket with
    *    no batch row cannot produce a batch pair, dropped or not) —
    *    one map-side semi-filtered scan of the counts frame, no
    *    corpus-side shuffle;
    *  - the candidate join streams the corpus banded frame once
    *    against the batch side (EXPLICIT size-guarded broadcast hint —
    *    plan-pinned in LshIndexSpec);
    *  - the verify joins pull payloads for matched pair ids only, with
    *    AQE broadcasting the (typically small) candidate side at
    *    runtime. This is the one corpus-frame consumer that CAN
    *    shuffle: a candidate set past the broadcast threshold
    *    (quadratic in bucket overlap) falls back to a sort-merge join
    *    over the base payload — un-hinted on purpose, because forcing
    *    a broadcast of an unbounded candidate set is the worse failure.
    * No corpus text is re-shingled, and the banded/counts frames are
    * consumed strictly map-side; the corpus-side cost is the three
    * frame scans plus, only in the oversized-candidate regime, the
    * verify join's base shuffle.
    *
    * The returned census covers the buckets the BATCH touches (the
    * only ones that can affect this batch's pairs); corpus-only
    * degenerate buckets were already visible in the build-time run.
    *
    * Caller contract (documented on [[LshIndex]]): ids unique across
    * corpus and batch, and the batch shingled with the index's params
    * (enforced by [[LshIndex.incrementalPairs]] reading them from the
    * index meta).
    *
    * Lazy: returns the un-materialized pair plan, the persisted
    * batch-side intermediates the caller must unpersist after its
    * action, and the census — so tests can pin the plan SHAPE (the
    * batch-side broadcasts and the shuffle-free corpus scans are the
    * operator's whole scale argument, and a drift there should fail a
    * spec, not a 100 TB run). The persisted index serves the same plan
    * through [[BandedIndex.incrementalPairs]].
    */
  private[graft] def lshNearDupPairsIncrementalLazy(
      corpusBase: DataFrame, corpusBanded: DataFrame, corpusBuckets: DataFrame,
      newDf: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int, numHashes: Int, numBands: Int,
      threshold: Double, maxBucketSize: Int,
      verifyOn: VerifyOn): (DataFrame, Seq[DataFrame], LshSkew.CapCensus) = {
    val (newBase, newBanded) = bandedFrame(newDf, textCol, idCol,
      shingleWidth, numHashes, numBands, verifyOn)
    val (pairs, caches, census) = lshNearDupPairsIncrementalFromFrames(
      corpusBase, corpusBanded, corpusBuckets, newBase, newBanded,
      threshold, maxBucketSize, verifyOn)
    (pairs, Seq(newBase, newBanded) ++ caches, census)
  }

  /** The incremental pair plan over ALREADY-banded batch frames (the
    * [[bandedFrame]] output, persisted, owned by the caller — the
    * streaming fold-in bands each micro-batch exactly once and feeds
    * the same frames to BOTH the pair run and the index append).
    * Returned caches are this function's internal intermediates only.
    */
  private[graft] def lshNearDupPairsIncrementalFromFrames(
      corpusBase: DataFrame, corpusBanded: DataFrame, corpusBuckets: DataFrame,
      newBase: DataFrame, newBanded: DataFrame,
      threshold: Double, maxBucketSize: Int,
      verifyOn: VerifyOn): (DataFrame, Seq[DataFrame], LshSkew.CapCensus) = {
    // candidate generation + union-bucket capping live in the shared
    // key-generic [[LshIncremental.candidates]] (one definition with
    // the SRP embedding path) — see its scaladoc for the per-stage
    // scale argument (stored-counts capping, size-guarded batch-side
    // broadcast, corpus frames consumed map-side)
    val (candidates, caches, census) = LshIncremental.candidates(
      corpusBanded, corpusBuckets, newBanded,
      Seq("band_idx", "band_hash"), maxBucketSize)
    val payload = payloadColumn(verifyOn)
    val unionBase = corpusBase.select(col("id"), col(payload))
      .unionByName(newBase.select(col("id"), col(payload)))
    // the verify joins stay UN-hinted on purpose: the candidate set's
    // size is runtime-data-dependent (quadratic in bucket overlap), so
    // AQE's runtime decision is the safe broadcaster there
    (verifyPairs(candidates, unionBase, threshold, verifyOn),
      caches.toSeq, census)
  }

  /** Verified near-dup pairs WITHIN a subset of already-indexed ids,
    * served purely from the persisted index frames (no text, no
    * re-shingling — the payload column carries the verify sets). The
    * candidate plan is [[LshIncremental.candidatesAmong]] (see its
    * scaladoc for the exactness and map-side scale arguments); the
    * verify stage is the ONE shared [[verifyPairs]] definition, its
    * joins un-hinted for the same AQE reason as the incremental path.
    * Output equals the full [[lshNearDupPairs]] over the corpus the
    * frames describe, restricted to subset×subset pairs (same
    * threshold and cap).
    */
  private[graft] def lshNearDupPairsAmongFrames(
      corpusBase: DataFrame, corpusBanded: DataFrame, corpusBuckets: DataFrame,
      ids: DataFrame, threshold: Double, maxBucketSize: Int,
      verifyOn: VerifyOn): (DataFrame, LshSkew.CapCensus) = {
    val (candidates, caches, census) = LshIncremental.candidatesAmong(
      corpusBanded, corpusBuckets, ids,
      Seq("band_idx", "band_hash"), maxBucketSize)
    val pairs =
      try verifyPairs(candidates, corpusBase, threshold, verifyOn)
        .localCheckpoint(true)
      finally caches.foreach(_.unpersist())
    (pairs, census)
  }

  /** Rejoin-and-verify shared by the fused and staged pair paths — ONE
    * definition, so the staged path's identical-output contract is
    * structural rather than copy-kept. The verify payload column is
    * [[VerifyOn]]-selected: shingle strings (exact) or their 52-bit
    * hash sets (same set algebra over 8-byte elements); either way the
    * arrays attach AFTER pair dedup, so only the two verify joins —
    * never the band explode or the candidate self-join — carry them.
    */
  private def verifyPairs(candidates: DataFrame, base: DataFrame,
                          threshold: Double,
                          verifyOn: VerifyOn = VerifyOn.HashSets): DataFrame = {
    val payload = payloadColumn(verifyOn)
    candidates
      .join(base.select(col("id").as("id_a"), col(payload).as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col(payload).as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

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
    * Adopted as default on the 8 M-doc pair-stage comparison
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

  /** 52-bit integer hash of a value: the md5 hex prefix of
    * `salt ++ s` parsed as a number — portable (an oracle replays it
    * as `conv(substring(md5(concat(salt, s)), 1, 13), 16, 10)`), and
    * 52 bits leaves headroom for the linear combinations below in an
    * int64. One md5 digest per item in a codegen'd static call
    * ([[graft.functions.HexHash]]); a non-string `s` is cast to
    * string.
    */
  def hexHash(s: Column, salt: String): Column =
    graft.functions.MinHashFunctions.hexHash(s, salt)

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
      verifyOn: VerifyOn = VerifyOn.HashSets): (DataFrame, LshSkew.CapCensus) =
    LshIncremental.materialized(lshNearDupPairsLazy(df, textCol, idCol,
      shingleWidth, numHashes, numBands, threshold, maxBucketSize, verifyOn))

  /** The shared signature half of the LSH pipeline: (base, banded)
    * where base = (id, shingles, two-md5 battery) and banded =
    * (id, band_idx, band_hash) posexploded — both persisted. Factored
    * out so every banded consumer (the full pair path, the
    * incremental index, and the 8 M-doc bucket census in
    * BASELINE.md §"Corpus-scale cap census") sees the SAME banded
    * frame, by construction rather than by copy. Callers own the
    * unpersist of both frames.
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

  /** Lazy variant of [[lshNearDupPairs]]: returns the un-materialized
    * pair plan, the persisted intermediates the caller must
    * unpersist after its action, and the skew-guard census. Exists so
    * tests can assert plan shape (no cartesian product) before
    * checkpointing truncates lineage.
    */
  private[graft] def lshNearDupPairsLazy(
      df: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int, numHashes: Int,
      numBands: Int, threshold: Double,
      maxBucketSize: Int = LshSkew.DefaultMaxBucketSize,
      verifyOn: VerifyOn = VerifyOn.HashSets): LshIncremental.Plan =
    LshIncremental.selfJoin(banding(verifyOn), bandedFrame(df, textCol, idCol,
      shingleWidth, numHashes, numBands, verifyOn), threshold, maxBucketSize)

  /** The MinHash family's [[LshIncremental.Banding]]: band-hash buckets,
    * the [[VerifyOn]]-selected payload — shingle strings (exact) or
    * their 52-bit hash sets (same set algebra over 8-byte elements) —
    * and exact [[jaccard]]. The full pair path, [[LshIndex]]'s
    * incremental and subset paths, and its streaming fold-in all run
    * through the one pair plan with this value.
    */
  private[graft] def banding(verifyOn: VerifyOn): LshIncremental.Banding =
    LshIncremental.Banding("band_hash", payloadColumn(verifyOn), "jaccard", jaccard)
}

package graft.ext

import graft.SparkSpec

/** Staged band-at-a-time LSH pair generation
  * ([[Dedup.lshNearDupPairsStagedWithStats]]) — the spill-headroom
  * execution mode of the candidate-pair stage (BASELINE.md §"Staged
  * band processing"). Contract: IDENTICAL output to the fused default
  * on every fixture, including under a binding cap, with the per-band
  * censuses summing to the fused census.
  */
class StagedLshSpec extends SparkSpec {
  import spark.implicits._

  // mix of byte-identical pairs, near-dups differing in one token, and
  // unrelated docs — exercises multi-band agreement (identical pairs
  // meet in ALL bands, so cross-band dedup is load-bearing here)
  private def docs = {
    val dups = (1 to 30).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta${i % 5}"))
    val nears = (100 to 110).map(i =>
      (i.toLong, "one two three four five six seven eight nine ten"))
    val singles = (200 to 230).map(i =>
      (i.toLong, s"unique document body number $i with its own words w$i x$i y$i z$i"))
    (dups ++ nears ++ singles).toDF("doc_id", "text")
  }

  private def asPairs(df: org.apache.spark.sql.DataFrame) =
    df.select($"id_a", $"id_b", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted

  test("staged output is bit-identical to the fused default") {
    val (fused, fusedCensus) = Dedup.lshNearDupPairsWithStats(
      docs, "text", "doc_id")
    val (staged, stagedCensus) = Dedup.lshNearDupPairsStagedWithStats(
      docs, "text", "doc_id")
    asPairs(staged) shouldBe asPairs(fused)
    staged.count() should be > 0L // the fixture genuinely produces pairs
    stagedCensus shouldBe fusedCensus
  }

  test("staged under a binding cap: same drops, same survivors as fused") {
    // cap 5: the 11-doc byte-identical cluster's bucket (all 3 bands)
    // is dropped; smaller buckets survive
    val (fused, fusedCensus) = Dedup.lshNearDupPairsWithStats(
      docs, "text", "doc_id", maxBucketSize = 5)
    val (staged, stagedCensus) = Dedup.lshNearDupPairsStagedWithStats(
      docs, "text", "doc_id", maxBucketSize = 5)
    stagedCensus.anyDropped shouldBe true
    stagedCensus shouldBe fusedCensus
    asPairs(staged) shouldBe asPairs(fused)
  }

  test("HashSets verify is bit-identical to Shingles on a collision-free corpus") {
    // 52-bit hashes collide at P ≈ s²/2⁵³ per pair — never on a test
    // corpus, so the two verify payloads must agree exactly, for both
    // the fused and staged paths. Shingles must be EXPLICIT here: the
    // default is HashSets since r13, and an omitted arg would compare
    // HashSets against itself (leaving the string branch untested)
    val (strings, _) = Dedup.lshNearDupPairsWithStats(docs, "text", "doc_id",
      verifyOn = Dedup.VerifyOn.Shingles)
    val (hashes, _) = Dedup.lshNearDupPairsWithStats(docs, "text", "doc_id",
      verifyOn = Dedup.VerifyOn.HashSets)
    val (stagedHashes, _) = Dedup.lshNearDupPairsStagedWithStats(
      docs, "text", "doc_id", verifyOn = Dedup.VerifyOn.HashSets)
    asPairs(hashes) shouldBe asPairs(strings)
    asPairs(stagedHashes) shouldBe asPairs(strings)
  }

  test("HashSets base frame carries no shingle strings") {
    // the footprint claim behind the mode: the persisted base and the
    // verify joins ship long arrays, not the document-derived strings
    val (base, banded) = Dedup.bandedFrame(docs, "text", "doc_id",
      shingleWidth = 1, numHashes = 24, numBands = 3,
      verifyOn = Dedup.VerifyOn.HashSets)
    try {
      base.columns should not contain "sh"
      base.schema("h1").dataType.simpleString shouldBe "array<bigint>"
    } finally { base.unpersist(); banded.unpersist() }
  }
}

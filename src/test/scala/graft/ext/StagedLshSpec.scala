package graft.ext

import graft.SparkSpec

/** The LSH pair stage's verify payload ([[Dedup.VerifyOn]]): the
  * default 52-bit hash sets must give the exact shingle-string
  * reference's output, and the hash-set base frame must carry no
  * strings.
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

  test("HashSets verify is bit-identical to Shingles on a collision-free corpus") {
    // 52-bit hashes collide at P ≈ s²/2⁵³ per pair — never on a test
    // corpus, so the two verify payloads must agree exactly. Shingles
    // must be EXPLICIT here: the
    // default is HashSets since r13, and an omitted arg would compare
    // HashSets against itself (leaving the string branch untested)
    val (strings, _) = Dedup.lshNearDupPairsWithStats(docs, "text", "doc_id",
      verifyOn = Dedup.VerifyOn.Shingles)
    val (hashes, _) = Dedup.lshNearDupPairsWithStats(docs, "text", "doc_id",
      verifyOn = Dedup.VerifyOn.HashSets)
    asPairs(hashes) shouldBe asPairs(strings)
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

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination (north-star ✚) — the
  * BROADCAST-BITS shape of the eval-overlap check. The exact-join
  * formulation (q55 / `q92`'s KMV estimate) shuffles the corpus
  * n-gram stream against the benchmark set; at 100 TB the standard
  * production move is to fold the benchmark's n-grams into a bloom
  * filter ONCE (eval sets are small by definition), broadcast the bit
  * array to every executor, and flag contaminated documents in the
  * same map-side scan that reads the text — zero shuffles, zero
  * joins, no false NEGATIVES ever (a missed contaminated doc is the
  * failure mode that matters; false positives only cost a re-check or
  * an over-drop, and their rate is the sizing dial `fillFraction`).
  *
  * Everything is engine-portable by construction, so a SQL oracle
  * replays membership EXACTLY: the k hash lanes are disjoint 8-hex
  * slices of one md5 (the q41/q58 portable-hash rule), a position is
  * `lane mod mBits`, and "bit p is set" ≡ "p is in the distinct
  * position set of the reference grams" — a bloom bitset IS that set,
  * so the oracle needs no bit arithmetic at all (q130 replays it as a
  * distinct-position join).
  *
  * Scale shape: `build` is one distinct over the benchmark's gram
  * positions — the driver collect is bounded by `mBits` ROWS BY
  * CONSTRUCTION (positions live in [0, mBits)), not by the reference
  * set's size; `contains`/[[flagDocs]] ride the corpus scan map-side
  * with the ≤ `mBits/62`-long word array as a plan literal.
  */
object BloomDecontam {

  /** Bits packed per long. 62 (not 64) keeps every word NON-NEGATIVE,
    * so the shift/mask arithmetic stays in the sign-free range the
    * portable-hash surface uses everywhere (same stance as
    * [[SubstringDedup]]'s two-lane 62-bit fingerprint).
    */
  val BitsPerWord = 62

  /** Hard ceiling on filter width: 2^26 bits ≈ 8 MB of words — past
    * that a broadcast literal is the wrong carrier (ship the filter
    * as a small table and build it executor-side instead).
    */
  val MaxBits: Int = 1 << 26

  /** An immutable bloom filter: `bits` packs `mBits` positions at
    * [[BitsPerWord]] per long; `k` lanes were folded per gram.
    */
  final case class Bloom(bits: Array[Long], mBits: Int, k: Int) {
    def setBitCount: Int = bits.map(java.lang.Long.bitCount).sum
    /** Sizing dial: fraction of bits set. Per-gram false-positive
      * rate is ~fillFraction^k; resize `mBits` when this drifts
      * toward saturation.
      */
    def fillFraction: Double = setBitCount.toDouble / mBits
  }

  /** The k bit positions of one gram, as an array column: lane i is
    * the 8-hex md5 slice at offset 8i (disjoint lanes — md5's 32 hex
    * chars bound k at 4), reduced mod `mBits`. One md5 digest per
    * item for all k lanes ([[graft.functions.Md5Lanes]]). Public
    * because the ORACLE replays exactly this arithmetic
    * (`'0x' || substr(md5(g), 1 + 8i, 8) % mBits` in SQL).
    */
  def positions(gram: Column, mBits: Int, k: Int): Column = {
    require(k >= 1 && k <= 4, s"k must be in [1, 4] (md5 has 4 disjoint 8-hex lanes), got $k")
    require(mBits >= 64 && mBits <= MaxBits, s"mBits must be in [64, $MaxBits], got $mBits")
    graft.functions.MinHashFunctions.md5Lanes(gram, mBits.toLong, k)
  }

  /** Fold a reference frame's `gramCol` into a bloom filter. ONE
    * distinct over the reference positions; the collect is bounded by
    * `mBits` rows by construction (so the bound needs no cap guard —
    * it IS the filter width).
    */
  def build(ref: DataFrame, gramCol: String,
            mBits: Int = 1 << 17, k: Int = 3): Bloom = {
    val pos = ref
      .select(explode(positions(col(gramCol), mBits, k)).as("p"))
      .distinct()
      .collect()
      .map(_.getLong(0))
    val words = new Array[Long]((mBits + BitsPerWord - 1) / BitsPerWord)
    pos.foreach { p =>
      words((p / BitsPerWord).toInt) |= 1L << (p % BitsPerWord).toInt
    }
    Bloom(words, mBits, k)
  }

  /** Membership test as a map-side Column: true iff ALL k positions
    * of `gram` are set. The word array rides the plan as one literal;
    * per position the test is an index, a shift and a mask — no join,
    * no shuffle. No false negatives: a gram that was folded into the
    * filter ALWAYS tests true.
    */
  def contains(bloom: Bloom)(gram: Column): Column = {
    val bitsLit = typedlit(bloom.bits.toSeq)
    forall(positions(gram, bloom.mBits, bloom.k), p => {
      val word = get(bitsLit,
        call_function("div", p, lit(BitsPerWord.toLong)).cast("int"))
      call_function("shiftright", word,
        pmod(p, lit(BitsPerWord.toLong)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    })
  }

  /** The production decontamination scan: per document, the count of
    * DISTINCT n-grams that hit the filter and the contamination flag.
    * Pure map-side — fuses into whatever scan reads `textCol`; the
    * per-doc distinct is an in-row `array_distinct`, never a shuffle.
    */
  def flagDocs(docs: DataFrame, textCol: String, n: Int,
               bloom: Bloom): DataFrame = {
    val grams = array_distinct(TextStats.ngrams(col(textCol), n))
    docs
      .withColumn("n_grams", size(grams))
      .withColumn("n_bloom_hit", size(filter(grams, g => contains(bloom)(g))))
      .withColumn("contaminated", col("n_bloom_hit") > 0)
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch + heavy hitters (north-star ✚) — the bounded-
  * memory FREQUENCY member of the sketch family ([[Sketches.kmv]]
  * answers "how many distinct", the quantile sketch answers "what
  * distribution", this answers "which items are frequent" without a
  * corpus-wide group-by): d md5 lanes × w counters, estimate = min
  * over lanes, always ≥ the true count (overestimates come only from
  * bucket collisions — deterministic, and the q138 gate hashes them
  * beside the exact counts).
  *
  * Spark shape, both stages bounded by construction:
  *
  *   1. BUILD — one aggregation keyed on (lane, position): partial
  *      aggregation bounds map-side state at d·w counters per task
  *      and the result is ≤ d·w rows REGARDLESS of corpus size — the
  *      sketch build never shuffles more than the sketch. The driver
  *      collect is the sketch itself (d·w longs).
  *   2. PROBE — the sketch rides the plan as one literal array (the
  *      [[BloomDecontam]] broadcast-bits pattern); estimates and the
  *      heavy-hitter filter are map-side expressions, so candidate
  *      extraction fuses into whatever scan reads the items.
  *
  * Positions are [[BloomDecontam.positions]]' exact arithmetic (8-hex
  * md5 lanes mod width) — one portable hash story, SQL-replayable.
  */
object CountMin {

  /** Bound on d·w — the sketch travels as a plan literal (8 B per
    * counter; 2^20 longs ≈ 8 MB, the TextClassifier ceiling).
    */
  val MaxCounters: Int = 1 << 20

  /** The built sketch: `counts` is depth × width, flattened
    * lane-major (`counts(lane·width + pos)`); `total` is the full
    * item-occurrence count (= any single lane's column sum — each
    * occurrence contributes once per lane), kept so relative
    * heavy-hitter thresholds need no extra pass.
    */
  final case class Sketch(counts: Seq[Long], width: Int, depth: Int) {
    require(counts.size == width.toLong * depth,
      s"CountMin.Sketch: ${counts.size} counters != width $width × depth $depth")
    def total: Long = counts.view.slice(0, width).sum
    def estimateOf(item: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(item.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      (0 until depth).map { i =>
        val pos = java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16) % width
        counts(i * width + pos.toInt)
      }.min
    }
  }

  /** Build the sketch over one occurrence per input row of `itemCol`.
    * ONE bounded aggregation + a ≤ d·w-row collect.
    */
  def build(items: DataFrame, itemCol: String,
            width: Int = 1024, depth: Int = 3): Sketch = {
    require(depth >= 1 && depth <= 4,
      s"CountMin: depth must be in [1, 4] (md5 has 4 disjoint lanes), got $depth")
    require(width >= 64 && width.toLong * depth <= MaxCounters,
      s"CountMin: width $width × depth $depth outside [64, $MaxCounters]")
    val rows = items
      .select(posexplode(BloomDecontam.positions(col(itemCol), width, depth))
        .as(Seq("lane", "pos")))
      .groupBy(col("lane"), col("pos"))
      .agg(count(lit(1)).as("c"))
      .collect()
    val arr = new Array[Long](depth * width)
    rows.foreach { r =>
      arr(r.getInt(0) * width + r.getLong(1).toInt) = r.getLong(2)
    }
    Sketch(arr.toIndexedSeq, width, depth)
  }

  /** Map-side estimate column: min over the sketch's lanes at the
    * item's positions ([[BloomDecontam.positions]]' lanes, one md5
    * digest per item). Never underestimates.
    */
  def estimate(sk: Sketch)(item: Column): Column = {
    val countsLit = typedlit(sk.counts)
    val lanes = graft.functions.MinHashFunctions.md5Lanes(
      item, sk.width.toLong, sk.depth)
    val ests = (0 until sk.depth).map { i =>
      element_at(countsLit,
        (element_at(lanes, i + 1) + (i.toLong * sk.width) + 1L).cast("int"))
    }
    least(ests: _*)
  }

  /** Merge two sketches built with the SAME (width, depth): counter-
    * wise integer addition — exact, associative and commutative, so
    * per-batch sketches folded in ANY order (a stream's micro-batches,
    * a partitioned backfill) equal the one-shot build bit-for-bit
    * (q139 gates the streaming composition against q138's oracle).
    */
  def merge(x: Sketch, y: Sketch): Sketch = {
    require(x.width == y.width && x.depth == y.depth,
      s"CountMin.merge: shape mismatch (${x.width}×${x.depth} vs " +
        s"${y.width}×${y.depth}) — sketches only merge with identical " +
        "lane arithmetic")
    val out = new Array[Long](x.counts.size)
    var i = 0
    while (i < out.length) {
      out(i) = x.counts(i) + y.counts(i); i += 1
    }
    Sketch(out.toIndexedSeq, x.width, x.depth)
  }

  /** The all-zeros sketch — [[merge]]'s identity (streaming folds
    * start here).
    */
  def empty(width: Int = 1024, depth: Int = 3): Sketch =
    Sketch(Vector.fill(width * depth)(0L), width, depth)

  /** Distinct items whose estimate clears `thrNum/thrDen` of the
    * sketch's total (integer cross-multiplication:
    * `est · thrDen ≥ total · thrNum`) — the heavy-hitter candidate
    * scan, map-side filter + one distinct. CMS never underestimates,
    * so the candidate set always CONTAINS the true heavy hitters;
    * collisions can only add candidates (verify with an exact count
    * restricted to the candidates when exactness matters).
    */
  def heavyHitterCandidates(items: DataFrame, itemCol: String, sk: Sketch,
                            thrNum: Long, thrDen: Long): DataFrame = {
    require(thrNum >= 0 && thrDen > 0,
      s"CountMin: threshold $thrNum/$thrDen invalid")
    items
      .select(col(itemCol), estimate(sk)(col(itemCol)).as("est"))
      .filter(col("est") * thrDen >= sk.total * thrNum)
      .distinct()
  }

  /** Bounded end-to-end heavy-hitter REPORT (itemCol, est, exact) —
    * the sketch probe COMPOSED with the exact verification count in
    * one aggregation: the estimate filter runs MAP-SIDE before any
    * shuffle (the sketch is a plan literal, and CMS never
    * underestimates, so no true heavy hitter is lost — a gram's
    * occurrences all carry the same est, so its exact count over the
    * survivors equals its exact count over the corpus). The exchange
    * therefore carries only CANDIDATE grams, partial-aggregated: at
    * most |candidates| rows per partition — threshold-bounded
    * (≤ thrDen/thrNum heavy positions per lane, times collisions) —
    * instead of every distinct gram in the corpus. At 100 TB the
    * difference is the whole report: the corpus-wide exact group-by
    * this replaces shuffles the full vocabulary.
    *
    * The q138 gate asserts the plan shape executably: ONE exchange,
    * with the est filter and the partial aggregate BELOW it.
    */
  def heavyHitters(items: DataFrame, itemCol: String, sk: Sketch,
                   thrNum: Long, thrDen: Long): DataFrame = {
    require(thrNum >= 0 && thrDen > 0,
      s"CountMin: threshold $thrNum/$thrDen invalid")
    items
      .select(col(itemCol), estimate(sk)(col(itemCol)).as("est"))
      .filter(col("est") * thrDen >= sk.total * thrNum)
      .groupBy(col(itemCol), col("est"))
      .agg(count(lit(1)).as("exact"))
  }
}

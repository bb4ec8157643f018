package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-linear text-classifier INFERENCE (north-star ✚) — the
  * deployment shape of the published model-based quality filters
  * (fastText-style: a linear model over hashed bag-of-n-gram
  * features, the classifier family the public curation recipes score
  * corpora with). Training happens wherever the operator trains
  * (a GPU box, a single node — out of engine scope, exactly like the
  * multimodal codecs' stance); what a 100 TB pipeline needs from the
  * ENGINE is the scoring scan, and that is this operator:
  *
  *   - features = unigrams + bigrams ([[TextStats.ngrams]], the
  *     engine's single-space token convention);
  *   - each feature hashes to a bucket via the SAME md5 lane
  *     arithmetic as [[BloomDecontam.positions]] (8-hex slice mod
  *     `dim`) — SQL-replayable by construction;
  *   - the weight vector rides the plan as ONE literal array
  *     (broadcast with the task binary, like the bloom's bit words —
  *     no join, no shuffle, no UDF);
  *   - the score is INTEGER: Σ weight[h(feature)] plus a feature
  *     count, and the keep decision is an integer cross-multiplied
  *     threshold on the mean weight — no float boundary anywhere, so
  *     an oracle replays scores and decisions bit-for-bit.
  *
  * Scale shape: pure map-side scan that fuses into whatever reads the
  * text column; cost is one md5 per feature (the measured
  * BloomDecontam rate family). Weight dim is bounded (the literal
  * travels with every task): [[MaxDim]] = 2^20 buckets ≈ 8 MB of
  * longs — past that, ship weights as a broadcast join table instead.
  */
object TextClassifier {

  /** Upper bound on the hashed weight dimension — the weight array is
    * a plan literal; 2^20 longs ≈ 8 MB is the sane ceiling for
    * something every task deserializes.
    */
  val MaxDim: Int = 1 << 20

  /** Hash bucket of one feature string: md5's first 8-hex lane mod
    * `dim` — [[BloomDecontam.positions]]' k=1 arithmetic, shared so
    * the two broadcast-scan operators keep ONE portable hash story.
    * Lane 0 of `md5_lanes`: one digest, no hex-string round trip; a
    * null feature gives a null bucket.
    */
  def bucket(feature: Column, dim: Int): Column =
    graft.functions.MinHashFunctions.md5Lanes(feature, dim.toLong, 1).getItem(0)

  /** Per-document integer score columns over `weights`:
    * `(clf_sum, clf_n)` — Σ weight[bucket(f)] over unigram+bigram
    * features, and the feature count. Under the engine's split
    * convention every document has ≥ 1 unigram (empty text is the
    * one empty token), so `clf_n ≥ 1` always.
    */
  def scoreColumns(text: Column, weights: Seq[Long]): Seq[(String, Column)] = {
    require(weights.nonEmpty && weights.size <= MaxDim,
      s"TextClassifier: weight dim must be in [1, $MaxDim], got ${weights.size}")
    val w = typedlit(weights)
    val dim = weights.size
    def sumOf(grams: Column): Column =
      aggregate(grams, lit(0L),
        (acc, g) => acc + element_at(w, (bucket(g, dim) + 1).cast("int")))
    val uni = TextStats.ngrams(text, 1)
    val bi = TextStats.ngrams(text, 2)
    Seq(
      "clf_sum" -> (sumOf(uni) + sumOf(bi)),
      "clf_n" -> (size(uni) + size(bi)).cast("long"))
  }

  /** MULTICLASS head (fastText-style langid/topic/register filters
    * run per-class weight vectors, not one): per-class integer scores
    * over the SAME hashed features, argmax with ties to the EARLIER
    * class, and the best-vs-runner-up margin (the confidence dial a
    * curation flow thresholds on). Adds `clf_class` (winner's name),
    * `clf_best`, `clf_margin`, `clf_n`.
    *
    * One md5 per feature TOTAL, not per class: buckets are
    * materialized once per row, then each class sums its weight
    * lookups over the bucket array — n_classes plan literals, still a
    * pure map-side scan.
    */
  def scoreMulti(df: DataFrame, textCol: String,
                 classes: Seq[(String, Seq[Long])]): DataFrame = {
    require(classes.size >= 2, "scoreMulti: need >= 2 classes")
    val dim = classes.head._2.size
    require(dim >= 1 && dim <= MaxDim,
      s"scoreMulti: weight dim must be in [1, $MaxDim], got $dim")
    require(classes.forall(_._2.size == dim),
      "scoreMulti: all classes must share one weight dimension")
    require(classes.map(_._1).distinct.size == classes.size,
      "scoreMulti: duplicate class names")
    val grams = concat(TextStats.ngrams(col(textCol), 1),
      TextStats.ngrams(col(textCol), 2))
    val names = typedlit(classes.map(_._1))
    val bCol = "__clf_buckets"
    // (score, -classIdx) structs: sort_array desc orders score desc
    // then -idx desc = idx ASC, so element 1 is the argmax with the
    // earlier class winning ties and element 2 the runner-up
    val scoreArr = sort_array(array(classes.zipWithIndex.map {
      case ((_, w), ci) =>
        struct(
          aggregate(col(bCol), lit(0L), (acc, b) =>
            acc + element_at(typedlit(w), (b + 1).cast("int"))).as("s"),
          lit(-ci).as("ni"))
    }: _*), asc = false)
    df.withColumn(bCol, transform(grams, g => bucket(g, dim)))
      .withColumn("__clf_sorted", scoreArr)
      .withColumn("clf_class",
        element_at(names, (-element_at(col("__clf_sorted"), 1)("ni") + 1)
          .cast("int")))
      .withColumn("clf_best", element_at(col("__clf_sorted"), 1)("s"))
      .withColumn("clf_margin", element_at(col("__clf_sorted"), 1)("s")
        - element_at(col("__clf_sorted"), 2)("s"))
      .withColumn("clf_n", size(col(bCol)).cast("long"))
      .drop(bCol, "__clf_sorted")
  }

  /** Run the scoring scan: input columns + `clf_sum`, `clf_n`, and
    * `clf_keep` — keep iff the MEAN feature weight clears `threshold`
    * = `thrNum/thrDen` (integer cross-multiplication:
    * `clf_sum * thrDen >= clf_n * thrNum`). Map-side only.
    */
  def score(df: DataFrame, textCol: String, weights: Seq[Long],
            thrNum: Long, thrDen: Long): DataFrame = {
    require(thrDen > 0, s"TextClassifier: thrDen must be positive, got $thrDen")
    scoreColumns(col(textCol), weights).foldLeft(df) {
      case (d, (n, c)) => d.withColumn(n, c)
    }.withColumn("clf_keep",
      col("clf_sum") * thrDen >= col("clf_n") * thrNum)
  }
}

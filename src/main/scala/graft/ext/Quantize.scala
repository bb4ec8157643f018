package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for the embedding family (north-star ✚) —
  * the MEMORY-scale path of ANN search: a 100 TB float corpus is 25 TB
  * as int8 in memory/shuffle (4× narrower elements; on disk the
  * measured parquet ratio is 3.47× at 8 M vectors, since float pages
  * already compress), applied before any pruning (IVF) is.
  *
  * Scheme: symmetric per-vector linear quantization.
  * {{{
  *   scale = max_i |x_i| / 127            (double)
  *   q_i   = clamp(floor(x_i/scale + 0.5), -127, 127)   (tinyint)
  * }}}
  * `floor(v + 0.5)` is used INSTEAD of `round(v)` deliberately: both
  * this JVM (`Math.round` = floor(x+0.5)) and columnar engines agree
  * on IEEE `floor`, while `round` half-cases differ across engines
  * (half-up vs half-away-from-zero on negatives). Every step — the
  * double cast, |x|, max, the division by a derived scale, +0.5,
  * floor, clamp — is IEEE correctly-rounded double arithmetic, so an
  * oracle replaying the same formula produces the IDENTICAL int8
  * codes, and everything downstream of the codes is exact integer
  * arithmetic ([[graft.functions.QuantizedDot]]).
  *
  * Cosine under symmetric quantization: the per-vector scales CANCEL
  * in the cosine ratio —
  * `cos_q = qdot(a,b) / (sqrt(qdot(a,a)) * sqrt(qdot(b,b)))` — so
  * quantized search needs no float payload at all; the scale column
  * is only needed to [[dequantize]] back to approximate floats.
  *
  * All operators here are MAP-SIDE (quantization is a scan); the
  * searches are the int8 scorer over the one kNN plan in [[Knn]], the
  * float path's probe ranking, scoring steps and partial top-k.
  *
  * Input contract: vector elements must be FINITE. A NaN element
  * makes the scale NaN and poisons that vector's codes (both engines
  * propagate NaN identically through the formula, so oracle parity
  * still holds — but the codes are meaningless); embeddings from any
  * real encoder are finite, and the float family shares the same
  * assumption ([[Similarity.cosine]] folds NaN through too).
  */
object Quantize {

  /** Per-vector symmetric int8 scale: `max_i |x_i| / 127` over the
    * double-cast vector. Null vector → null; an all-zero vector gets
    * scale 0 (its codes quantize to all-zero via the guard below).
    */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec.cast("array<double>"), x => abs(x))) / lit(127.0)

  /** Quantize one vector to `array<tinyint>` codes given its scale.
    * scale ≤ 0 (all-zero vector) → all-zero codes, never NaN from 0/0.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec.cast("array<double>"), x =>
      when(scale <= 0.0, lit(0).cast("tinyint"))
        .otherwise(
          least(greatest(floor(x / scale + lit(0.5)), lit(-127L)), lit(127L))
            .cast("tinyint")))

  /** Approximate reconstruction: `q_i * scale` (each product is one
    * exact IEEE double multiply — portable).
    */
  def dequantize(qv: Column, scale: Column): Column =
    transform(qv, q => q.cast("double") * scale)

  /** Exact integer dot product of two code vectors (codegen'd). */
  def qdot(a: Column, b: Column): Column =
    graft.functions.QuantizedDot.qdot(a, b)

  /** Cosine of two code vectors — integer dots, scales cancelled.
    * Zero-magnitude codes yield null (same contract as
    * [[Similarity.cosine]]: never a NaN that would sort above 1.0).
    */
  def quantizedCosine(qa: Column, qb: Column): Column = {
    val denom = sqrt(qdot(qa, qa).cast("double")) *
      sqrt(qdot(qb, qb).cast("double"))
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(least(greatest(qdot(qa, qb).cast("double") / denom,
        lit(-1.0)), lit(1.0)))
  }

  /** The storage face: replace `vecCol` (array<float>) with int8 codes
    * + the per-vector scale. Written to parquet this is the 4×-smaller
    * corpus a quantized ANN deployment scans; [[dequantize]] recovers
    * approximate floats when a downstream float op needs them.
    */
  def quantize(df: DataFrame, vecCol: String = "embedding",
               codesCol: String = "q_vec",
               scaleCol: String = "q_scale"): DataFrame = {
    val s = int8Scale(col(vecCol))
    df.withColumn(scaleCol, s)
      .withColumn(codesCol, quantizeInt8(col(vecCol), col(scaleCol)))
      .drop(vecCol)
  }

  /** The int8 scorer: [[quantizedCosine]] of the codes in `q_vec` (the
    * [[quantize]] face), with the exact integer [[qdot]] alongside;
    * queries arrive coded.
    */
  private val codes: Knn.Scorer = Knn.Scorer(identity, col("q_vec"), "qcos",
    quantizedCosine, extra = Seq("qdot" -> qdot))

  /** Brute-force top-k over int8 codes — [[Similarity.bruteForceKnn]]'s
    * quantized twin: queries quantized and broadcast, the corpus
    * quantized in the scan (or pass a pre-quantized table via
    * `preQuantized = true` to skip re-coding a persisted int8 corpus),
    * ranked by [[quantizedCosine]] with the same
    * (cosine desc, neighbor_id) tie-break. `qdot` rides along — the
    * exact integer score an oracle replays without any float caveat.
    */
  def bruteForceKnnQuantized(corpus: DataFrame, queries: DataFrame, k: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             queryIdCol: String = "query_id",
                             preQuantized: Boolean = false): DataFrame = {
    def coded(df: DataFrame): DataFrame =
      if (preQuantized) df
      else quantize(df, vecCol = vecCol)
    Knn.brute(coded(corpus),
      Knn.queries(coded(queries), idCol, "q_vec", queryIdCol),
      codes, k, idCol, queryIdCol)
  }

  /** Two-stage rerank — the pattern that buys int8's 2×-wall / 3.5×-
    * bytes scan WITHOUT its ~1-recall-pt price: a WIDE int8 first pass
    * (top-`candidates` per query over the persisted quantized corpus)
    * followed by an exact float re-rank of just those candidates
    * (id-keyed join back to the float vectors — candidates·queries
    * rows, never the corpus). With `candidates` a few × k the float
    * tail is noise-priced and recall approaches the float brute's;
    * with `candidates ≥ |corpus|` it EQUALS it (spec-pinned).
    *
    * @param corpusQ the persisted int8 face ([[quantize]] output)
    * @param corpusF the float corpus (only the candidates' rows are
    *                ever read into the re-rank join)
    */
  def rerankKnn(corpusQ: DataFrame, corpusF: DataFrame, queries: DataFrame,
                k: Int, candidates: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id"): DataFrame =
    Knn.rerank("rerankKnn",
      bruteForceKnnQuantized(corpusQ, quantize(queries, vecCol),
        candidates, idCol, vecCol, queryIdCol, preQuantized = true),
      corpusF, Knn.queries(queries, idCol, vecCol, queryIdCol),
      Similarity.scorer(vecCol), k, candidates, idCol, queryIdCol)

  /** IVF × int8 — the full production composition: centroid pruning
    * (the shared float probe ranking, [[Knn.probes]] — the centroid
    * matrix is tiny and probe ranking costs nothing) over a persisted
    * QUANTIZED assigned corpus, so the corpus-sized part of the search
    * — scanning the probed clusters' vectors — moves int8 codes, 4×
    * fewer bytes than the float path, and scores on exact integer
    * dots. Each probe row's float query is coded in place.
    *
    * @param assignedQ (idCol, q_vec, centroid_id) — [[quantize]] of
    *                  [[Similarity.assignToCentroids]]'s output (or of
    *                  a loaded [[IvfIndex]] assignments frame)
    * @param centroids float centroids the assignment was built against
    * @param queries   float query vectors (quantized once, map-side)
    */
  def ivfKnnQuantized(assignedQ: DataFrame, centroids: DataFrame,
                      queries: DataFrame, k: Int, nprobe: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    Knn.probed(assignedQ, centroids, Knn.queries(queries, idCol, vecCol),
      nprobe, codes.copy(queryCode = v => quantizeInt8(v, int8Scale(v))), k,
      idCol, vecCol)
}

package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-document salient-term extraction (north-star ✚) — tf·idf
  * keyword tagging, the classic corpus-annotation pass (topic
  * routing, cluster naming, search-side doc summaries). The score is
  * raw-frequency idf in EXACT fixed-point integer form:
  *
  *   score_q = (tf × 10^9) div df
  *
  * — tf·(N/df) with the constant N dropped (it never changes a
  * per-document ranking) and the division done once in integer
  * arithmetic, so the ranking is bit-portable across engines (the
  * q94/q95 stance: swap in `ln`-idf on a single-engine deployment —
  * the dataflow is identical, only this one expression changes).
  *
  * Scale shape: one shuffle for per-doc term counts, one bounded
  * vocabulary aggregate, one join to attach df (broadcast by hint —
  * vocabulary ≪ corpus; pass `broadcastDf = false` for open-web
  * vocabularies past the broadcast budget), and the per-doc top-k
  * rides [[graft.plans.TopKPerKey]]: map-side partial top-k means ≤ k
  * rows per doc per partition reach the exchange — the full scored
  * term stream never shuffles again.
  */
object Keywords {

  /** Fixed-point scale for the integer tf/df quotient. 10^9 keeps the
    * product `tf × Scale` far below 2^63 for any real document (tf is
    * per-doc) while leaving ~9 significant digits in the quotient.
    */
  val Scale = 1000000000L

  /** Top-`k` terms per document by fixed-point tf·idf; ties break on
    * the term string ascending (a total order — term is unique per
    * doc), so the result set equals the window-function formulation
    * exactly. Output: idCol, term, tf, df, score_q.
    */
  def tfidfTopK(docs: DataFrame, textCol: String, idCol: String, k: Int,
                broadcastDf: Boolean = true): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(split(col(textCol), " ")).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(if (broadcastDf) broadcast(dfreq) else dfreq, Seq("term"))
      .withColumn("score_q",
        call_function("div", col("tf") * lit(Scale), col("df")))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score_q"))
    graft.plans.TopK.topKPerKey(scored, Seq(idCol), "score_q", k,
      desc = true, tiebreak = Seq("term"))
  }
}

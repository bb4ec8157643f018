package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one kNN search plan of the embedding family. The float
  * ([[Similarity]]), int8 ([[Quantize]]) and PQ ([[Pq]]) faces differ
  * only in a [[Knn.Scorer]] value (PQ: in its per-query score); every
  * stage below is written once and shared by all of them:
  *
  *  - [[probes]]: centroid probe ranking (queries × broadcast
  *    centroids, float cosine, the `nprobe` best per query), and
  *    [[probeSets]], its driver-side collect for the PQ IVF faces;
  *  - [[brute]]: score the corpus against broadcast queries;
  *  - [[probed]]: score the probed clusters' rows only (join on
  *    `centroid_id` against the broadcast probe frame);
  *  - [[perQuery]]: score driver-side queries in one corpus scan (a
  *    per-query score column, posexploded);
  *  - [[rerank]]: an exact re-score of a wide first pass's candidates;
  *  - [[rankTopK]]: the shared ranking tail.
  *
  * Query frames are `(query id, q_vec)` with the raw query vector; the
  * corpus never shuffles for scoring, only ≤ k rows per query and
  * partition reach the top-k exchange.
  */
private[ext] object Knn {

  /** How a search scores: `queryCode` codes the raw query vector,
    * `corpusVec` is the corpus vector as scored, and `score` (query,
    * corpus) fills `scoreCol`, the ranking column; `extra` scores ride
    * along to the output.
    */
  final case class Scorer(queryCode: Column => Column, corpusVec: Column,
                          scoreCol: String,
                          score: (Column, Column) => Column,
                          extra: Seq[(String, (Column, Column) => Column)] = Nil) {
    /** `df` with the scores of query `q` against corpus `c`, ranked. */
    private[Knn] def ranked(df: DataFrame, queryIdCol: String, k: Int,
                            q: Column, c: Column): DataFrame =
      rankTopK((extra :+ (scoreCol -> score)).foldLeft(df) {
        case (d, (name, f)) => d.withColumn(name, f(q, c))
      }, queryIdCol, k, scoreCol, extra.map(_._1))
  }

  /** (queryIdCol, q_vec): a query frame of (idCol, vecCol) vectors. */
  def queries(df: DataFrame, idCol: String, vecCol: String,
              queryIdCol: String = "query_id"): DataFrame =
    df.select(col(idCol).as(queryIdCol), col(vecCol).as("q_vec"))

  /** `(query_id, q_vec, centroid_id)`: each query's `nprobe` nearest
    * centroids by float cosine, smaller centroid id first on ties.
    *
    * @param queries (query_id, q_vec)
    */
  def probes(centroids: DataFrame, queries: DataFrame, nprobe: Int,
             idCol: String, vecCol: String): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("cent_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qc_cos").desc, col("centroid_id"))
    queries.crossJoin(broadcast(c))
      .withColumn("qc_cos", Similarity.cosine(col("q_vec"), col("cent_vec")))
      .withColumn("qc_rank", row_number().over(w))
      .filter(col("qc_rank") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("centroid_id"))
  }

  /** The [[probes]] frame collected: query id → its probed centroid ids. */
  def probeSets(probes: DataFrame): Map[Long, Set[Long]] =
    probes.select(col("query_id"), col("centroid_id")).collect().toSeq
      .groupBy(_.getLong(0)).map { case (q, rs) => (q, rs.map(_.getLong(1)).toSet) }

  /** Brute-force top-k: every corpus row scored against every
    * broadcast query, map-side.
    *
    * @param queries (queryIdCol, q_vec)
    */
  def brute(corpus: DataFrame, queries: DataFrame, s: Scorer, k: Int,
            idCol: String, queryIdCol: String): DataFrame =
    s.ranked(corpus.select(col(idCol).as("neighbor_id"), s.corpusVec.as("c_vec"))
      .crossJoin(broadcast(queries.select(col(queryIdCol),
        s.queryCode(col("q_vec")).as("qq_vec")))),
      queryIdCol, k, col("qq_vec"), col("c_vec"))

  /** IVF top-k: only the rows of an assigned corpus (idCol, vectors,
    * centroid_id) in each query's [[probes]] are scored. `assigned` is
    * taken by name, so the probe step's checks run before an
    * assignment's centroid collect.
    *
    * @param queries (query_id, q_vec)
    */
  def probed(assigned: => DataFrame, centroids: DataFrame, queries: DataFrame,
             nprobe: Int, s: Scorer, k: Int, idCol: String,
             vecCol: String): DataFrame = {
    val p = probes(centroids, queries, nprobe, idCol, vecCol)
      .select(col("query_id"), s.queryCode(col("q_vec")).as("qq_vec"),
        col("centroid_id"))
    s.ranked(assigned.withColumnRenamed(idCol, "neighbor_id")
      .join(broadcast(p), Seq("centroid_id")),
      "query_id", k, col("qq_vec"), s.corpusVec)
  }

  /** Top-k for driver-side queries in one scan: `score` builds each
    * query's score column (null drops the row), posexploded into
    * (query_id, neighbor_id, scoreCol).
    */
  def perQuery(corpus: DataFrame, queries: Seq[(Long, Array[Double])], k: Int,
               idCol: String, scoreCol: String)
              (score: ((Long, Array[Double])) => Column): DataFrame = {
    val qids = array(queries.map(q => lit(q._1)): _*)
    rankTopK(corpus
      .select(col(idCol).as("neighbor_id"),
        posexplode(array(queries.map(score): _*)).as(Seq("qi", scoreCol)))
      .filter(col(scoreCol).isNotNull)
      .withColumn("query_id", element_at(qids, col("qi") + 1)),
      "query_id", k, scoreCol)
  }

  /** Two-stage rerank: the `wide` pass's (queryIdCol, neighbor_id)
    * candidates, re-scored by `s` against the corpus (joined by id —
    * candidates·queries rows, never the corpus) and cut to k. `wide`
    * is taken by name so a bad `candidates` fails before it is built.
    *
    * @param queries (queryIdCol, q_vec)
    */
  def rerank(face: String, wide: => DataFrame, corpus: DataFrame,
             queries: DataFrame, s: Scorer, k: Int, candidates: Int,
             idCol: String, queryIdCol: String): DataFrame = {
    require(candidates >= k,
      s"$face: candidates ($candidates) must be >= k ($k)")
    s.ranked(wide.select(col(queryIdCol), col("neighbor_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), s.corpusVec.as("c_vec")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryIdCol),
        s.queryCode(col("q_vec")).as("qq_vec"))), Seq(queryIdCol)),
      queryIdCol, k, col("qq_vec"), col("c_vec"))
  }

  /** Shared kNN tail: prune to the score columns (the vectors must
    * never reach an exchange), exact partial top-k per query, then
    * stamp `rank` with a window over the ≤ k·queries survivors.
    */
  def rankTopK(scored: DataFrame, queryIdCol: String, k: Int,
               scoreCol: String, extraCols: Seq[String] = Nil): DataFrame = {
    val pruned = scored.select(
      (Seq(queryIdCol, "neighbor_id", scoreCol) ++ extraCols).map(col): _*)
    val shrunk = graft.plans.TopK.topKPerKey(pruned, Seq(queryIdCol),
      scoreCol, k, desc = true, tiebreak = Seq("neighbor_id"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    shrunk
      .withColumn("rank", row_number().over(w))
      .select((Seq(queryIdCol, "neighbor_id", "rank") ++ extraCols :+
        scoreCol).map(col): _*)
  }
}

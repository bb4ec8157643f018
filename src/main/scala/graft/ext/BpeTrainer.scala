package graft.ext

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** BPE TRAINING (Sennrich et al. 2016) — the loop that mints the
  * ranked merge tables [[BpeTokenizer]] / [[graft.functions.BpeSegment]]
  * apply: q54's corpus pair-count is its first iteration; this closes
  * the seam so learn → apply → budget runs end-to-end in-engine.
  *
  * Distributed shape (the classic trick, kept): training never
  * iterates the CORPUS — one corpus scan builds the word VOCABULARY
  * (word, count), then every iteration is a scan of the vocab only:
  * segment each word under the merges found so far (the codegen'd
  * min-rank expression — map-side), explode adjacent token pairs
  * weighted by word count, one small pair-count shuffle, and a
  * 1-row argmax to the driver (count desc, then (lhs, rhs) binary
  * ascending — the deterministic tie the oracle replays). At 100 TB
  * the corpus is touched ONCE; the vocab (Zipf: millions of rows,
  * not billions) is what iterates, localCheckpointed so no lineage
  * grows across rounds (the DupClusters lesson).
  *
  * Trained tables are CONSISTENT by construction — merge i's sides
  * are tokens of the post-(i−1) segmentation, i.e. single characters
  * or earlier outputs — so the min-rank loop used here and the
  * rank-sequential sweep chain the SQL oracle replays provably agree
  * (the BpeTokenizer scaladoc proof).
  */
object BpeTrainer {

  /** One learned merge: rank order is the Seq order. */
  final case class Merge(lhs: String, rhs: String, pairCount: Long)

  /** Adjacent (lhs, rhs) token pairs of a token-array column (caller
    * filters size ≥ 2 first — `sequence` needs a non-negative range).
    */
  private def adjacentPairs(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1), i =>
      struct(element_at(toks, i).as("lhs"),
        element_at(toks, i + 1).as("rhs")))

  /** Learn up to `nMerges` merges from `textCol` (whitespace
    * pretokenization, code-point base alphabet — [[BpeTokenizer]]'s
    * word mode; pass `byteLevel = true` for the GPT-2 byte-alphabet
    * mode). Stops early when no adjacent pair is left to merge.
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
            byteLevel: Boolean = false): Seq[Merge] = {
    require(nMerges >= 1 && nMerges <= graft.functions.BpeModel.MaxMerges,
      s"BpeTrainer: nMerges $nMerges outside [1, ${graft.functions.BpeModel.MaxMerges}]")
    val vocab = docs
      .select(explode(graft.functions.BpeSegment.words(
        col(textCol), byteLevel)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (learned.size < nMerges && !exhausted) {
      // NOTE the vocab rows are WORDS of the BASE pretokenization:
      // when training byte-level, "word" is already a mapped-byte
      // string, so re-segmentation below runs in WORD mode (code
      // points of the mapped alphabet) for every round.
      val merges = learned.map(m => (m.lhs, m.rhs)).toSeq
      val toks = graft.functions.BpeSegment.tokens(col("word"), merges)
      val best = vocab
        .select(col("cnt"), toks.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("cnt"), explode(adjacentPairs(col("t"))).as("p"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(desc("c"), asc("lhs"), asc("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val r = best(0)
        learned += Merge(r.getString(0), r.getString(1), r.getLong(2))
      }
    }
    vocab.unpersist()
    learned.toSeq
  }

  /** The learned table in the shape the appliers take. */
  def mergeTable(merges: Seq[Merge]): Seq[(String, String)] =
    merges.map(m => (m.lhs, m.rhs))

  /** Vocab-size guard for [[trainFast]]'s driver-side loop: 4 M
    * distinct words ≈ a few hundred MB of driver state — far past any
    * natural-language vocabulary (Zipf), loud before driver OOM.
    */
  val DefaultMaxVocab: Int = 1 << 22

  /** UTF-8 binary comparison — the tie [[train]]'s `asc(lhs)` uses
    * (Spark string ordering is unsigned UTF-8 bytes, NOT Java's
    * UTF-16 `compareTo`, and the two disagree around surrogates).
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Code-point tokens of a word (the base segmentation both
    * appliers start from; byte-level words are mapped-byte strings,
    * whose chars are BMP code points, so the same split serves).
    */
  private def charTokens(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** One left-to-right non-overlapping (l, r) → lr sweep — exactly
    * the rank-sequential step the oracle's replace chain and (for
    * consistent tables, per the BpeTokenizer proof) the min-rank
    * appliers take. Returns `toks` itself when nothing merged.
    */
  private def sweep(toks: Array[String], l: String, r: String): Array[String] = {
    var hit = false
    var i = 0
    while (!hit && i < toks.length - 1) {
      if (toks(i) == l && toks(i + 1) == r) hit = true
      i += 1
    }
    if (!hit) return toks
    val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
    i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == l && toks(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  /** Adjacent-pair occurrence counts of one token array. */
  private def pairOccs(toks: Array[String])
      : java.util.HashMap[(String, String), Int] = {
    val m = new java.util.HashMap[(String, String), Int]()
    var i = 0
    while (i < toks.length - 1) {
      val p = (toks(i), toks(i + 1))
      m.put(p, m.getOrDefault(p, 0) + 1)
      i += 1
    }
    m
  }

  /** Learn up to `nMerges` merges with the INCREMENTAL pair-count
    * update — same contract and IDENTICAL output to [[train]]
    * (BpeTrainerFastSpec proves equality on random corpora), but one
    * Spark job TOTAL instead of one per merge: [[train]] re-segments
    * the vocabulary every iteration, fine for the ≤ a-few-hundred
    * merges the gates train but intractable at the 32 k a production
    * table needs (32 k vocab-scan jobs). Here the corpus is scanned
    * once for the (word, count) vocabulary, the vocab is collected to
    * the driver under a LOUD size guard (`maxVocab`, default 4 M —
    * vocabularies are Zipf-bounded, so this is the natural driver-
    * sized artifact, like centroids or classifier weights), and each
    * iteration touches ONLY the words containing the merged pair
    * (classic Sennrich/subword-nmt shape): apply one sweep, diff the
    * word's adjacent-pair occurrences, push the deltas into the
    * global count map and a lazy-invalidation max-heap (count desc,
    * then UTF-8-binary (lhs, rhs) ascending — [[train]]'s exact tie).
    *
    * Scale shape: one corpus scan + one bounded collect + driver work
    * proportional to Σ affected-word sizes — 1 k+ merges over an 8 M-
    * doc corpus in minutes where [[train]] needs 1 k+ jobs (measured
    * in BASELINE.md's scale-trend table).
    */
  def trainFast(docs: DataFrame, textCol: String, nMerges: Int,
                byteLevel: Boolean = false,
                maxVocab: Int = DefaultMaxVocab): Seq[Merge] = {
    require(nMerges >= 1 && nMerges <= graft.functions.BpeModel.MaxMerges,
      s"BpeTrainer: nMerges $nMerges outside [1, ${graft.functions.BpeModel.MaxMerges}]")
    val rows = docs
      .select(explode(graft.functions.BpeSegment.words(
        col(textCol), byteLevel)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .limit(maxVocab + 1)
      .collect()
    require(rows.length <= maxVocab,
      s"BpeTrainer.trainFast: vocabulary exceeds maxVocab=$maxVocab " +
        "distinct words — raise maxVocab (driver-sized artifact) or " +
        "fall back to the distributed per-merge loop (train)")

    val words = new Array[Array[String]](rows.length)
    val cnts = new Array[Long](rows.length)
    var w = 0
    while (w < rows.length) {
      words(w) = charTokens(rows(w).getString(0))
      cnts(w) = rows(w).getLong(1)
      w += 1
    }

    // global pair counts + pair → word-index membership
    val counts = new java.util.HashMap[(String, String), Long]()
    val where = new java.util.HashMap[(String, String),
      java.util.HashSet[Integer]]()
    def addWhere(p: (String, String), idx: Int): Unit = {
      var s = where.get(p)
      if (s == null) { s = new java.util.HashSet[Integer](); where.put(p, s) }
      s.add(idx)
    }
    w = 0
    while (w < words.length) {
      val occ = pairOccs(words(w)).entrySet().iterator()
      while (occ.hasNext) {
        val e = occ.next()
        counts.put(e.getKey,
          counts.getOrDefault(e.getKey, 0L) + e.getValue.toLong * cnts(w))
        addWhere(e.getKey, w)
      }
      w += 1
    }

    // max-heap with lazy invalidation: greatest = highest count, then
    // UTF-8-smallest lhs, then rhs (train's orderBy desc(c), asc, asc)
    final case class Entry(c: Long, l: String, r: String)
    implicit val ord: Ordering[Entry] = new Ordering[Entry] {
      def compare(a: Entry, b: Entry): Int = {
        if (a.c != b.c) return java.lang.Long.compare(a.c, b.c)
        val dl = utf8Compare(b.l, a.l)
        if (dl != 0) dl else utf8Compare(b.r, a.r)
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[Entry]
    val it0 = counts.entrySet().iterator()
    while (it0.hasNext) {
      val e = it0.next()
      heap.enqueue(Entry(e.getValue, e.getKey._1, e.getKey._2))
    }

    val learned = scala.collection.mutable.ArrayBuffer.empty[Merge]
    while (learned.size < nMerges && heap.nonEmpty) {
      val top = heap.dequeue()
      val p = (top.l, top.r)
      if (counts.containsKey(p) && counts.get(p) == top.c) {
        learned += Merge(top.l, top.r, top.c)
        val affected = where.remove(p)
        counts.remove(p)
        if (affected != null) {
          val ai = affected.iterator()
          while (ai.hasNext) {
            val idx: Int = ai.next()
            val old = words(idx)
            val next = sweep(old, top.l, top.r)
            if (next ne old) {
              words(idx) = next
              val oldOcc = pairOccs(old)
              val newOcc = pairOccs(next)
              // deltas over the union of both occurrence maps
              val keys = new java.util.HashSet[(String, String)](oldOcc.keySet())
              keys.addAll(newOcc.keySet())
              val ki = keys.iterator()
              while (ki.hasNext) {
                val q = ki.next()
                val o = oldOcc.getOrDefault(q, 0)
                val nn = newOcc.getOrDefault(q, 0)
                if (o != nn && q != p) {
                  val upd = counts.getOrDefault(q, 0L) + (nn - o).toLong * cnts(idx)
                  if (upd <= 0L) counts.remove(q)
                  else {
                    counts.put(q, upd)
                    heap.enqueue(Entry(upd, q._1, q._2))
                  }
                }
                if (nn > 0 && o == 0) addWhere(q, idx)
                else if (nn == 0 && o > 0) {
                  val s = where.get(q)
                  if (s != null) { s.remove(idx); if (s.isEmpty) where.remove(q) }
                }
              }
              // a completed left-to-right sweep leaves no (l, r)
              // adjacency; the count map must agree or the incremental
              // state has diverged from the recount
              require(!newOcc.containsKey(p),
                s"BpeTrainer.trainFast: residual ($p) adjacency after " +
                  "sweep — incremental state diverged")
            }
          }
        }
      }
    }
    learned.toSeq
  }

  /** Persist a trained table (rank, lhs, rhs, pair_count) — a trained
    * tokenizer is a deployment ARTIFACT like the index family's
    * centroids: train once, apply from every later session. One
    * parquet file; rank order IS the ranking, re-validated on load.
    */
  def save(spark: org.apache.spark.sql.SparkSession, path: String,
           merges: Seq[Merge]): Unit = {
    require(merges.nonEmpty, "BpeTrainer.save: empty merge table")
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i, m.lhs, m.rhs, m.pairCount) }
      .toDF("rank", "lhs", "rhs", "pair_count")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Load a persisted table in rank order. Throws on a rank gap /
    * duplicate (a torn or hand-edited artifact) — the appliers'
    * semantics depend on the EXACT ranking, so a silently reordered
    * table would segment differently.
    */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): Seq[Merge] = {
    val rows = spark.read.parquet(path)
      .select(col("rank").cast("int"), col("lhs"), col("rhs"),
        col("pair_count").cast("long"))
      .collect()
      .sortBy(_.getInt(0))
    require(rows.nonEmpty, s"BpeTrainer.load: empty merge table at $path")
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"BpeTrainer.load: rank gap/duplicate at $path — expected rank " +
          s"$i, found ${r.getInt(0)}; the artifact is torn or edited")
    }
    rows.toSeq.map(r => Merge(r.getString(1), r.getString(2), r.getLong(3)))
  }
}

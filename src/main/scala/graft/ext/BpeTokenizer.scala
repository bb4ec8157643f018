package graft.ext

import graft.functions.BpeSegment
import org.apache.spark.sql.Column

/** BPE tokenization APPLY (north-star ✚) — real byte-pair-encoding
  * segmentation under a ranked merge table: given merges learned
  * elsewhere (training is a corpus-statistics job — q54's pair counts
  * are its first iteration, [[BpeTrainer]] the full loop; the merge
  * table is an input here, like the classifier's weights), segment
  * each whitespace word into subwords and count them. Token counts
  * are what packing (q96), mixing (q95) and budget accounting
  * actually need at 100 TB.
  *
  * One kernel: [[tokens]] and [[tokenCount]] run
  * [[graft.functions.BpeSegment]] in word mode — the codegen'd
  * reference min-rank loop with its per-thread word memo. What this
  * object adds is the small-table contract the DuckDB oracle needs
  * (q140/q141): [[validateMerges]] admits only tables on which the
  * oracle's chain of one literal `replace` per merge, applied in rank
  * order, equals the min-rank loop.
  *
  * The oracle's representation (the r17 boundary-bug fix): each token
  * is WRAPPED in sentinel chars — `\u0001tok\u0002` — and a merge
  * (l, r) rewrites the literal `\u0001l\u0002\u0001r\u0002` to
  * `\u0001lr\u0002`. Because the pattern carries BOTH boundaries of
  * BOTH tokens, it can only match two complete adjacent tokens —
  * the earlier single-space separator let `t a` match the prefix of
  * `t an`, silently merging across a token boundary ("tan" →
  * ["tan"] where min-rank BPE yields ["t","an"]; pinned in
  * BpeTokenizerSpec). Literal replace substitutes left-to-right
  * non-overlapping, which is exactly BPE's merge-all-occurrences
  * sweep.
  *
  * WHY rank-sequential ≡ min-rank for CONSISTENT tables (each side a
  * single character or the output of an EARLIER merge — validated
  * loudly by [[validateMerges]]): a pair of rank j can only become
  * adjacent through a merge whose output is one of its sides, and
  * consistency forces that producing merge to rank BELOW j — so by
  * the time rank j's sweep runs, every occurrence it will ever have
  * already exists, and no later rank can mint a new one. A single
  * sweep per rank is also complete: merging (l, r) into `lr` can
  * only create pairs with `lr` as a side, never another (l, r).
  *
  * Scale shape: one map-side expression per document — the tokenizer
  * fuses into whatever scan reads the text; no UDF, no shuffle.
  */
object BpeTokenizer {

  /** Sanity cap: the oracle's chain nests one `replace` per merge.
    * Production-size tables go through [[graft.functions.BpeSegment]]
    * directly.
    */
  val MaxMerges: Int = 256

  /** Token-boundary sentinels of the oracle's working string. Control
    * chars so real text essentially never collides; even when it does,
    * a raw sentinel char in TEXT is harmless — no merge symbol may
    * contain one, so a pattern can never align to a non-boundary.
    */
  val Open = "\u0001"
  val Close = "\u0002"

  /** Throws unless the table is a CONSISTENT ranked merge list (the
    * precondition for rank-sequential application ≡ min-rank-loop
    * application): every side is a single character or the
    * concatenation produced by an earlier merge, and no symbol
    * contains a space (q140 words are space-split) or a boundary
    * sentinel (the working separator).
    */
  def validateMerges(merges: Seq[(String, String)]): Unit = {
    require(merges.nonEmpty && merges.size <= MaxMerges,
      s"BpeTokenizer: merge count ${merges.size} outside [1, $MaxMerges]")
    val produced = scala.collection.mutable.Set.empty[String]
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(l.nonEmpty && r.nonEmpty &&
          Seq(l, r).forall(s => !s.contains(" ") && !s.contains(Open) &&
            !s.contains(Close)),
        s"BpeTokenizer: merge $i ($l, $r) — symbols must be non-empty " +
          "and free of spaces and the \\u0001/\\u0002 boundary sentinels")
      Seq(l, r).foreach { s =>
        require(s.codePointCount(0, s.length) == 1 || produced.contains(s),
          s"BpeTokenizer: merge $i side '$s' is neither a single " +
            "character nor the output of an earlier merge — the table " +
            "is inconsistent, so rank-sequential application would " +
            "diverge from the reference min-rank loop")
      }
      produced += (l + r)
    }
  }

  /** Per-document subword token ARRAY (words segmented independently,
    * results concatenated in order; the empty word contributes no
    * tokens).
    */
  def tokens(text: Column, merges: Seq[(String, String)]): Column = {
    validateMerges(merges)
    BpeSegment.tokens(text, merges)
  }

  /** Per-document subword token COUNT without materializing a
    * per-document token array.
    */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    validateMerges(merges)
    BpeSegment.tokenCount(text, merges)
  }
}

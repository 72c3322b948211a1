package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.{UnigramTokenIds, UnigramTokens}

/** Unigram-LM tokenizer (Kudo 2018, the SentencePiece `unigram`
  * model) — the second real-world subword tokenizer family next to
  * [[Bpe]]: instead of greedy merge rules, a VOCABULARY of scored
  * pieces segments each word by Viterbi best path. Training here is
  * the hard-EM variant over the bounded word-TYPE dictionary (the
  * same driver-side shape as the BPE trainer): seed the vocabulary
  * with all frequent substrings, alternately (a) Viterbi-segment
  * every word type under the current piece scores and (b) recount
  * piece usage, then prune to the vocabulary budget.
  *
  * DETERMINISM (the x85 integer-lattice lesson): a piece's score is
  * the round-6 lattice of its log-probability ln(count/total), held
  * in exact integer micro-units; every Viterbi comparison is then
  * integer arithmetic with a pinned tie-break (higher score, then
  * FEWER pieces, then lexicographically smaller path) — so
  * equal-product segmentations (count 4 vs 2·2 — common with small
  * integer counts) compare as EXACT ties and resolve identically on
  * any engine, where raw double ln-sums would flip on last-ulp libm
  * differences.
  *
  * Scale shape: the corpus is touched by ONE word-type counting
  * aggregation (partial-aggregable; `maxWordTypes` caps the collected
  * dictionary deterministically — the Bpe.train contract); EM rounds
  * are driver arithmetic over the bounded dictionary; segmentation is
  * a map-only codegen kernel (`unigram_tokens`) against the broadcast
  * model.
  */
object UnigramLm {

  /** The trained model: piece → integer-lattice LOG-PROBABILITY
    * score (round-6 of ln(count/total) in micro-units — NEGATIVE, so
    * segmentations with fewer, higher-probability pieces win, the
    * actual unigram-LM objective; a raw ln(count) score is positive
    * and makes char-splitting optimal, the classic sign mistake —
    * caught by the EM spec). `unkScore` is the unseen-single-char
    * fallback, ln(1/total). The full single-char alphabet of the
    * training corpus is always present (count floor 1), so every
    * word segments. */
  final case class Model(scores: Map[String, Long], maxPieceLen: Int,
                         unkScore: Long) extends Serializable {
    def size: Int = scores.size
  }

  private def scoreInt(count: Long, total: Long): Long =
    Math.round(EmbeddingOps.round6(
      math.log(count.toDouble) - math.log(total.toDouble)) * 1000000L)

  /** Char offsets of each CODEPOINT boundary in `w` (length ncp+1):
    * segmentation, alphabet seeding, and substring enumeration all
    * walk codepoints, never UTF-16 units — a piece that split a
    * surrogate pair would round-trip through `UTF8String.fromString`
    * as '?', corrupting astral-plane text (emoji, CJK ext-B — common
    * in web crawls) where SentencePiece segments codepoints. */
  private[graft] def cpOffsets(w: String): Array[Int] = {
    val offs = new Array[Int](w.codePointCount(0, w.length) + 1)
    var i = 0; var k = 0
    while (i < w.length) {
      offs(k) = i; k += 1
      i += Character.charCount(w.codePointAt(i))
    }
    offs(k) = w.length
    offs
  }

  /** Integer-lattice Viterbi over one word: best = (score desc,
    * n_pieces asc, path asc). Single chars absent from the model
    * segment with `unkScore` (= ln(1/total) — the unseen-character
    * fallback, exercised only on corpora other than the training
    * one). Positions and piece lengths are CODEPOINTS (see
    * [[cpOffsets]]); on BMP-only text this is bit-identical to the
    * old UTF-16 walk. */
  def viterbi(word: String, model: Model): Seq[String] = {
    val offs = cpOffsets(word)
    val n = offs.length - 1
    if (n == 0) return Seq.empty
    // best(p): (score, nPieces, path string with ' ' separators)
    val best = new Array[(Long, Int, String)](n + 1)
    best(0) = (0L, 0, "")
    var p = 1
    while (p <= n) {
      var chosen: (Long, Int, String) = null
      var j = 1
      val maxJ = math.min(model.maxPieceLen, p)
      while (j <= maxJ) {
        val prev = best(p - j)
        if (prev != null) {
          val piece = word.substring(offs(p - j), offs(p))
          val s = model.scores.get(piece) match {
            case Some(v) => Some(v)
            case None => if (j == 1) Some(model.unkScore) else None
          }
          s.foreach { sc =>
            val cand = (prev._1 + sc, prev._2 + 1,
              if (prev._3.isEmpty) piece else prev._3 + " " + piece)
            if (chosen == null ||
              cand._1 > chosen._1 ||
              (cand._1 == chosen._1 && (cand._2 < chosen._2 ||
                (cand._2 == chosen._2 && cand._3 < chosen._3))))
              chosen = cand
          }
        }
        j += 1
      }
      best(p) = chosen
      p += 1
    }
    best(n)._3.split(' ').toSeq
  }

  /** Word-type counts over the corpus (whitespace tokens, one
    * aggregation), capped deterministically like Bpe.train. */
  def wordTypeCounts(docs: DataFrame, textCol: String = "text",
                     maxWordTypes: Int = 1 << 20): Seq[(String, Long)] = {
    val rows = docs
      .select(explode(filter(split(trim(col(textCol)), "\\s+"),
        w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWordTypes)
      .collect()
    rows.map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  /** Hard-EM training over the type dictionary. `vocabSize` bounds
    * the MULTI-char pieces; the single-char alphabet is always kept
    * (count floor 1) so segmentation is total. */
  def trainOnTypes(types: Seq[(String, Long)], vocabSize: Int,
                   maxPieceLen: Int = 4, emRounds: Int = 2,
                   minCount: Long = 2): Model = {
    require(vocabSize >= 0 && maxPieceLen >= 1 && emRounds >= 0)
    // alphabet/seeding walk CODEPOINTS (cpOffsets) so surrogate pairs
    // never split into lone-half "characters"
    val alphabet: Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      types.foreach { case (w, c) =>
        val offs = cpOffsets(w)
        var k = 0
        while (k < offs.length - 1) {
          val ch = w.substring(offs(k), offs(k + 1))
          m(ch) = m.getOrElse(ch, 0L) + c
          k += 1
        }
      }
      m.toMap
    }
    // seed: every substring occurrence (overlaps counted), weighted
    // by type count; lengths in codepoints
    var counts: Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      types.foreach { case (w, c) =>
        val offs = cpOffsets(w)
        val ncp = offs.length - 1
        var i = 0
        while (i < ncp) {
          var l = 1
          while (l <= maxPieceLen && i + l <= ncp) {
            val p = w.substring(offs(i), offs(i + l))
            m(p) = m.getOrElse(p, 0L) + c
            l += 1
          }
          i += 1
        }
      }
      m.filter { case (p, c) => p.codePointCount(0, p.length) == 1 ||
        c >= minCount }.toMap
    }
    def withAlphabet(m: Map[String, Long]): Map[String, Long] =
      alphabet.keys.foldLeft(m)((acc, ch) =>
        if (acc.contains(ch)) acc else acc + (ch -> 1L))
    counts = withAlphabet(counts)
    def toModel(cs: Map[String, Long]): Model = {
      val total = cs.values.sum
      Model(cs.map { case (p, c) => p -> scoreInt(c, total) },
        maxPieceLen, scoreInt(1L, total))
    }
    var round = 0
    while (round < emRounds) {
      val model = toModel(counts)
      val uses = scala.collection.mutable.Map.empty[String, Long]
      types.foreach { case (w, c) =>
        viterbi(w, model).foreach(p => uses(p) = uses.getOrElse(p, 0L) + c)
      }
      counts = withAlphabet(uses.toMap)
      round += 1
    }
    // prune multi-codepoint pieces to the budget (count desc, piece
    // asc); the single-CODEPOINT alphabet (incl. astral chars of
    // UTF-16 length 2) is always kept so segmentation stays total
    def isSingleCp(p: String): Boolean = p.codePointCount(0, p.length) == 1
    val multi = counts.filter { case (p, _) => !isSingleCp(p) }.toSeq
      .sortBy { case (p, c) => (-c, p) }.take(vocabSize)
    // final scores re-normalize over the PRUNED table
    toModel(counts.filter { case (p, _) => isSingleCp(p) } ++ multi)
  }

  /** Corpus-level convenience: type counts → hard-EM model. */
  def train(docs: DataFrame, vocabSize: Int, maxPieceLen: Int = 4,
            emRounds: Int = 2, minCount: Long = 2,
            textCol: String = "text",
            maxWordTypes: Int = 1 << 20): Model =
    trainOnTypes(wordTypeCounts(docs, textCol, maxWordTypes),
      vocabSize, maxPieceLen, emRounds, minCount)

  /** Segment a text column: whitespace words, each Viterbi-segmented,
    * pieces flattened in order — one map-only codegen pass. */
  def tokens(text: Column, model: Model): Column =
    column(UnigramTokens(expression(text), model))

  /** Segment + map to sorted-vocabulary ids in ONE pass (the
    * BpeTokenIds sibling; UNK → −1 for unknown-character fallback
    * pieces). */
  def tokenIds(text: Column, model: Model): Column =
    column(UnigramTokenIds(expression(text), model))

  /** Per-document segmentation summary: (id, n_pieces, seg) where
    * `seg` is the piece stream joined with single spaces. */
  def segmentDocs(docs: DataFrame, model: Model,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    docs.select(col(idCol),
        tokens(col(textCol), model).as("pieces"))
      .select(col(idCol),
        size(col("pieces")).as("n_pieces"),
        array_join(col("pieces"), " ").as("seg"))
  }
}

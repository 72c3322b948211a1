package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.{WordpieceTokenIds, WordpieceTokens}

/** WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer,
  * Devlin et al. 2019) — the third tokenizer family next to BPE
  * (merge-replay encode) and unigram-LM (Viterbi encode). Two halves:
  *
  *  - TRAINING is BPE-shaped (iteratively merge an adjacent unit
  *    pair over the word-type dictionary) but ranks candidates by the
  *    LIKELIHOOD gain `count(ab) / (count(a)·count(b))` instead of raw
  *    pair frequency — the published WordPiece criterion (it prefers
  *    fusing units that are unusually predictive of each other over
  *    units that are merely both common). Non-initial units carry the
  *    `##` continuation marker, and a merged unit keeps the left
  *    side's marker, so the learned vocabulary is position-aware.
  *  - ENCODING ignores the merge order entirely: each word is
  *    segmented by greedy LONGEST-MATCH-FIRST against the final
  *    vocabulary (continuation candidates prefixed `##`); if any
  *    position has no vocabulary match — or the word exceeds
  *    `MaxWordCp` codepoints (BERT's max_input_chars_per_word) — the
  *    WHOLE word becomes `[UNK]`.
  *
  * Engine determinism: the likelihood score is compared in EXACT
  * integer arithmetic — `(count(ab)·10^18) / (count(a)·count(b))`
  * floor-divided in BigInt — with ties broken by the smaller
  * (left, right) pair in UTF-8 byte order, so an independent engine
  * (the x110 DuckDB mirror, HUGEINT `//`) re-derives the identical
  * merge sequence; a raw double ratio would hand the argmax to libm
  * rounding. All unit/segmentation walks are codepoint-based
  * (surrogate pairs never split — the UnigramLm stance).
  *
  * Scale shape (100 TB): training touches the corpus in exactly ONE
  * distributed word-type aggregation (the [[Bpe.train]] shape, same
  * deterministic `maxWordTypes` cap); the merge loop runs on the
  * driver over the bounded dictionary. Encoding is a map-only codegen
  * kernel against the broadcast vocabulary
  * ([[graft.expressions.WordpieceTokens]]) — zero shuffle.
  */
object WordPiece {

  /** BERT's max_input_chars_per_word: longer words go straight to
    * `[UNK]` (a megabyte "word" must not drive a quadratic match). */
  val MaxWordCp = 100

  val Unk = "[UNK]"

  /** `vocab` holds word-initial pieces bare and continuation pieces
    * `##`-prefixed, plus [[Unk]]; `maxContentCp` is the longest piece
    * content (marker excluded) in codepoints — the greedy matcher's
    * window bound. */
  final case class Model(vocab: Set[String], maxContentCp: Int) {
    require(vocab.contains(Unk), s"vocabulary must contain $Unk")
  }

  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  private[graft] def cpOffsets(w: String): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i <= w.length) {
      out += i
      if (i < w.length) i += Character.charCount(w.codePointAt(i))
      else i += 1
    }
    out.toArray
  }

  /** Initial unit array of a word: first codepoint bare, the rest
    * `##`-prefixed. */
  private[graft] def initialUnits(w: String): Array[String] = {
    val offs = cpOffsets(w)
    Array.tabulate(offs.length - 1) { k =>
      val c = w.substring(offs(k), offs(k + 1))
      if (k == 0) c else "##" + c
    }
  }

  private def contentOf(u: String): String =
    if (u.startsWith("##")) u.substring(2) else u

  /** The merge loop over an in-memory word-frequency dictionary.
    * Full pair+unit recount per round (the round function the x110
    * oracle unrolls CTE-for-CTE); `numMerges` is probe/spec-sized
    * here — a production 30k-vocab train would want the incremental
    * deltas of [[Bpe.trainOnDict]], which change nothing observable.
    * Each chosen merge applies as one left-to-right non-overlapping
    * pass per word (the [[Bpe]] pass semantics). */
  def trainOnDict(dict: Array[(String, Long)], numMerges: Int): Model = {
    require(numMerges >= 0)
    val words: Array[Array[String]] = dict.map { case (w, _) => initialUnits(w) }
    val freqs: Array[Long] = dict.map(_._2)
    val vocab = scala.collection.mutable.Set.empty[String]
    words.foreach(_.foreach(vocab += _))
    val scale = BigInt(10).pow(18)
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val unitCnt = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < words.length) {
        val toks = words(wi); val f = freqs(wi)
        var i = 0
        while (i < toks.length) {
          unitCnt.update(toks(i), unitCnt.getOrElse(toks(i), 0L) + f)
          if (i + 1 < toks.length) {
            val p = (toks(i), toks(i + 1))
            pairCnt.update(p, pairCnt.getOrElse(p, 0L) + f)
          }
          i += 1
        }
        wi += 1
      }
      var best: (String, String) = null
      var bestScore: BigInt = null
      pairCnt.foreach { case (p, c) =>
        val s = (BigInt(c) * scale) / (BigInt(unitCnt(p._1)) * BigInt(unitCnt(p._2)))
        val better = best == null || s > bestScore ||
          (s == bestScore && {
            val c1 = utf8Compare(p._1, best._1)
            c1 < 0 || (c1 == 0 && utf8Compare(p._2, best._2) < 0)
          })
        if (better) { best = p; bestScore = s }
      }
      if (best == null) exhausted = true
      else {
        val merged = best._1 + contentOf(best._2)
        vocab += merged
        val (l, r) = best
        var iw = 0
        while (iw < words.length) {
          val toks = words(iw)
          var has = false
          var i = 0
          while (!has && i < toks.length - 1) {
            has = toks(i) == l && toks(i + 1) == r; i += 1
          }
          if (has) {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < toks.length) {
              if (j + 1 < toks.length && toks(j) == l && toks(j + 1) == r) {
                out += merged; j += 2
              } else { out += toks(j); j += 1 }
            }
            words(iw) = out.toArray
          }
          iw += 1
        }
        k += 1
      }
    }
    val v = vocab.toSet + Unk
    val maxContent = v.iterator.filter(_ != Unk)
      .map(u => { val c = contentOf(u); c.codePointCount(0, c.length) })
      .foldLeft(1)(math.max)
    Model(v, maxContent)
  }

  /** Corpus-level training: ONE distributed word-type aggregation
    * (pre-tokens via the [[Bpe]] prelude — letters runs, single
    * digits, single punctuation; only letter runs are multi-unit),
    * deterministically capped like [[Bpe.train]], then the driver
    * merge loop. */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
            maxWordTypes: Int = 1 << 20): Model = {
    val counts = docs
      .select(explode(Bpe.preTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(maxWordTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainOnDict(counts, numMerges)
  }

  /** Greedy longest-match-first segmentation of one word; total: any
    * unmatched position (or an over-[[MaxWordCp]] word) yields
    * `Seq(Unk)`. */
  def segmentWord(w: String, model: Model): Seq[String] = {
    if (w.isEmpty) return Seq.empty
    val offs = cpOffsets(w)
    val ncp = offs.length - 1
    if (ncp > MaxWordCp) return Seq(Unk)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = 0
    while (p < ncp) {
      var l = math.min(model.maxContentCp, ncp - p)
      var hit: String = null
      while (hit == null && l >= 1) {
        val sub = w.substring(offs(p), offs(p + l))
        val cand = if (p == 0) sub else "##" + sub
        if (model.vocab.contains(cand)) hit = cand else l -= 1
      }
      if (hit == null) return Seq(Unk)
      out += hit
      p += l
    }
    out.toSeq
  }

  /** Tokenize a text column: pre-tokens via the [[Bpe]] prelude, each
    * word greedy-segmented, pieces flattened in order — one map-only
    * codegen pass against the broadcast vocabulary. */
  def tokens(text: Column, model: Model): Column =
    column(WordpieceTokens(expression(text), model))

  /** Segment + map to sorted-vocabulary ids in ONE pass (vocabulary
    * pieces sorted ascending by UTF-8 byte order, ids 0..V−1; `[UNK]`
    * is itself a vocabulary entry, so every output id is valid — the
    * BERT contract, unlike the BPE/unigram −1-UNK interchange). */
  def tokenIds(text: Column, model: Model): Column =
    column(WordpieceTokenIds(expression(text), model))
}

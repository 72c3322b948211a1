package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => fn}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.{BpeOps, BpeTokenIds, BpeTokens, BpeUnmap, BpeVocab}

/** Trainable byte-pair encoding over a corpus — the real tokenizer the
  * LLM-data extension suite budgets with (`x01`'s `preTokenCount` is
  * the heuristic proxy; this is the exact version).
  *
  * Training follows the standard BPE recipe (Sennrich et al. 2016):
  * count word TYPES once (distributed), then run the merge loop over
  * the word-frequency dictionary on the driver — the dictionary is the
  * classic bounded structure (vocabulary grows ~O(corpus^0.6), and the
  * deterministic `maxWordTypes` cap bounds it hard), which is how
  * every production tokenizer trainer works; the 100 TB of text is
  * only ever touched by the one distributed word-count aggregation.
  *
  * Determinism: merge choice is (max pair count, then lexicographically
  * smallest pair by UTF-8 BYTE order) — byte order is what both
  * Spark's UTF8String comparison and DuckDB's binary collation
  * implement, so the trained table is engine-reproducible.
  */
object Bpe {

  /** Pre-token array of a text column (the GPT-2-style prelude —
    * same pattern as [[TextOps.preTokenCount]]). */
  def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeOps.PreTokenPattern), lit(0))

  /** The most recent cap warning (null when the last [[train]] did not
    * trip the cap) — a TEST SEAM ONLY, since Spark 4's log4j-1.2
    * bridge does not honor 1.x appenders. Thread-local, written (set
    * or cleared) by every [[train]] call on its calling thread, so
    * concurrent trainings on different threads each see their OWN
    * call's warning (per-call for the sequential caller); production
    * logic must not read it — the authoritative signal is the log4j
    * warn. */
  private[graft] val lastCapWarning =
    new ThreadLocal[String] { override def initialValue(): String = null }

  /** Distributed word-type counts → driver merge loop. Returns the
    * ranked merge list. `maxWordTypes` caps the collected dictionary
    * deterministically (top by count, ties by word ascending); the cap
    * being hit is logged loudly since tail word types stop informing
    * pair counts.
    *
    * Driver-memory honesty (measured, graft.tools.BpeDictProfile,
    * local[32]): a wide-unicode corpus (8M distinct 3-codepoint CJK
    * types — the regime the Unicode prelude exposes, where CJK words
    * no longer shatter per-codepoint) collects the 2^20-capped dict in
    * ~85 MB of driver heap (~80 B/type) — safe on any real driver.
    * The merge loop counts pairs INCREMENTALLY (see [[trainOnDict]]):
    * r7 measured the full-recount formulation at 0.63 s/merge at the
    * 2^20 cap (a GPT-2-scale 32k-merge vocabulary would have cost
    * hours in the driver); the r8 incremental loop measures
    * 13 ms/merge on the same corpus — 48×, making large-vocab
    * training driver-feasible. `maxWordTypes`/`minPairCount` remain
    * the levers for trimming maximally-diverse dicts; the 100 TB of
    * TEXT is touched by exactly one aggregation either way. */
  def train(docs: DataFrame, textCol: String = "text", numMerges: Int = 100,
            minPairCount: Long = 1L, maxWordTypes: Int = 1 << 20,
            byteLevel: Boolean = false): Seq[(String, String)] = {
    require(numMerges >= 0 && maxWordTypes > 0)
    val counts = docs
      .select(explode(preTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(maxWordTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    if (counts.length == maxWordTypes) {
      val msg = s"BPE word dictionary hit maxWordTypes=$maxWordTypes — tail " +
        "word types are not informing pair counts; raise the cap if unintended"
      lastCapWarning.set(msg)
      org.apache.log4j.Logger.getLogger(getClass).warn(msg)
    } else lastCapWarning.set(null)
    trainOnDict(counts, numMerges, minPairCount, byteLevel)
  }

  /** The merge loop over an in-memory word-frequency dictionary.
    * Pair counts are positional (overlapping occurrences all count);
    * each chosen merge is applied as one left-to-right pass per word —
    * the same pass semantics the encode kernel contracts to.
    *
    * Counting is INCREMENTAL (the r7-measured bottleneck was a full
    * O(dict-tokens) recount per round — 0.63 s/merge at the 2^20-cap
    * dict): a global pair→count map plus a pair→word-ids index are
    * built once, and each merge touches only the words that contain
    * the chosen pair, subtracting their old adjacencies and adding the
    * new ones. The deltas reproduce a full recount EXACTLY (every
    * occurrence of the chosen pair lives in an affected word), and the
    * argmax scan uses the same order-independent (count desc, pair
    * bytes asc) comparator — so trained tables are unchanged
    * bit-for-bit from the recount formulation (BpeSpec pins this).
    * The word-id index may keep stale entries for words that since
    * lost a pair; those are skipped via a no-change check, and total
    * index growth is bounded by total adjacency insertions. */
  def trainOnDict(dict: Array[(String, Long)], numMerges: Int,
                  minPairCount: Long = 1L,
                  byteLevel: Boolean = false): Seq[(String, String)] = {
    val words: Array[Array[String]] =
      dict.map { case (w, _) =>
        if (byteLevel) BpeOps.byteInit(w) else BpeOps.initialTokens(w)
      }
    val freqs: Array[Long] = dict.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    def add(p: (String, String), f: Long, wi: Int): Unit = {
      counts.update(p, counts.getOrElse(p, 0L) + f)
      val ids = where.getOrElseUpdate(p,
        scala.collection.mutable.ArrayBuffer.empty[Int])
      if (ids.isEmpty || ids.last != wi) ids += wi
    }
    def dec(p: (String, String), f: Long): Unit = {
      val c = counts.getOrElse(p, 0L) - f
      if (c <= 0L) counts.remove(p) else counts.update(p, c)
    }
    var wi = 0
    while (wi < words.length) {
      val toks = words(wi)
      var i = 0
      while (i < toks.length - 1) {
        add((toks(i), toks(i + 1)), freqs(wi), wi)
        i += 1
      }
      wi += 1
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      var best: (String, String) = null
      var bestC = 0L
      counts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC && best != null && pairCompare(p, best) < 0)) {
          best = p; bestC = c
        }
      }
      if (best == null || bestC < minPairCount) exhausted = true
      else {
        merges += best
        val affected = where.getOrElse(best,
          scala.collection.mutable.ArrayBuffer.empty[Int])
        affected.foreach { iw =>
          val old = words(iw)
          val merged = applyMerge(old, best)
          if (!(merged eq old)) {
            val f = freqs(iw)
            var i = 0
            while (i < old.length - 1) { dec((old(i), old(i + 1)), f); i += 1 }
            i = 0
            while (i < merged.length - 1) {
              add((merged(i), merged(i + 1)), f, iw)
              i += 1
            }
            words(iw) = merged
          }
        }
        where.remove(best)
        counts.remove(best)
        k += 1
      }
    }
    merges.toSeq
  }

  /** One left-to-right non-overlapping pass (REPLACE semantics). */
  private def applyMerge(toks: Array[String], pair: (String, String)): Array[String] = {
    val (l, r) = pair
    val m = l + r
    val out = new Array[String](toks.length)
    var w = 0
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out(w) = m; w += 1; i += 2
      } else {
        out(w) = toks(i); w += 1; i += 1
      }
    }
    if (w == toks.length) toks else java.util.Arrays.copyOf(out, w)
  }

  /** UTF-8 byte-order comparison — matches Spark UTF8String and DuckDB
    * binary collation, unlike String.compareTo (UTF-16 units). */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  private def pairCompare(a: (String, String), b: (String, String)): Int = {
    val c = utf8Compare(a._1, b._1)
    if (c != 0) c else utf8Compare(a._2, b._2)
  }

  /** Token array of `text` under `merges` (compiled and validated
    * here, on the driver). Map-only codegen'd scan — see
    * [[graft.expressions.BpeOps]] for the contract. With `byteLevel`,
    * the GPT-2 byte-level alphabet: pre-tokens start as their UTF-8
    * bytes mapped to printable codepoints (merges then cross
    * multi-byte character boundaries within a pre-token, the GPT-2
    * regime) and the space mark is 'Ġ' (0x20's mapped char). */
  def tokens(text: Column, merges: Seq[(String, String)],
             spaceMark: Boolean = false,
             byteLevel: Boolean = false): Column =
    column(BpeTokens(expression(text), BpeOps.compile(merges, byteLevel), spaceMark))

  /** Real-token count (the exact replacement for the `preTokenCount`
    * proxy; null text stays null). */
  def tokenCount(text: Column, merges: Seq[(String, String)],
                 byteLevel: Boolean = false): Column =
    size(tokens(text, merges, spaceMark = false, byteLevel = byteLevel))

  /** Inverse of [[tokens]] with `spaceMark = true`: space-marked
    * tokens carry their word boundary, so plain concatenation
    * reconstructs the (normalized) input EXACTLY — tokenization is
    * lossless, the invariant probe x59 certifies corpus-wide. */
  def detokenize(toks: Column): Column =
    // concat_ws maps a null array to "" — preserve null so the
    // operator is the exact inverse (tokens(null) is null)
    when(toks.isNull, lit(null).cast("string"))
      .otherwise(concat_ws("", toks))

  /** Byte-level inverse: concatenate space-marked byte-level tokens,
    * then unmap codepoints back to UTF-8 bytes — `detokenizeBytes ∘
    * tokens(byteLevel = true, spaceMark = true)` is the identity on
    * normalized text, including multi-byte characters whose bytes
    * were split across merges. */
  def detokenizeBytes(toks: Column): Column =
    when(toks.isNull, lit(null).cast("string"))
      .otherwise(column(BpeUnmap(expression(concat_ws("", toks)))))

  /** The byte-level base alphabet: all 256 mapped byte chars in UTF-8
    * byte order — fixed, corpus-independent (contrast [[baseChars]]). */
  def byteBase: Seq[String] =
    graft.expressions.BpeOps.ByteToChar.toSeq.sortWith(utf8Compare(_, _) < 0)

  /** Distinct initial codepoints of the corpus pre-tokens, in UTF-8
    * byte order — the vocabulary's base alphabet. Derived from the
    * word-TYPE dictionary (the same bounded structure training uses),
    * so the corpus is touched by one aggregation. */
  def baseChars(docs: DataFrame, textCol: String = "text",
                maxWordTypes: Int = 1 << 20): Seq[String] = {
    val types = docs
      .select(explode(preTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(maxWordTypes)
      .collect().map(_.getString(0))
    types.iterator.flatMap(graft.expressions.BpeOps.initialTokens)
      .toSeq.distinct
      .sortWith(utf8Compare(_, _) < 0)
  }

  /** The full vocabulary in id order: base alphabet first, then each
    * merge's product by rank. Duplicate products (two merges yielding
    * the same string — possible in principle, absent from trained
    * tables) are refused at compile time by [[graft.expressions.BpeVocab]]. */
  def vocab(base: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    base ++ merges.map { case (l, r) => l + r }

  /** Token-ID array of `text` — encode and id-map in one map-only
    * codegen pass. Tokens outside the vocabulary become -1 (UNK);
    * with a vocabulary built by [[baseChars]]+[[vocab]] over the same
    * corpus, no -1 can occur. */
  def tokenIds(text: Column, merges: Seq[(String, String)],
               vocabTokens: Seq[String],
               byteLevel: Boolean = false): Column =
    column(BpeTokenIds(expression(text), BpeOps.compile(merges, byteLevel),
      new BpeVocab(vocabTokens.toArray)))

  /** Ranked merges as a DataFrame (merge_rank, lhs, rhs) — persist as
    * parquet / a catalog table and broadcast-join or re-compile on
    * read; the table is the tokenizer's entire state. */
  def mergesDF(spark: org.apache.spark.sql.SparkSession,
               merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
  }

  /** Read a persisted merges table back into the Seq form `tokens`/
    * `train` exchange. */
  def readMerges(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy("merge_rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Sliding-window chunking budgeted in REAL tokens: fixed-size token
    * windows with `overlap` tokens shared between consecutive chunks —
    * the token twin of [[TextOps.chunkByChars]]. One row per chunk
    * with its index, start-token offset, token count, and the chunk
    * text reassembled from space-marked tokens (ltrim'd, so a chunk
    * starting mid-document drops the word-boundary space). Documents
    * shorter than `size` tokens (including empty/null text) yield
    * exactly one chunk. Map-side explode, no shuffle.
    *
    * Deliberately CHAR-LEVEL tokens only: under the byte-level mode a
    * chunk boundary can land mid-character (an unfused multi-byte
    * char's units split across chunks — exactly how real byte-level
    * LLM context windows behave), and the reassembled `chunk_text`
    * would hold invalid UTF-8. Budgeting by byte-level counts works
    * today (`tokenCount(byteLevel = true)` feeds any budget column);
    * text-reassembling chunking stays on the char-level tokenizer
    * where every token is whole codepoints. */
  def chunkByTokens(docs: DataFrame, merges: Seq[(String, String)],
                    size: Int, overlap: Int = 0,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size: size=$size overlap=$overlap")
    // fail fast on a byte-level-trained table: its merge sides carry
    // shifted mapped-byte codepoints (U+0100–U+0143, e.g. the space
    // mark Ġ) that char-level pre-tokens never produce — compiled
    // char-level those merges silently never fire and chunk budgets
    // diverge from the byte-level token counts
    val shifted = merges.iterator.flatMap(p => p._1 + p._2)
      .find(c => c >= 'Ā' && c <= 'Ń')
    require(shifted.isEmpty,
      s"merge table looks byte-level-trained (contains mapped-byte " +
        s"codepoint U+${shifted.get.toInt.toHexString.toUpperCase}); " +
        "chunkByTokens is char-level only — see the Scaladoc")
    val stride = size - overlap
    val toks = tokens(coalesce(col(textCol), lit("")), merges, spaceMark = true)
    val n = fn.size(col("__toks"))
    val nChunks = (ceil(greatest(n - size, lit(0)).cast("double") / stride)
      .cast("int") + 1)
    docs
      .withColumn("__toks", toks)
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("start_token", col("chunk_idx") * stride)
      .withColumn("__chunk", slice(col("__toks"), col("start_token") + 1, lit(size)))
      .select(col(idCol), col("chunk_idx"), col("start_token"),
        fn.size(col("__chunk")).as("n_tokens"),
        ltrim(concat_ws("", col("__chunk"))).as("chunk_text"))
  }
}

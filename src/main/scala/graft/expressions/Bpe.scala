package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization as a native codegen'd expression —
  * the real-token unit of account for a training-data pipeline (token
  * counting, packing and chunking budget in TOKENS, not the whitespace
  * proxy).
  *
  * Tokenization contract (engine-portable, mirrored verbatim by the
  * DuckDB oracle):
  *  - pre-tokens: the GPT-2-style prelude — letter runs `\p{L}+`,
  *    single numerals `\p{N}`, single marks (same pattern as
  *    `TextOps.preTokenCount`), matched in order. Unicode-category
  *    classes keep "café", Cyrillic and CJK words whole instead of
  *    shattering into per-codepoint pre-tokens, and the whitespace
  *    exclusion is the EXPLICIT class `[\t\n\x0B\f\r ]` rather than
  *    `\s` — Java's `\s` includes U+000B where RE2's does not, so the
  *    explicit class is what makes the Java and DuckDB readings agree
  *    codepoint-for-codepoint (astral letters and Nl/No numerals
  *    included);
  *  - each pre-token starts as its Unicode CODEPOINTS (not UTF-16
  *    units, so non-BMP text tokenizes the same here and in RE2);
  *  - merges apply strictly in RANK ORDER, each rank as ONE
  *    left-to-right non-overlapping pass over the token list (the
  *    merged token does not re-match within its own pass) — exactly
  *    the semantics of a chained string REPLACE, which is what makes
  *    the operator expressible in ANSI SQL. For well-formed merge
  *    tables (each side is a single codepoint or the product of an
  *    earlier merge — every table produced by BPE *training* is), this
  *    equals the classic lowest-rank-first BPE encode;
  *  - merges never cross pre-token boundaries;
  *  - with `spaceMark` set, the first token of every pre-token EXCEPT
  *    the document's first is emitted with a leading space (GPT-2's
  *    "Ġ" convention with a literal space), so concatenating the
  *    token strings reproduces the normalized text exactly — the
  *    property token-budgeted chunking needs.
  */
object BpeOps {

  val PreTokenPattern: String = "\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]"
  private val PreTok = Pattern.compile(PreTokenPattern)

  /** Fresh matcher over the shared compiled prelude pattern (matchers
    * are not thread-safe; the Pattern is) — for sibling kernels that
    * must pre-tokenize with the identical word boundaries. */
  private[expressions] def preTokenMatcher(s: String): java.util.regex.Matcher =
    PreTok.matcher(s)

  /** GPT-2's `bytes_to_unicode` bijection (public formula, Radford et
    * al. 2019 reference code): printable ASCII and the Latin-1
    * printables map to themselves; the remaining 68 byte values map to
    * 256+n in discovery order — so every byte becomes exactly one
    * PRINTABLE codepoint and a byte-level token is an ordinary string.
    * Anchors: 0x20 → 'Ġ' (U+0120), 0x0A → 'Ċ' (U+010A), 'a' → 'a'. */
  val ByteToChar: Array[String] = {
    val keep = (33 to 126) ++ (161 to 172) ++ (174 to 255)
    val kept = keep.toSet
    val out = new Array[String](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (kept(b)) out(b) = new String(Character.toChars(b))
      else { out(b) = new String(Character.toChars(256 + n)); n += 1 }
    }
    out
  }
  /** Inverse of [[ByteToChar]] as a flat array indexed by codepoint
    * (max mapped codepoint is 256+67 = 323): [[unmap]] runs per row
    * inside codegen, where an array index beats a boxed map probe.
    * -1 marks codepoints outside the alphabet. */
  val CharToByte: Array[Int] = {
    val out = Array.fill(324)(-1)
    ByteToChar.zipWithIndex.foreach { case (s, b) => out(s.codePointAt(0)) = b }
    out
  }

  /** The byte-level space mark: 0x20's mapped char ('Ġ'). */
  val ByteSpaceMark: String = ByteToChar(0x20)

  /** A word as byte-mapped chars — the byte-level encode starting
    * state (the word's UTF-8 bytes, each as its mapped codepoint). */
  def byteInit(word: String): Array[String] = {
    val bytes = word.getBytes(UTF_8)
    Array.tabulate(bytes.length)(i => ByteToChar(bytes(i) & 0xff))
  }

  /** Inverse of the byte-level token stream: mapped chars → bytes →
    * UTF-8 text. Codepoints outside the mapped alphabet are damage
    * (impossible for kernel-produced tokens) and yield NULL — the
    * same null-on-damage stance as the media decoders, so one
    * corrupted row nulls out instead of aborting a 100 TB decode
    * job. Kernel-internal misuse still surfaces: a pipeline whose
    * unmaps all come back null is loudly broken in its output. */
  def unmap(text: UTF8String): UTF8String = {
    val s = text.toString
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val b = if (cp < CharToByte.length) CharToByte(cp) else -1
      if (b < 0) return null
      out.write(b)
      i += Character.charCount(cp)
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  /** A compiled, validated merge table. Serializable — rides to
    * executors inside the expression like a literal. ~10k merges is
    * ~100 KB; the per-thread encoded-word cache is rebuilt lazily on
    * each executor. */
  final class BpeTable(val lhs: Array[String], val rhs: Array[String],
                       val byteLevel: Boolean = false)
      extends Serializable {
    require(lhs.length == rhs.length,
      s"merge table sides differ: ${lhs.length} vs ${rhs.length}")

    def numMerges: Int = lhs.length

    @transient lazy val merged: Array[String] =
      Array.tabulate(lhs.length)(i => lhs(i) + rhs(i))

    /** pair "l\u0000r" → rank (0-based). */
    @transient lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](lhs.length * 2)
      var i = 0
      while (i < lhs.length) {
        // first occurrence wins: a duplicate pair at a later rank can
        // never fire (the earlier pass already consumed it)
        m.putIfAbsent(lhs(i) + "\u0000" + rhs(i), Integer.valueOf(i))
        i += 1
      }
      m
    }

    /** Per-thread cache of encoded words (word types repeat massively
      * in natural text). Bounded; cleared wholesale on overflow. */
    @transient private lazy val wordCache =
      new ThreadLocal[java.util.HashMap[String, Array[String]]] {
        override def initialValue() = new java.util.HashMap[String, Array[String]]()
      }
    private[expressions] def cached(word: String): Array[String] = {
      val c = wordCache.get()
      var toks = c.get(word)
      if (toks == null) {
        toks = BpeOps.encodeWord(word, this)
        if (c.size() >= 65536) c.clear()
        c.put(word, toks)
      }
      toks
    }
  }

  /** Validate + compile a merge list. Rejects non-well-formed tables
    * loudly: a side longer than one codepoint that no earlier merge
    * produces could make the rank-order contract diverge from classic
    * BPE, so it is refused rather than silently tolerated. */
  def compile(merges: Seq[(String, String)],
              byteLevel: Boolean = false): BpeTable = {
    val produced = scala.collection.mutable.HashSet.empty[String]
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      def ok(s: String): Boolean =
        s.nonEmpty && (s.codePointCount(0, s.length) == 1 || produced.contains(s))
      require(ok(l) && ok(r),
        s"merge table is not well-formed at rank ${i + 1}: ($l, $r) — " +
          "each side must be a single codepoint or the product of an earlier merge")
      produced += l + r
    }
    new BpeTable(merges.map(_._1).toArray, merges.map(_._2).toArray, byteLevel)
  }

  /** A word as its Unicode codepoints (the encode starting state —
    * also the trainer's initial token list). */
  def initialTokens(word: String): Array[String] = {
    val n = word.codePointCount(0, word.length)
    val out = new Array[String](n)
    var i = 0
    var k = 0
    while (i < word.length) {
      val cc = Character.charCount(word.codePointAt(i))
      out(k) = word.substring(i, i + cc)
      k += 1
      i += cc
    }
    out
  }

  /** Encode one pre-token under the rank-order contract: repeatedly
    * find the lowest merge rank strictly above the last applied rank
    * that is present among adjacent pairs, and run that rank's single
    * left-to-right pass. Words are short (a pre-token is one letter
    * run / digit / mark), so the rescan loop is O(len²) with len ≈
    * 5–15 — cheaper than any index structure at this size. */
  private[expressions] def encodeWord(word: String, table: BpeTable): Array[String] = {
    var toks = if (table.byteLevel) byteInit(word) else initialTokens(word)
    if (toks.length < 2 || table.numMerges == 0) return toks
    val ranks = table.rank
    var progress = -1
    var continue = true
    while (continue && toks.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.get(toks(i) + "\u0000" + toks(i + 1))
        if (r != null && r.intValue() > progress && r.intValue() < best)
          best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        val l = table.lhs(best)
        val rr = table.rhs(best)
        val m = table.merged(best)
        val out = new Array[String](toks.length)
        var w = 0
        var j = 0
        while (j < toks.length) {
          if (j + 1 < toks.length && toks(j) == l && toks(j + 1) == rr) {
            out(w) = m; w += 1; j += 2
          } else {
            out(w) = toks(j); w += 1; j += 1
          }
        }
        toks = java.util.Arrays.copyOf(out, w)
        progress = best
      }
    }
    toks
  }

  /** Encode straight to vocabulary ids (no marked-string
    * materialization): same pre-tokenization and merge contract as
    * [[encode]]; unknown tokens → -1. */
  def encodeIds(text: UTF8String, table: BpeTable, vocab: BpeVocab): ArrayData = {
    val s = text.toString
    val m = PreTok.matcher(s)
    val out = new java.util.ArrayList[Integer](s.length / 4 + 4)
    while (m.find()) {
      val toks = table.cached(m.group())
      var i = 0
      while (i < toks.length) {
        val id = vocab.ids.get(toks(i))
        out.add(if (id == null) Integer.valueOf(-1) else id)
        i += 1
      }
    }
    val arr = new Array[Int](out.size())
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i).intValue(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Tokenize a document: pre-tokenize, BPE-encode each pre-token
    * (cached per word type), optionally space-mark.
    *
    * Space marking: the first token of a pre-token gets a leading
    * space IFF the character immediately before the pre-token is a
    * space — adjacent pre-tokens ("don", "'", "t") stay unmarked, so
    * concatenating the token strings reproduces the input EXACTLY
    * when the input is single-space-separated (i.e. post-
    * `TextOps.normalizeText`). */
  def encode(text: UTF8String, table: BpeTable, spaceMark: Boolean): ArrayData = {
    val s = text.toString
    val m = PreTok.matcher(s)
    val markStr = if (table.byteLevel) ByteSpaceMark else " "
    val out = new java.util.ArrayList[UTF8String](s.length / 4 + 4)
    while (m.find()) {
      val mark = spaceMark && m.start() > 0 && s.charAt(m.start() - 1) == ' '
      val toks = table.cached(m.group())
      var i = 0
      while (i < toks.length) {
        val marked = if (mark && i == 0) markStr + toks(i) else toks(i)
        out.add(UTF8String.fromBytes(marked.getBytes(UTF_8)))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** A vocabulary: token strings in id order (id = array index).
  * Serializable like BpeTable; the id map is rebuilt lazily per
  * executor. Duplicate token strings are refused — an ambiguous
  * vocabulary would make id lookup ill-defined. */
final class BpeVocab(val tokens: Array[String]) extends Serializable {
  @transient lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](tokens.length * 2)
    var i = 0
    while (i < tokens.length) {
      require(m.put(tokens(i), Integer.valueOf(i)) == null,
        s"duplicate token '${tokens(i)}' in vocabulary")
      i += 1
    }
    m
  }
  def size: Int = tokens.length
}

/** `Bpe.tokens(text, merges, spaceMark)` →
  * array<string>. Map-only, codegen'd; the compiled table rides as a
  * generated-class reference object. */
case class BpeTokens(child: Expression, table: BpeOps.BpeTable,
                     spaceMark: Boolean) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens expects a string input, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    BpeOps.encode(input.asInstanceOf[UTF8String], table, spaceMark)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeTable", table,
      "graft.expressions.BpeOps.BpeTable")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.BpeOps$$.MODULE$$.encode($c, $t, $spaceMark)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}

/** `Bpe.tokenIds(text, merges, vocab)` →
  * array<int>: encode and map to vocabulary ids in one pass — the
  * interchange form a training-data pipeline actually ships. Tokens
  * absent from the vocabulary map to -1 (UNK marker; happens only
  * when the vocabulary was built over a different corpus than the
  * text being encoded). */
case class BpeTokenIds(child: Expression, table: BpeOps.BpeTable,
                       vocab: BpeVocab) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_token_ids expects a string input, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    BpeOps.encodeIds(input.asInstanceOf[UTF8String], table, vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeTable", table,
      "graft.expressions.BpeOps.BpeTable")
    val v = ctx.addReferenceObj("bpeVocab", vocab,
      "graft.expressions.BpeVocab")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.BpeOps$$.MODULE$$.encodeIds($c, $t, $v)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenIds =
    copy(child = newChild)
}

/** bpe_unmap(text) → text: invert the GPT-2 byte-level mapping —
  * mapped codepoints back to bytes, reassembled as UTF-8. With
  * byte-level space-marked tokens, `bpe_unmap(concat(tokens))`
  * reproduces the normalized input exactly (the byte-level lossless
  * round trip). Out-of-alphabet codepoints (damaged input) yield
  * null, matching the media decoders' stance. Map-only codegen. */
case class BpeUnmap(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_unmap expects a string input, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(input: Any): Any =
    BpeOps.unmap(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.BpeOps$$.MODULE$$.unmap($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): BpeUnmap =
    copy(child = newChild)
}

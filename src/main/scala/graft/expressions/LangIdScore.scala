package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The MAP-ONLY langid scorer (the x75 `importanceWeightsMapOnly`
  * pattern, applied to the multiclass NB head of
  * [[graft.operators.LangId]]).
  *
  * The trained model is bounded at numBuckets·L log-likelihood doubles
  * plus L priors — broadcastable at any corpus size — so scoring does
  * not need the terms×L model JOIN of the reference path: it is ONE
  * projection evaluating this kernel over each document's NORMALIZED
  * text (normalization stays the certified Spark expression chain).
  *
  * The kernel owns trigram extraction and the salted-md5 bucket hash,
  * NOT per-gram Spark expressions: the expression-chain formulation
  * (md5 → hex string → substring → conv → cast per gram) measured
  * 3.7 µs/gram — 5.4 s for the sf0.1 corpus on its single-row-group
  * scan — where a thread-local digest over the UTF-8 byte window
  * (the x40 CountMin fix, bit-identical by construction: the first 7
  * hex digits of md5 ARE the top 28 bits of its first 4 bytes) pays
  * ~0.2 µs. Windows are CODEPOINT-aligned byte slices, matching
  * Spark `substr` semantics on UTF8String.
  *
  * Per-language score = round6(prior + Σ_f m_f · llr_lang(f)) with
  * the multiplicity sum over DISTINCT features in ascending feature
  * order (deterministic; the join path's shuffle order differs, and
  * round-6 is the established absorber — the same policy that
  * certifies the join path against DuckDB's own sum order); argmax
  * ties resolve to the binary-larger language code, `max(struct)`'s
  * rule. Fewer than n codepoints → (null, null, 0).
  */
object LangIdScoreOps {

  /** Dense per-language model: `llr(l)(f)` = ln((c(f,l)+k)/(t_l+k·D))
    * over ALL f (unseen buckets hold the smoothing floor), `priors(l)`
    * = ln(n_docs_l / Σ n_docs). `langs` sorted ascending. */
  final case class Model(langs: Array[String], priors: Array[Double],
                         llr: Array[Array[Double]]) extends Serializable {
    require(langs.length == priors.length && langs.length == llr.length)
    require(llr.nonEmpty && llr.forall(_.length == llr.head.length),
      "ragged llr table")
    /** The training bucket count — scoring MUST hash mod this. */
    def numBuckets: Int = llr.head.length
    // UTF8String byte order = Spark's string comparison in max(struct)
    @transient lazy val langsU8: Array[UTF8String] =
      langs.map(UTF8String.fromString)
  }

  private val SaltBytes = "lid_".getBytes("UTF-8")
  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Trigram-hash + score one normalized document. `numBuckets` must
    * match the model's training bucketing. */
  def scoreNormText(norm: UTF8String, n: Int, numBuckets: Int,
                    model: Model): InternalRow = {
    val bytes = norm.getBytes
    // codepoint start offsets (UTF-8 lead-byte scan) + end sentinel
    var cp = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) cp += 1
      i += 1
    }
    if (cp < n) return InternalRow(null, null, 0L)
    val offs = new Array[Int](cp + 1)
    var k = 0
    i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(k) = i; k += 1 }
      i += 1
    }
    offs(k) = bytes.length
    val nGrams = cp - (n - 1)
    val fs = new Array[Long](nGrams)
    val md = digests.get()
    val out = new Array[Byte](16)
    var g = 0
    while (g < nGrams) {
      md.reset()
      md.update(SaltBytes)
      md.update(bytes, offs(g), offs(g + n) - offs(g))
      md.digest(out, 0, 16)
      // first 7 hex digits of the md5 = top 28 bits of bytes 0..3 —
      // identical to conv(substring(md5_hex, 1, 7), 16, 10)
      fs(g) = ((((out(0) & 0xFFL) << 20) | ((out(1) & 0xFFL) << 12) |
        ((out(2) & 0xFFL) << 4) | ((out(3) & 0xFFL) >>> 4))
        % numBuckets)
      g += 1
    }
    scoreFeatures(fs, model)
  }

  private def scoreFeatures(fs: Array[Long], model: Model): InternalRow = {
    val n = fs.length
    java.util.Arrays.sort(fs)
    val L = model.langs.length
    var bestIdx = -1
    var bestScore = 0.0
    var l = 0
    while (l < L) {
      val tab = model.llr(l)
      // Σ over distinct features ascending of m · llr — runs of the
      // sorted array give the multiplicities without a hash map
      var ll = 0.0
      var j = 0
      while (j < n) {
        val f = fs(j)
        var m = 1
        while (j + m < n && fs(j + m) == f) m += 1
        ll += m * tab(f.toInt)
        j += m
      }
      val s = graft.operators.EmbeddingOps.round6(model.priors(l) + ll)
      if (bestIdx < 0 || s > bestScore ||
        (s == bestScore &&
          model.langsU8(l).compareTo(model.langsU8(bestIdx)) > 0)) {
        bestIdx = l; bestScore = s
      }
      l += 1
    }
    InternalRow(model.langsU8(bestIdx), bestScore, n.toLong)
  }
}

/** `LangId.predictMapOnly`'s kernel over normalized text →
  * struct<lang_pred, lid_score, n_grams>. */
case class LangIdScoreText(child: Expression, model: LangIdScoreOps.Model,
                           n: Int, numBuckets: Int)
    extends UnaryExpression {
  require(n >= 1 && numBuckets >= 1)
  require(model.numBuckets == numBuckets,
    s"model trained with ${model.numBuckets} buckets, scoring with " +
      s"$numBuckets — silently-wrong buckets (or an out-of-range " +
      "lookup); pass the training numBuckets")
  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = true),
    StructField("lid_score", DoubleType, nullable = true),
    StructField("n_grams", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"langid_score_text expects a string input, got ${t.simpleString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    LangIdScoreOps.scoreNormText(input.asInstanceOf[UTF8String], n,
      numBuckets, model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("lidModel", model,
      "graft.expressions.LangIdScoreOps.Model")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.LangIdScoreOps$$.MODULE$$.scoreNormText($c, $n, $numBuckets, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdScoreText =
    copy(child = newChild)
}

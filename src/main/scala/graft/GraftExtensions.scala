package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType}

/** SparkSessionExtensions wiring: the engine's domain functions as
  * first-class SQL functions, composed from NATIVE Catalyst
  * expressions (Sin/Cos/Pow/CaseWhen/...), so
  * `spark.sql("SELECT haversine_km(...)")` plans exactly like the
  * DataFrame helpers — whole-stage codegen, constant folding, no UDF.
  *
  * Usage:
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * or spark.sql.extensions=graft.GraftExtensions, or
  * `GraftExtensions.register(spark)` on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, arity, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name),
        (exprs: Seq[Expression]) => checked(name, arity, builder, exprs)))
    }
}

object GraftExtensions {

  private def checked(name: String, arity: Int,
                      builder: Seq[Expression] => Expression,
                      exprs: Seq[Expression]): Expression = {
    require(exprs.length == arity,
      s"$name expects $arity arguments, got ${exprs.length}")
    builder(exprs)
  }

  private def d(v: Double): Expression = Literal(v)
  private def litInt(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, _: IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int parameter, got $other")
  }
  private def litString(fn: String, e: Expression): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _: StringType) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string parameter, got $other")
  }
  private def plus(es: Expression*): Expression = es.reduceLeft(Add(_, _))
  private def times(es: Expression*): Expression = es.reduceLeft(Multiply(_, _))

  /** Great-circle km — same formula as GeoFunctions.haversineKm. */
  private def haversine(lat1: Expression, lon1: Expression,
                        lat2: Expression, lon2: Expression): Expression = {
    val dLat = Divide(ToRadians(Subtract(lat2, lat1)), d(2))
    val dLon = Divide(ToRadians(Subtract(lon2, lon1)), d(2))
    val a = plus(
      Pow(Sin(dLat), d(2)),
      times(Cos(ToRadians(lat1)), Cos(ToRadians(lat2)), Pow(Sin(dLon), d(2))))
    Multiply(d(2 * GeoFunctionsRadius), Asin(Sqrt(a)))
  }
  private val GeoFunctionsRadius = graft.functions.GeoFunctions.EarthRadiusKm

  private def caseWhen(branches: Seq[(Expression, Expression)],
                       otherwise: Expression): Expression =
    CaseWhen(branches, Some(otherwise))

  /** (name, arity, catalyst builder). */
  val functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(

    ("haversine_km", 4, { case Seq(a, b, c, e) => haversine(a, b, c, e) }),

    ("flat_earth_km", 4, { case Seq(lat1, lon1, lat2, lon2) =>
      Multiply(Sqrt(plus(
        Pow(Subtract(lat2, lat1), d(2)), Pow(Subtract(lon2, lon1), d(2)))), d(111.0)) }),

    ("normalize_lon", 2, { case Seq(lon, center) =>
      // ((lon - center + 180) % 360 + 360) % 360 - 180 + center
      Add(Subtract(Remainder(Add(Remainder(
        Add(Subtract(lon, center), d(180)), d(360)), d(360)), d(360)), d(180)), center) }),

    ("pagasa_category", 1, { case Seq(kph) =>
      caseWhen(Seq(
        LessThan(kph, d(62)) -> Literal("TD"),
        LessThan(kph, d(88)) -> Literal("TS"),
        LessThan(kph, d(117)) -> Literal("STS"),
        LessThan(kph, d(185)) -> Literal("TY")), Literal("STY")) }),

    ("saffir_simpson", 1, { case Seq(ms) =>
      caseWhen(Seq(
        LessThan(ms, d(18)) -> Literal(-1),
        LessThan(ms, d(33)) -> Literal(0),
        LessThan(ms, d(43)) -> Literal(1),
        LessThan(ms, d(50)) -> Literal(2),
        LessThan(ms, d(59)) -> Literal(3),
        LessThan(ms, d(71)) -> Literal(4)), Literal(5)) }),

    ("estimate_rmw_nm", 1, { case Seq(pcen) =>
      val knots  = graft.functions.ScalarFunctions.RmwKnots
      val values = graft.functions.ScalarFunctions.RmwValues
      knots.indices.map[Expression] { i =>
        val s0 = if (i > 0) 1.0 / (knots(i) - knots(i - 1)) else 0.0
        val s1 = if (i + 1 < knots.length) 1.0 / (knots(i + 1) - knots(i)) else 0.0
        Multiply(d(values(i)), Greatest(Seq(d(0.0),
          Subtract(Subtract(d(1.0),
            Multiply(d(s0), Greatest(Seq(d(0.0), Subtract(d(knots(i)), pcen))))),
            Multiply(d(s1), Greatest(Seq(d(0.0), Subtract(pcen, d(knots(i))))))))))
      }.reduceLeft(Add(_, _)) }),

    ("affected_population", 1, { case Seq(x) =>
      caseWhen(Seq(
        IsNull(x) -> Literal.create(null, LongType),
        LessThan(x, d(1)) -> Literal(0L)),
        Cast(Floor(Multiply(Exp(d(6.80943612231606)),
          Pow(x, d(0.46982114400549513)))), LongType)) }),

    ("holland_b", 6, { case Seq(v, penv, pcen, prev, lat, tstep) =>
      val pd = Subtract(penv, pcen)
      val holXX = Multiply(d(0.6), Subtract(d(1.0), Divide(pd, d(215))))
      val raw = plus(
        times(d(-4.4e-5), pd, pd),
        Multiply(d(0.01), pd),
        Divide(Multiply(d(0.03), Subtract(pcen, prev)), tstep),
        UnaryMinus(Multiply(d(0.014), Abs(lat))),
        Multiply(d(0.15), Pow(v, holXX)),
        d(1.0))
      Least(Seq(Greatest(Seq(raw, d(1.0))), d(2.5))) }),

    ("graft_dot_product", 2, { case Seq(a, b) =>
      graft.expressions.DotProduct(a, b) }),

    // bloom_might_contain(filter-literal, hash): map-only membership
    // prefilter against a broadcast-able serialized BloomFilter.
    ("bloom_might_contain", 2, { case Seq(
        Literal(bytes: Array[Byte], BinaryType), v) =>
      graft.expressions.BloomMightContain(v, bytes) }),

    // One-pass text-dedup kernels (graft.expressions.MinHashOps). The
    // int parameters must be literals: they pick generated-code
    // constants, not per-row values.
    ("minhash_signature", 3, { case Seq(t, n, p) =>
      graft.expressions.MinHashSignature(t, litInt("minhash_signature", n),
        litInt("minhash_signature", p)) }),
    ("shingle_hashes", 2, { case Seq(t, n) =>
      graft.expressions.ShingleHashes(t, litInt("shingle_hashes", n)) }),
    ("sorted_intersect_count", 2, { case Seq(a, b) =>
      graft.expressions.SortedIntersectCount(a, b) }),
    ("winnowing_fps", 3, { case Seq(t, k, w) =>
      graft.expressions.WinnowingFps(t, litInt("winnowing_fps", k),
        litInt("winnowing_fps", w)) }),
    ("span_gram_hashes", 3, { case Seq(t, k, s) =>
      graft.expressions.SpanGramHashes(t, litInt("span_gram_hashes", k),
        litString("span_gram_hashes", s)) }),
    ("word_counts", 1, { case Seq(t) =>
      graft.expressions.WordCounts(t) }),
    ("rolling_fingerprint", 1, { case Seq(t) =>
      graft.expressions.RollingFingerprint(t,
        graft.operators.TextOps.FingerprintMod) }),
    ("pii_scan", 1, { case Seq(t) =>
      graft.expressions.PiiScan(t) }),
    // char_entropy(text): one-pass codepoint-distribution signals —
    // struct<entropy, top_char_frac, n_distinct_chars, n_chars> (see
    // CharEntropyOps).
    ("char_entropy", 1, { case Seq(t) =>
      graft.expressions.CharEntropy(t) }),
    // unicode_normalize(text, 'NFC'|'NFD'|'NFKC'|'NFKD'): the form is a
    // plan-time constant (selects the generated code path).
    ("unicode_normalize", 2, { case Seq(t,
        Literal(f: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.UnicodeNormalize(t, f.toString) }),
    // lower_cp(text): per-codepoint locale-free lowercase — the
    // engine-portable lowering (Spark's lower is context-sensitive
    // and default-locale off the ASCII path; see LowerCodepointOps).
    ("lower_cp", 1, { case Seq(t) =>
      graft.expressions.LowerCodepoint(t) }),
    // nearest_value(v, values-literal, keys-literal): J9 nearest lookup
    // as a map-only binary search over a broadcast value table.
    ("nearest_value", 3, { case Seq(v,
        Literal(vs: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(DoubleType, _)),
        Literal(ks: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(LongType, _))) =>
      graft.expressions.NearestValue(v, vs.toDoubleArray(), ks.toLongArray()) }),

    // pq_adc(vec, cb-literal, qt-literal, m, ksub, dsub): fused PQ
    // encode + asymmetric-distance score (see PqAdcScore).
    ("pq_adc", 6, { case Seq(v,
        Literal(cbA: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(DoubleType, _)),
        Literal(qtA: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(DoubleType, _)),
        mE, ksubE, dsubE) =>
      graft.expressions.PqAdcScore(v, cbA.toDoubleArray(), qtA.toDoubleArray(),
        litInt("pq_adc", mE), litInt("pq_adc", ksubE), litInt("pq_adc", dsubE)) }),

    // pq_qt(vec, cb-literal, m, ksub, dsub): per-QUERY ADC lookup
    // table as one map-only codegen pass (see PqQueryTable) — the
    // batch-ANN-join sibling of pq_adc.
    ("pq_qt", 5, { case Seq(v,
        Literal(cbA: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(DoubleType, _)),
        mE, ksubE, dsubE) =>
      graft.expressions.PqQueryTable(v, cbA.toDoubleArray(),
        litInt("pq_qt", mE), litInt("pq_qt", ksubE), litInt("pq_qt", dsubE)) }),

    // pq_codes_adc(codes, qt, ksub): ADC-score packed codes against a
    // per-row query table column (see PqCodesAdc).
    ("pq_codes_adc", 3, { case Seq(c, q, ksubE) =>
      graft.expressions.PqCodesAdc(c, q, litInt("pq_codes_adc", ksubE)) }),

    // int8_cosine(codes_a, codes_b): exact integer cosine over int8
    // code arrays in ONE codegen pass (see Int8Cosine) — the batch
    // ANN join's scoring kernel.
    ("int8_cosine", 2, { case Seq(a, b) =>
      graft.expressions.Int8Cosine(a, b) }),

    // top_k_struct(row-struct, k-literal, first-desc-literal): bounded
    // per-group top-k as a partial-aggregable heap (see TopKStruct) —
    // the scalable replacement for per-key row_number windows.
    ("top_k_struct", 3, { case Seq(c, kE, Literal(d: Boolean, BooleanType)) =>
      graft.expressions.TopKStruct(c, litInt("top_k_struct", kE), d) }),

    // bpe_tokens(text, table-key-literal, space-mark-literal): real BPE
    // tokenization under a registered compiled merge table (the table
    // itself is serialized into the expression — see BpeOps).
    ("bpe_tokens", 3, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType),
        Literal(b: Boolean, BooleanType)) =>
      graft.expressions.BpeTokens(t, graft.expressions.BpeOps.resolve(k.toString), b) }),

    // bpe_token_ids(text, table-key-literal, vocab-key-literal):
    // encode + vocabulary-id mapping in one pass (UNK → -1).
    ("bpe_token_ids", 3, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType),
        Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.BpeTokenIds(t, graft.expressions.BpeOps.resolve(k.toString),
        graft.expressions.BpeVocab.resolve(v.toString)) }),

    // unigram_tokens(text, model-key-literal): unigram-LM Viterbi
    // segmentation under a registered trained model (UnigramLm).
    ("unigram_tokens", 2, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.UnigramTokens(t,
        graft.expressions.UnigramOps.resolve(k.toString)) }),

    // unigram_token_ids(text, model-key-literal): segment + map to
    // sorted-vocabulary ids in one pass (UNK → -1).
    ("unigram_token_ids", 2, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.UnigramTokenIds(t,
        graft.expressions.UnigramOps.resolve(k.toString)) }),

    // wordpiece_tokens(text, model-key-literal): BERT-style greedy
    // longest-match segmentation under a registered WordPiece vocab.
    ("wordpiece_tokens", 2, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.WordpieceTokens(t,
        graft.expressions.WordpieceOps.resolve(k.toString)) }),

    // wordpiece_token_ids(text, model-key-literal): segment + map to
    // sorted-vocabulary ids in one pass ([UNK] is a vocab entry).
    ("wordpiece_token_ids", 2, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.WordpieceTokenIds(t,
        graft.expressions.WordpieceOps.resolve(k.toString)) }),

    // regexp_like_cached(str, pattern): regexp_like for non-literal
    // patterns with a per-JVM compile cache (joined-column patterns
    // recompile per row in stock Spark — see RegexCachedOps).
    ("regexp_like_cached", 2, { case Seq(s, p) =>
      graft.expressions.RegexpLikeCached(s, p) }),

    // robots_glob_match(path, pattern): linear-time RFC 9309 robots
    // wildcard match — no backtracking engine on untrusted patterns
    // (see GlobMatchOps).
    ("robots_glob_match", 2, { case Seq(s, p) =>
      graft.expressions.RobotsGlobMatch(s, p) }),

    // langid_score_text(norm_text, model-key-literal, n, numBuckets):
    // map-only multiclass NB language-ID scoring against a registered
    // broadcast model — trigram extraction + salted-md5 bucketing +
    // per-language fold in ONE kernel call (see LangIdScoreOps) —
    // struct<lang_pred, lid_score, n_grams>.
    ("langid_score_text", 4, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType),
        nE, bE) =>
      graft.expressions.LangIdScoreText(t,
        graft.expressions.LangIdScoreOps.resolve(k.toString),
        litInt("langid_score_text", nE),
        litInt("langid_score_text", bE)) }),

    // keyword_counts(text, automaton-key-literal): one-pass
    // Aho-Corasick multi-pattern occurrence counts (all occurrences,
    // overlapping included), array<int> in pattern-declaration order.
    ("keyword_counts", 2, { case Seq(t,
        Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.KeywordCounts(t,
        graft.expressions.AhoCorasickOps.resolve(k.toString)) }),

    // bpe_unmap(text): invert the GPT-2 byte-level mapping (mapped
    // codepoints → bytes → UTF-8) — the byte-level detokenize tail.
    ("bpe_unmap", 1, { case Seq(t) => graft.expressions.BpeUnmap(t) }),

    // xgb_score(features, path-literal): scores the reference's
    // operational xgboost artifact (parsed from its RDS) in codegen.
    // A "<mem:…>" tag instead of a path resolves a freshly-trained
    // in-memory booster (GbtTrainer) through XgbScore's registry.
    ("xgb_score", 2, { case Seq(f, Literal(p: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.XgbScore.resolve(f, p.toString) }),

    ("holland_wind", 6, { case Seq(dist, rmax, b, penv, pcen, lat) =>
      val fCor = Multiply(d(2 * 0.0000729), Sin(ToRadians(Abs(lat))))
      val rCor = times(d(500.0), dist, fCor)
      val rMaxNorm = Pow(Divide(rmax, dist), b)
      val term = plus(
        times(Divide(Multiply(d(100.0), b), d(1.15)), rMaxNorm,
          Subtract(penv, pcen), Exp(UnaryMinus(rMaxNorm))),
        Multiply(rCor, rCor))
      Subtract(Sqrt(Greatest(Seq(d(0.0), term))), rCor) }),
  )

  /** Register on an already-built session (tests, notebooks). Only the
    * names the session's registry does not already hold are added, so a
    * second call (or a session built with the extension) keeps the
    * existing builders and logs no "replaced a previously registered
    * function" warnings. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, arity, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(
          name, exprs => checked(name, arity, builder, exprs), "scala_udf")
    }
  }
}

package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType}

import graft.functions.{GeoFunctions, ScalarFunctions}
import graft.hazard.Windfield

/** SparkSessionExtensions wiring: the engine's SQL surface. The domain
  * functions are their DataFrame helpers' expressions, so
  * `spark.sql("SELECT haversine_km(...)")` plans exactly like
  * `GeoFunctions.haversineKm` — whole-stage codegen, constant folding,
  * no UDF. The kernels take their parameters as literals. The DataFrame
  * helpers build these expressions directly and need no registration.
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

  /** A domain function: its Column helper over the call's arguments, so
    * SQL and the DataFrame API share one formula. */
  private def domain(name: String, arity: Int)(
      f: Seq[Column] => Column): (String, Int, Seq[Expression] => Expression) =
    (name, arity, args => expression(f(args.map(column))))

  /** (name, arity, catalyst builder). */
  val functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    domain("haversine_km", 4) { case Seq(a, b, c, e) => GeoFunctions.haversineKm(a, b, c, e) },
    domain("flat_earth_km", 4) { case Seq(a, b, c, e) => GeoFunctions.flatEarthKm(a, b, c, e) },
    domain("normalize_lon", 2) { case Seq(lon, center) => GeoFunctions.normalizeLon(lon, center) },
    domain("pagasa_category", 1) { case Seq(kph) => ScalarFunctions.pagasaCategory(kph) },
    domain("saffir_simpson", 1) { case Seq(ms) => ScalarFunctions.saffirSimpson(ms) },
    domain("estimate_rmw_nm", 1) { case Seq(pcen) => ScalarFunctions.estimateRmwNm(pcen) },
    domain("affected_population", 1) { case Seq(x) => ScalarFunctions.affectedPopulation(x) },
    domain("holland_b", 6) { case Seq(v, penv, pcen, prev, lat, tstep) =>
      Windfield.holB(v, penv, pcen, prev, lat, tstep) },
    domain("holland_wind", 6) { case Seq(dist, rmax, b, penv, pcen, lat) =>
      Windfield.statHolland(dist, rmax, b, penv, pcen, lat) },

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

    // bpe_unmap(text): invert the GPT-2 byte-level mapping (mapped
    // codepoints → bytes → UTF-8) — the byte-level detokenize tail.
    ("bpe_unmap", 1, { case Seq(t) => graft.expressions.BpeUnmap(t) }),

    // xgb_score(features, path-literal): scores the reference's
    // operational xgboost artifact (parsed from its RDS) in codegen.
    ("xgb_score", 2, { case Seq(f, Literal(p: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      graft.expressions.XgbScore(f, graft.impact.XgbBooster.load(p.toString)) }),
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

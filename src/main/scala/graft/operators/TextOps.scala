package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.{AhoCorasickOps, CharEntropy, KeywordCounts, LowerCodepoint, RollingFingerprint, SpanGramHashes, UnicodeNormalize, WinnowingFps}
import graft.util.Stage

/** Text analysis for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  * All pure column expressions (codegen'd, no UDFs) so they run at
  * full scan speed over a 100 TB documents table.
  */
object TextOps {

  /** Evaluate `c` ONCE per row and pass it to `f` as a lambda
    * variable. Subtrees captured inside higher-order-function lambdas
    * are re-evaluated PER ELEMENT (common-subexpression elimination
    * does not reach into lambda bodies), so an O(len) array expression
    * referenced inside a `transform` turns the projection O(len²) —
    * measured as x04's 74s wall (a regex normalize re-run per
    * CHARACTER) and a 14× tokenization slowdown in termArray. Binding
    * through a 1-element transform makes every reference a slot read. */
  private[graft] def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Word n-grams of `text` (fewer than `n` words: the whole run as one
    * gram). The words bind once ([[bindOnce]]): captured inline, the
    * slice lambda re-split the text per gram, O(tokens²). */
  private[graft] def wordNgrams(text: Column, n: Int): Column =
    bindOnce(split(trim(text), "\\s+")) { words =>
      when(size(words) < n, array(concat_ws(" ", words)))
        .otherwise(transform(
          sequence(lit(0), size(words) - n),
          i => concat_ws(" ", slice(words, i + 1, lit(n)))))
    }

  /** Canonical text normalization for dedup/cleaning pipelines:
    * strip control characters, collapse runs of whitespace to single
    * spaces, trim, lowercase. Idempotent. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1F\\x7F]", " "),
      "\\s+", " ")))

  /** AGGRESSIVE dedup normalization — the FineWeb/Gopher minhash-prep
    * recipe: near-duplicates that differ only in case, accents,
    * punctuation, digits, or whitespace must collide, so the
    * signature input is canonicalized hard BEFORE shingling:
    * NFD-decompose and strip combining marks (é→e, ñ→n; DuckDB's
    * `strip_accents` computes the same for decomposable chars),
    * lowercase, map every decimal digit to 0 (versions/dates/ids
    * never distinguish near-dups), replace everything that is not a
    * letter/number/whitespace with a space, collapse whitespace.
    * Pure column expressions in the engine-portable Java∩RE2 subset
    * (probe x106); feed the result to `minhash_signature`/
    * `shingle_hashes` unchanged. NOT for display text — that is
    * [[normalizeText]]'s job. */
  def dedupNormalize(text: Column): Column = {
    // \p{M} (ALL mark categories), not \p{Mn}: DuckDB's strip_accents
    // (utf8proc STRIPMARK) also removes spacing/enclosing marks —
    // Indic vowel signs are Mc, and leaving them here would turn them
    // into spaces where the oracle deletes them. lower_cp, not lower:
    // Spark's lower is context-sensitive + default-locale off ASCII
    // (Greek final sigma, Turkish dotless i) where the oracle lowers
    // per codepoint.
    val stripped = regexp_replace(
      column(UnicodeNormalize(expression(text), "NFD")),
      "\\p{M}", "")
    val digits = regexp_replace(column(LowerCodepoint(expression(stripped))),
      "\\p{Nd}", "0")
    val punct = regexp_replace(digits, "[^\\p{L}\\p{N}\\s]", " ")
    trim(regexp_replace(punct, "\\s+", " "))
  }

  /** Whitespace token count (0 for blank text). */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish pre-tokenizer count: letter runs, single digits, or
    * single non-alphanumeric marks (the usual GPT-2-style prelude).
    * Unicode-category classes (`\p{L}`/`\p{N}`), so non-Latin words
    * ("café", Cyrillic, CJK) count as letter runs, not one pre-token
    * per codepoint — this is the unit of account for every token
    * budget in the suite, and a multilingual crawl is mostly
    * non-ASCII. The whitespace exclusion is the explicit class
    * `[\t\n\x0B\f\r ]`, not `\s`: Java's `\s` includes U+000B where
    * RE2's does not, and the explicit class is what makes the Java
    * and DuckDB readings agree codepoint-for-codepoint. */
  val PreTokenPattern = "\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]"
  def preTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PreTokenPattern), lit(0)))

  /** Heuristic quality score in [0,1]: weighted mix of alphabetic
    * ratio, space sanity, average word length sanity and
    * non-punctuation ratio — the length/punct/stopword-ratio family
    * of filters used by web-scale corpus cleaning. */
  def qualityScore(text: Column): Column = {
    val len        = length(text).cast("double")
    val alpha      = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val spaces     = length(regexp_replace(text, "[^ ]", "")).cast("double")
    val punct      = length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double")
    val alphaRatio = when(len > 0, alpha / len).otherwise(0.0)
    val spaceRatio = when(len > 0, spaces / len).otherwise(0.0)
    val punctRatio = when(len > 0, punct / len).otherwise(0.0)
    // ideal space ratio ~1/6 (avg word ~5 chars); penalize deviation
    val spaceSanity = greatest(lit(0.0), lit(1.0) - abs(spaceRatio - 1.0 / 6.0) * 3.0)
    greatest(lit(0.0), least(lit(1.0),
      alphaRatio * 0.5 + spaceSanity * 0.3 + (lit(1.0) - punctRatio) * 0.2))
  }

  /** Stopword hit count for one language's word list. */
  private def stopwordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  /** n-gram/stopword-heuristic language ID over a fixed language set.
    * Deterministic argmax with fixed tie-break order (en,es,fr,de,zh). */
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "dans", "pour", "qui"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"))

  def languageGuess(text: Column): Column = {
    val scores = StopwordLists.map { case (lang, words) => lang -> stopwordHits(text, words) }
    // argmax with first-wins tie-break in declared order
    scores.zipWithIndex.foldRight(lit(StopwordLists.last._1)) {
      case (((lang, score), i), acc) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        laterScores match {
          case Nil      => acc
          case Seq(one) => when(score >= one, lang).otherwise(acc)
          case many     => when(score >= greatest(many: _*), lang).otherwise(acc)
        }
    }
  }

  /** Unicode script classes for [[scriptProfile]], in priority order
    * (ties go to the earlier entry). BMP-only ranges, so the
    * length-difference counting below is UTF-16/codepoint agnostic —
    * an astral character inflates both lengths equally and cancels. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin"      -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cyrillic"   -> "[\\x{0400}-\\x{04FF}]",
    "greek"      -> "[\\x{0370}-\\x{03FF}]",
    "arabic"     -> "[\\x{0600}-\\x{06FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "cjk"        -> "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]",
    "hangul"     -> "[\\x{AC00}-\\x{D7AF}]")

  /** Count of `cls` characters in `t`: length minus length-with-them-
    * removed — no explode, no split array, one regexp pass. */
  private def scriptCount(t: Column, cls: String): Column =
    coalesce(length(t) - length(regexp_replace(t, cls, "")), lit(0))
      .cast("long")

  /** Unicode-script histogram per document + the dominant script —
    * the script-level complement of [[languageGuess]] (whose stopword
    * lists are alphabet-specific: a Cyrillic or CJK page defeats
    * Latin stopword matching, but its script is unambiguous).
    * Map-only: one regexp count per script class, dominant = first
    * class in [[ScriptClasses]] order reaching the max count, `none`
    * when no scripted characters exist. `script_frac` is the dominant
    * class's share of scripted characters (0 for `none`). */
  def scriptProfile(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val counts = ScriptClasses.map { case (name, cls) => name -> scriptCount(t, cls) }
    val total = counts.map(_._2).reduce(_ + _)
    val maxC = greatest(counts.map(_._2): _*)
    val dominant = when(total === 0, lit("none")).otherwise(
      counts.foldRight(lit("none")) { case ((name, c), acc) =>
        when(c === maxC, lit(name)).otherwise(acc)
      })
    docs.select(Seq(col(idCol)) ++
      counts.map { case (name, c) => c.as(s"n_$name") } ++ Seq(
      total.as("n_scripted"),
      dominant.as("script"),
      when(total === 0, lit(0.0))
        .otherwise(maxC.cast("double") / total).as("script_frac")): _*)
  }

  /** Whitespace tokens as (id, pos, w) rows — lowercased, blanks
    * dropped. The explode is map-side; downstream shapes decide the
    * shuffles. */
  def tokenRows(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        posexplode(split(lower(trim(col(textCol))), "\\s+")).as(Seq("pos", "w")))
      .where(col("w") =!= "")

  /** CCNet-style LM reference statistics: add-k-smoothed bigram model
    * trained on a reference corpus (a trusted slice, or the corpus
    * itself). Returns (contexts, bigrams, vocab):
    * contexts (w1, c1) = bigram occurrences starting at w1;
    * bigrams (w1, w2, c12); vocab = 1-row (v) distinct-token count.
    * All three are ordinary DataFrames — persist them once and score
    * any later corpus against them (the same at-rest pattern as the
    * contamination shingle index). */
  def bigramCounts(ref: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokenRows(ref, idCol, textCol)
    val w = Window.partitionBy(idCol).orderBy("pos")
    val bg = toks.withColumn("w2", lead("w", 1).over(w))
      .where(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
    // The bigram counts table is THE at-rest artifact of this trainer
    // (bounded at distinct-bigram rows, far below the corpus), so it
    // materializes here: without it, every downstream consumer —
    // contexts, the score join, the threshold branch — re-ran the
    // per-doc pairing window over the whole reference corpus
    // (measured as 3 independent ~1.6s single-task window stages in
    // x70's profile at sf0.1).
    val bigrams = Stage.truncate(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    // c1 = bigram rows starting with w1 = Σ_w2 c12 — derived from the
    // materialized table, value-identical to counting bg directly
    val contexts = bigrams.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = toks.agg(countDistinct("w").as("v"))
    (contexts, bigrams, vocab)
  }

  /** CCNet-style LM quality score: each document's mean bigram
    * log-probability under the add-k bigram model —
    * ln((c12 + k) / (c1 + k·V)) averaged over the document's bigrams,
    * rounded to 6 decimals. Gibberish, boilerplate and wrong-language
    * text score low; docs with fewer than 2 tokens get a null score.
    * Scale shape: the doc-side bigram pairing is the map-only
    * [[docBigrams]] projection (since r8 — previously a per-doc
    * window sort, a whole extra corpus shuffle), then two keyed joins
    * against the counts tables — plain shuffle joins at any scale;
    * the 1-row vocab broadcasts. */
  def lmScore(docs: DataFrame, contexts: DataFrame, bigrams: DataFrame,
              vocab: DataFrame, k: Double = 1.0,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bg = docBigrams(docs, idCol, textCol)
    val scored = bg
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(contexts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      // greatest(v, 1): an empty reference corpus has V = 0, which
      // would divide by zero; with V clamped the smoothed probability
      // degenerates to 1 (lp = 0) instead of Infinity
      .withColumn("lp", log((coalesce(col("c12"), lit(0L)) + lit(k)) /
        (coalesce(col("c1"), lit(0L)) + lit(k) * greatest(col("v"), lit(1L)))))
      .groupBy(col(idCol))
      .agg(round(avg("lp"), 6).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
  }

  /** Map-only per-document bigram pairing: the token array paired
    * against its own shift — `(id, w1, w2)` rows identical to the
    * window-lead derivation of [[lmScore]]'s original form, with NO
    * per-document shuffle (the pairing happens inside the scan
    * projection; the first exchange a consumer pays is its own join
    * or agg). The array is bound once ([[bindOnce]]) so the split
    * does not re-run per element. */
  private[graft] def docBigrams(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    val arr = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => w =!= "")
    val pairs = bindOnce(arr) { a =>
      when(size(a) >= 2,
        transform(sequence(lit(0), size(a) - 2),
          i => struct(element_at(a, i + 1).as("w1"),
                      element_at(a, i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }
    docs.select(col(idCol), explode(pairs).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
  }

  /** Kneser-Ney continuation statistics, derived entirely from the
    * materialized bigram-counts artifact of [[bigramCounts]] (so they
    * are vocabulary-bounded, never corpus-sized). Returns
    * (ctx, cont, tot):
    * ctx (w1, c1, n1p) — total bigram occurrences starting at w1 and
    * the number of DISTINCT bigram types starting at w1 (the
    * discount-mass weight N1+(w1,·));
    * cont (w2, nleft) — distinct left contexts of w2 (N1+(·,w2), the
    * continuation count: "how many contexts has this word completed",
    * the statistic that makes KN beat raw frequency on words like
    * "francisco" that are frequent but only ever follow "san");
    * tot — 1 row, the total number of distinct bigram types N1+(··). */
  def knStats(bigrams: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val ctx  = bigrams.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    val cont = bigrams.groupBy("w2").agg(count(lit(1)).as("nleft"))
    val tot  = bigrams.agg(count(lit(1)).as("t"))
    (ctx, cont, tot)
  }

  /** Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995;
    * Chen & Goodman 1999) — the smoothing family KenLM implements and
    * CCNet's quality scoring actually uses, here as the relational
    * upgrade of the add-k [[lmScore]]:
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1,·)/c1)·Pcont(w2)
    *   Pcont(w2) = (N1+(·,w2) + 1)/(N1+(··) + V)
    *
    * with absolute discount D (default 0.75, the Chen-Goodman
    * standard), backing off to Pcont alone for unseen contexts; the
    * +1/+V add-one floor on the continuation distribution gives OOV
    * words mass (plain KN assigns them zero and the log explodes).
    * Output (id, kn_score = round-6 mean log-probability, n_bigrams),
    * null score for docs with fewer than 2 tokens — the same contract
    * as [[lmScore]].
    *
    * Scale shape: the doc side is the map-only [[docBigrams]] pairing
    * (no per-doc window shuffle); the model side is three
    * vocabulary-bounded tables derived once from the at-rest bigram
    * artifact ([[knStats]]); scoring is three keyed left joins (or
    * broadcasts when the model fits) + one per-doc aggregation. */
  def knScore(docs: DataFrame, bigrams: DataFrame, vocab: DataFrame,
              discount: Double = 0.75,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must lie in (0,1): $discount")
    val (ctx, cont, tot) = knStats(bigrams)
    val bg = docBigrams(docs, idCol, textCol)
    // Pcont: continuation probability with an add-one/V floor. t + v
    // is exact long arithmetic; the division is a single rounding.
    val pc = (coalesce(col("nleft"), lit(0L)) + lit(1.0)) /
      (col("t") + greatest(col("v"), lit(1L)))
    val seen = greatest(coalesce(col("c12"), lit(0L)) - lit(discount), lit(0.0)) /
      col("c1") + lit(discount) * col("n1p") / col("c1") * pc
    val scored = bg
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log(when(col("c1").isNotNull, seen).otherwise(pc)))
      .groupBy(col(idCol))
      .agg(round(avg("lp"), 6).as("kn_score"),
        count(lit(1)).as("n_bigrams"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
  }

  /** Document fingerprint: polynomial rolling hash over the ASCII
    * codepoints of the normalized text (lowercase alphanumerics +
    * spaces), mod a prime below 2^57 so the accumulator never
    * overflows long arithmetic. Deterministic and engine-portable. */
  val FingerprintMod = 72057594037927931L   // prime < 2^56
  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm) as a RELATIONAL operator: hash every character k-gram
    * of the normalized text (explode), keep the minimum hash of each
    * window of `w` consecutive k-grams (window function), distinct.
    * Any shared substring of length >= k+w-1 yields a shared
    * fingerprint — the rolling-hash primitive for partial-overlap
    * dedup. One row per (id, fingerprint).
    *
    * Deliberately row-based, not nested array expressions: an
    * array-of-arrays formulation re-evaluates the gram hashes per
    * window position (interpreted HOFs have no common-subexpression
    * elimination) and blows up quadratically.
    */
  def winnowingFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val normalized = regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", "")
    val grams = docs
      .withColumn("__t", normalized)
      .withColumn("__n", length(col("__t")) - (k - 1))
      .where(col("__n") >= 1)
      .withColumn("i", explode(sequence(lit(1), col("__n"))))
      .withColumn("h",
        conv(substring(md5(col("__t").substr(col("i"), lit(k))), 1, 7), 16, 10)
          .cast("long"))
    val win = Window.partitionBy(col(idCol)).orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("wmin", min("h").over(win))
      // full windows only — unless the doc has fewer than w grams, in
      // which case every gram hash is a fingerprint
      .where(col("i") <= col("__n") - (w - 1) || col("__n") < w)
      .withColumn("fp", when(col("__n") < w, col("h")).otherwise(col("wmin")))
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** One-pass winnowing: same fingerprint SET as
    * `winnowingFingerprints` but computed per document by a single
    * codegen'd expression (graft.expressions.WinnowingFps) — map-only,
    * no k-gram explosion, no shuffle. Rows with no k-gram are dropped,
    * matching the relational form. */
  def winnowingFingerprintSets(docs: DataFrame, k: Int = 8, w: Int = 4,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        column(WinnowingFps(expression(col(textCol)), k, w)).as("fps"))
      .where(size(col("fps")) > 0)

  /** PII-style redaction for corpus cleaning: emails, URLs and long
    * digit runs (7+, phone/ID-shaped) become fixed placeholder
    * tokens. Patterns are restricted to syntax with identical
    * semantics in Java regex and RE2 (no backreferences, no
    * lookaround) so the operator is engine-portable; application
    * order is part of the contract (emails before digit runs, so an
    * address's digits don't get double-rewritten). */
  def redactPii(text: Column): Column = {
    // bounded quantifiers (RFC limits) — an unbounded local-part class
    // backtracks O(len) per start position and a dot-run detonator
    // stalls an executor core (see PiiOps.EmailPattern / HostileInputSpec)
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,253}\\.[A-Za-z]{2,24}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^\\s]+", "<URL>")
    regexp_replace(url, "[0-9]{7,}", "<NUM>")
  }

  /** One-pass codegen kernel; the column formulation
    * (`aggregate(transform(sequence(1, len), i → ascii(substr(i, 1))),
    * 0, (acc, c) → (acc·31 + c) % mod)` over
    * `regexp_replace(lower(text), "[^a-z0-9 ]", "")`) is the contract
    * the kernel reproduces value-for-value and the x04 oracle mirrors.
    * The HOF form paid an interpreted lambda dispatch per CHARACTER —
    * and capturing the normalize inside the lambda re-ran the regex
    * per character, O(len²): together 74s at sf0.1 vs ~0.1s here. */
  def fingerprint(text: Column): Column =
    column(RollingFingerprint(expression(text), FingerprintMod))

  /** Repetition ratio — the duplicate-n-gram fraction used by
    * web-corpus quality filters (boilerplate and keyword-stuffed pages
    * repeat themselves): 1 − distinct n-grams / total n-grams, 0 for
    * degenerate short docs.
    *
    * The n-gram multiset of one document never crosses rows, so this is
    * a pure projection: build the shingle array ([[wordNgrams]], the
    * array [[Dedup.shingles]] explodes) and compare `array_distinct`
    * size against total size in place. Map-only — zero shuffle at any
    * corpus size, where the earlier explode→groupBy paid a full
    * shuffle of every n-gram occurrence. */
  def repetitionRatio(docs: DataFrame, n: Int = 2, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      bindOnce(wordNgrams(col(textCol), n))(s =>
        lit(1.0) - size(array_distinct(s)).cast("double") / size(s).cast("double"))
        .as("rep_ratio"))

  /** C4/RefinedWeb-style LINE-level dedup: a line (newline-separated
    * span) that occurs anywhere else in the corpus keeps only its
    * FIRST occurrence (smallest (doc_id, position)); every other copy
    * is dropped and the surviving lines are reassembled in document
    * order. This is the sub-document dedup the web-corpus pipelines
    * apply before document-level MinHash — boilerplate (nav bars,
    * cookie banners, license headers) repeats across billions of pages
    * that are NOT near-duplicates as whole documents.
    *
    * Returns (idCol, clean_text, n_kept, n_dropped) for every input
    * document (documents whose lines all drop keep an empty string).
    *
    * Trivial lines — whitespace-trimmed length below `minDedupLen` —
    * are exempt and kept unconditionally: C4/RefinedWeb dedup targets
    * repeated boilerplate CONTENT, and deduplicating the empty line
    * corpus-wide would strip the paragraph separators from every
    * document but one.
    *
    * Scale shape: two AGGREGATIONS, no window, no products — (1) the
    * first occurrence of a line is `min(struct(doc_id, pos))` per
    * line, which partial-aggregates map-side: a boilerplate line
    * repeated a billion times collapses to ONE candidate per input
    * partition before the shuffle, so corpus-frequency skew never
    * reaches a single reducer (a window-over-line formulation would
    * sort the billion copies in one task — AQE skew splitting does
    * not apply to window exchanges); (2) reassembly is a groupBy on
    * the document id, high-cardinality and unskewed. */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", minDedupLen: Int = 1,
                sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), sepRe)).as(Seq("pos", "line")))
    val trivial = length(trim(col("line"))) < minDedupLen
    val firsts = lines.where(!trivial)
      .groupBy(col("line"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"))
      .select(col(s"f.$idCol").as(idCol), col("f.pos").as("pos"), col("line"))
    val kept = firsts
      .unionByName(lines.where(trivial).select(col(idCol), col("pos"), col("line")))
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        (size(split(col(textCol), sepRe))).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Paragraph-level corpus dedup: [[lineDedup]] over blank-line
    * separated spans — the coarser sibling the web pipelines run
    * before line-level (whole boilerplate blocks repeat across pages
    * even when individual lines vary). */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    lineDedup(docs, idCol, textCol, minDedupLen = 1, sep = "\n\n")

  /** Frequency-threshold line removal — the boilerplate filter the
    * RefinedWeb/MassiveWeb pipelines run alongside first-occurrence
    * dedup: a line occurring in at least `minDocs` DISTINCT documents
    * is boilerplate (nav bars, cookie banners, share buttons) and is
    * removed from ALL documents — unlike [[lineDedup]], which keeps
    * the first occurrence (dedup targets CONTENT that happens to
    * repeat; this targets template text that was never content).
    * Trivial lines (trimmed length < `minDedupLen`) are exempt, as in
    * [[lineDedup]], so paragraph separators survive.
    *
    * Returns (idCol, clean_text, n_kept, n_dropped) for every input
    * document.
    *
    * Scale shape: (1) document frequency per line is a
    * `count_distinct` aggregation, which Spark plans as two keyed
    * stages — partial dedup of (line, doc) map-side, then a partial-
    * merging count per line — so neither a billion-copies-in-one-doc
    * line nor a line in a billion docs concentrates on one reducer;
    * (2) the over-threshold line table (typically tiny — only lines
    * crossing `minDocs`) anti-joins the exploded corpus, sized by AQE
    * (broadcast in the normal case: the corpus side never shuffles
    * for the decision); (3) reassembly is the same high-cardinality
    * per-document groupBy as [[lineDedup]]. */
  def lineFrequencyFilter(docs: DataFrame, minDocs: Int,
                          idCol: String = "doc_id", textCol: String = "text",
                          minDedupLen: Int = 1, sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), sepRe)).as(Seq("pos", "line")))
    val trivial = length(trim(col("line"))) < minDedupLen
    val boiler = lines.where(!trivial)
      .groupBy(col("line"))
      .agg(count_distinct(col(idCol)).as("df"))
      .where(col("df") >= minDocs)
      .select("line")
    // trivial lines can never appear in `boiler` (it is built from the
    // non-trivial side), so the anti-join keeps them unconditionally
    val kept = lines.join(boiler, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        size(split(col(textCol), sepRe)).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** ExactSubstr-style span dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every duplicated
    * k-token span keeps only its FIRST corpus occurrence
    * (min (doc_id, pos)); all later occurrences — across documents or
    * within one — are excised from the text. The reference algorithm
    * is a corpus suffix array; here the same contract is relational:
    *
    *  1. k-gram hash rows (60-bit salted md5 of the space-joined
    *     window) built map-only from the word array — no self-join;
    *  2. first occurrence per hash = one `min(struct)` aggregation —
    *     partial-aggregates map-side, so a boilerplate span repeated a
    *     billion times collapses per-partition before the shuffle
    *     (same skew-immunity argument as [[lineDedup]]);
    *  3. later occurrences become [pos, pos+k) removal intervals,
    *     merged per document with the classic gaps-and-islands window
    *     (per-doc partitions: high-cardinality, unskewed);
    *  4. surviving tokens reassemble with one groupBy.
    *
    * Output: (id, text_clean, n_removed) — n_removed in tokens;
    * documents shorter than k tokens pass through untouched (their
    * text still re-normalizes to the single-spaced token form, so
    * equal inputs produce equal outputs at any k).
    *
    * Casing: span MATCHING is case-insensitive (grams hash the
    * per-token-lowercased stream — "The Cat" and "the cat" are the
    * same span), but the surviving text reassembles from the ORIGINAL
    * tokens, so excision never lowercases what it keeps — the
    * production contract for a cleaning pass that rewrites text.
    *
    * Contract detail: a token survives iff NO non-first occurrence of
    * a duplicated gram covers it. In self-overlapping periodic text
    * ("spam spam spam …") the overlapping later occurrences cover all
    * but the first token — by design: within-document periodicity is
    * exactly what repetition filters remove wholesale, and any
    * "protect the keeper's span" refinement is ambiguous where keeper
    * and duplicate occurrences overlap. */
  def exactSpanDedup(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // original tokens for reassembly (split in SQL so the rebuild path
    // stays positionally aligned with the kernel's word indexing)
    val woCol = filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")
    val toks = docs.select(col(idCol), woCol.as("wo"))
    // per-position salted 60-bit gram hashes via the one-pass codegen
    // kernel — bit- and position-identical to the relational
    // slice+join+md5-hex chain it replaces (SpanHashKernelSpec), which
    // paid a per-gram array slice + string join + hex parse
    val grams = docs.select(col(idCol),
      posexplode(column(SpanGramHashes(expression(col(textCol)), k, "ss_")))
        .as(Seq("s", "h")))
    val keeper = grams.groupBy("h")
      .agg(min(struct(col(idCol), col("s"))).as("first"), count(lit(1)).as("c"))
      .where(col("c") > 1)
      .select(col("h"), col(s"first.$idCol").as("kid"), col("first.s").as("ks"))
    val dups = grams.join(keeper, Seq("h"))
      .where(!(col(idCol) === col("kid") && col("s") === col("ks")))
      .select(col(idCol), col("s"), (col("s") + k).as("e"))
    val ord = Window.partitionBy(idCol).orderBy("s")
    val iv = dups
      .withColumn("prev_max",
        max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1)
            .otherwise(0))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("grp"))
      .agg(min("s").as("s"), max("e").as("e"))
    val covered = iv.select(col(idCol),
      explode(sequence(col("s"), col("e") - 1)).as("pos"))
    val removed = iv.groupBy(col(idCol)).agg(sum(col("e") - col("s")).as("n_removed"))
    val kept = toks.select(col(idCol), posexplode(col("wo")).as(Seq("pos", "w")))
      .join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        s => s.getField("w"))).as("text_clean"))
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .join(removed, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Gopher/MassiveText within-document repetition signals
    * (Rae et al. 2021 §A1.1): fraction of duplicated non-blank lines,
    * fraction of duplicated non-blank paragraphs, and the fraction of
    * bigrams taken by the single most frequent bigram. High values
    * mark listings, templates, and degenerate generations. One
    * map-only projection — the top-bigram count runs as a sorted-array
    * longest-equal-run fold, no explode, no shuffle. */
  /** Fraction of duplicated non-blank parts (0 when none exist). */
  private[operators] def dupFraction(parts: Column): Column =
    bindOnce(filter(parts, p => length(trim(p)) > 0)) { clean =>
      when(size(clean) <= 0, 0.0).otherwise(
        round(lit(1.0) -
          size(array_distinct(clean)).cast("double") /
          size(clean).cast("double"), 6))
    }

  /** Fraction of bigrams taken by the single most frequent bigram —
    * the max multiplicity is a longest-equal-run fold over the sorted
    * bigram array: a pure expression, no explode, no shuffle. */
  private[operators] def topBigramFraction(t: Column): Column = {
    // drop empty split artifacts (text starting with \n or \t yields a
    // leading "" element); words and bigrams each bind once per row
    val bigramsE = bindOnce(filter(split(trim(t), "\\s+"), w => w =!= "")) {
      words =>
        when(size(words) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(words) - 2),
            i => concat_ws(" ", slice(words, i + 1, lit(2)))))
    }
    bindOnce(bigramsE) { bigrams =>
      val maxRun = aggregate(array_sort(bigrams),
        struct(lit(null).cast("string").as("prev"),
          lit(0).as("run"), lit(0).as("best")),
        (acc, x) => {
          val run = when(acc.getField("prev") === x,
            acc.getField("run") + 1).otherwise(lit(1))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      when(size(bigrams) <= 0, 0.0)
        .otherwise(round(maxRun.cast("double") / size(bigrams), 6))
    }
  }

  def gopherRepetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      dupFraction(split(t, "\n")).as("dup_line_frac"),
      dupFraction(split(t, java.util.regex.Pattern.quote("\n\n")))
        .as("dup_para_frac"),
      topBigramFraction(t).as("top_bigram_frac"))
  }

  /** Registrable host of a URL (lowercased; empty string when the
    * value does not parse as a scheme://host URL). */
  def extractHost(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))

  /** All dot-suffixes of a host ("a.b.c" → [a.b.c, b.c, c]) — the key
    * trick that turns subdomain blocklist matching ("drop *.spam.com")
    * into an EQUI-join: explode each host into its ≤~6 suffixes and
    * join the blocklist on equality, instead of a host-endsWith theta
    * join that cannot hash-partition. */
  def hostSuffixes(host: Column): Column =
    bindOnce(split(host, "\\.")) { labels =>
      transform(sequence(lit(1), size(labels)),
        i => concat_ws(".", slice(labels, i, size(labels))))
    }

  /** Map-only membership twin of [[domainBlocklistFilter]]: TRUE when
    * the URL's host is dropped by the blocklist. Same drop set as the
    * join-based operator (spec-certified), but a pure column predicate
    * — the form to use inside a streaming query, where the anti-join
    * shape would need a stateful aggregation the stream can't run in
    * append mode.
    *
    * `publicSuffixes` is the optional eTLD floor (see
    * [[domainBlocklistFilter]]). */
  def isBlockedDomain(url: Column, blocked: Seq[String],
                      publicSuffixes: Seq[String] = Nil): Column = {
    val (etld, normal) = splitBlocklist(blocked, publicSuffixes)
    val host = extractHost(url)
    val bySuffix =
      if (normal.isEmpty) lit(false)
      else arrays_overlap(hostSuffixes(host), array(normal.map(lit(_)): _*))
    val byExact =
      if (etld.isEmpty) lit(false) else host.isin(etld: _*)
    // null url → null host must KEEP (match the join-based operator),
    // not propagate null through the predicate
    coalesce(bySuffix || byExact, lit(false))
  }

  /** Blocklist entries that are public suffixes only ever match a host
    * EXACTLY; everything else suffix-matches. */
  private def splitBlocklist(blocked: Seq[String],
                             publicSuffixes: Seq[String]): (Seq[String], Seq[String]) = {
    val psl = publicSuffixes.map(_.toLowerCase).toSet
    blocked.map(_.toLowerCase).partition(psl.contains)
  }

  /** C4-style domain blocklist filter: drop every document whose URL
    * host equals a blocked domain or sits under one. The blocklist is
    * dimension-sized (broadcast); the suffix explode is bounded by the
    * host's label count, so the scan side stays map-heavy with one
    * broadcast left-anti join. Rows with unparseable URLs KEEP
    * (malformed metadata is not evidence of spam; filter separately
    * if wanted).
    *
    * `publicSuffixes` is an optional eTLD floor: a blocklist entry
    * that appears in it (e.g. "com", "co.uk" from the public-suffix
    * list) matches a host only EXACTLY, never as a suffix — so one
    * careless "co.uk" entry cannot silently drop an entire TLD
    * family. Empty by default (behavior unchanged). */
  def domainBlocklistFilter(docs: DataFrame, blocked: Seq[String],
                            urlCol: String = "url",
                            idCol: String = "doc_id",
                            publicSuffixes: Seq[String] = Nil): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (etld, normal) = splitBlocklist(blocked, publicSuffixes)
    val bl = normal.toDF("suffix")
    val host = extractHost(col(urlCol))
    val bySuffix = docs
      .select(col(idCol),
        explode(hostSuffixes(host)).as("suffix"))
      .join(broadcast(bl), Seq("suffix"), "left_semi")
      .select(idCol)
    val hitIds =
      (if (etld.isEmpty) bySuffix
       else bySuffix.unionByName(
         docs.where(host.isin(etld: _*)).select(idCol)))
        .distinct()
    docs.join(hitIds, Seq(idCol), "left_anti")
  }

  /** Sliding-window CHUNKING for embedding/RAG pipelines: fixed-size
    * character windows with `overlap` characters shared between
    * consecutive chunks — one output row per chunk with its index and
    * start offset, documents shorter than `size` yield exactly one
    * chunk. Map-side explode, no shuffle; chunk count is
    * ceil(max(len−size,0)/stride)+1 with stride = size−overlap. */
  def chunkByChars(docs: DataFrame, size: Int, overlap: Int = 0,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size: size=$size overlap=$overlap")
    val stride = size - overlap
    // NULL text counts as empty — the doc contract is one chunk per
    // document minimum, and a null length would make the sequence
    // null and the explode emit nothing (silent row loss)
    val t = coalesce(col(textCol), lit(""))
    val n = length(t)
    val nChunks = (ceil(greatest(n - size, lit(0)).cast("double") / stride)
      .cast("int") + 1)
    docs
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("start_char", col("chunk_idx") * stride)
      .withColumn("chunk", t.substr(col("start_char") + 1, lit(size)))
      .select(col(idCol), col("chunk_idx"), col("start_char"), col("chunk"),
        length(col("chunk")).as("chunk_chars"))
  }

  /** Sentence spans: maximal runs of non-terminal characters plus
    * their trailing terminal-punctuation run (`[^.!?]+[.!?]*`), each
    * space-trimmed — engine-portable (no lookbehind, which RE2
    * rejects). Text with no non-punctuation content yields no
    * sentences. */
  val SentencePattern = "[^.!?]+[.!?]*"

  /** Sentence-aware chunking for embedding/RAG pipelines: the
    * [[chunkByChars]] sibling that never splits mid-sentence.
    * Sentences are assigned to fixed-budget chunks by cumulative
    * offset — sentence s joins chunk `floor(chars_before_s / size)` —
    * the same deterministic prefix-sum contract as
    * `Sampling.packSequences` (x31/x53), so a chunk may overflow
    * `size` by at most one sentence rather than truncating it.
    * Output: (id, chunk_idx, chunk, n_sentences, chunk_chars); a
    * document with no sentence content emits NO chunks (unlike
    * chunkByChars' ≥1-chunk contract — documented asymmetry: there is
    * no sentence to put in the chunk).
    *
    * Scale shape: sentence extraction is map-only; the cumulative
    * offset is one window over (doc, position) — per-document
    * partitions, high-cardinality, unskewed; reassembly is one
    * groupBy (doc, chunk). Two keyed shuffles, no products — the x31
    * shape. */
  def chunkBySentences(docs: DataFrame, size: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(size > 0, s"size must be positive: $size")
    import org.apache.spark.sql.expressions.Window
    val sent = docs.select(col(idCol),
        posexplode(transform(
          regexp_extract_all(coalesce(col(textCol), lit("")),
            lit(SentencePattern), lit(0)),
          s => trim(s))).as(Seq("pos", "sentence")))
      .where(length(col("sentence")) > 0)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sent
      .withColumn("cum_before",
        coalesce(sum(length(col("sentence"))).over(w), lit(0L)))
      // integer division (not double-divide-then-cast: double→int
      // casts TRUNCATE here and ROUND in DuckDB — div is exact both)
      .withColumn("chunk_idx", expr(s"CAST(cum_before DIV $size AS INT)"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sentence")))),
          s => s.getField("sentence"))).as("chunk"),
        count(lit(1)).as("n_sentences"))
      .withColumn("chunk_chars", length(col("chunk")))
  }

  /** HTML → text extraction for crawl processing: the step between a
    * fetched page and every text operator above. Removal order is part
    * of the contract — comments, then script/style BLOCKS (their text
    * content is code, not prose), then BLOCK-LEVEL tags to `\n` (so
    * the output keeps one line per paragraph/heading/list item), then
    * remaining tags to a space, then entity decoding (`&amp;` LAST, so
    * `&amp;lt;` decodes to the literal `&lt;` and not to `<`), then
    * whitespace collapse that preserves the line structure: horizontal
    * runs become one space, newline runs become one `\n`, and each
    * line is trimmed. Every pattern is in the Java-regex ∩ RE2 common
    * subset ((?is) inline flags, non-greedy `.*?`, no lookaround) so
    * the DuckDB oracle runs the SAME chain verbatim. Map-only; stays
    * in whole-stage codegen.
    *
    * This is the text-density-free core of a trafilatura/jusText-style
    * extractor: deterministic and engine-portable. Boilerplate
    * REMOVAL (nav/footer pruning by link density) is a policy layer a
    * caller builds ON the extracted text — the per-line output shape
    * exists exactly so [[lineDedup]] over the corpus can drop nav
    * lines (they repeat corpus-wide and fall out). */
  def stripHtml(html: Column): Column = {
    val noComments = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComments,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    // block-level structure → newline BEFORE the generic tag strip
    val blocks = regexp_replace(noStyle, BlockTagPattern, "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val entities = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) {
      case (c, (from, to)) => replace(c, lit(from), lit(to))
    }
    // collapse horizontal whitespace only, then dedup newlines and trim
    // spaces AND newlines off the ends (plain trim is space-only in
    // both engines)
    val horiz = regexp_replace(decoded, "[ \\t\\x0B\\f\\r]+", " ")
    trim(regexp_replace(horiz, " ?\\n[ \\n]*", "\n"), " \n")
  }

  /** Block-level HTML elements whose open/close tags become a newline
    * in [[stripHtml]] (everything else becomes a space). */
  val BlockTagPattern: String =
    "(?i)</?(?:p|div|br|li|ul|ol|dl|dt|dd|h[1-6]|tr|table|thead|tbody|" +
      "blockquote|pre|hr|section|article|aside|header|footer|nav|form|" +
      "fieldset|figure|figcaption|main|address)\\b[^>]*>"

  // --- C4 cleaning rules (Raffel et al. 2020) ---------------------------

  /** The word "javascript" with non-alphanumeric boundaries — C4 drops
    * any LINE containing it (a boilerplate "enable JavaScript" tell).
    * Explicit boundary classes, not `\b`, so the Java and RE2/DuckDB
    * readings agree. Applied to lowercased lines. */
  val C4JavascriptPattern = "(?:^|[^a-z0-9])javascript(?:[^a-z0-9]|$)"

  /** Word runs for the per-line word count: maximal non-whitespace
    * runs over the explicit whitespace class (see [[PreTokenPattern]]
    * for why not `\s`). */
  val WordRunPattern = "[^\\t\\n\\x0B\\f\\r ]+"

  /** C4 page-cleaning signals (Raffel et al. 2020 §2.2 — the rules
    * that produced C4 from Common Crawl; reference: the public
    * TensorFlow-datasets `c4_utils.py`), re-expressed as ONE map-only
    * projection:
    *
    * LINE rules (lines = `\n`-split, space-trimmed):
    *   - kept only if it ends in a terminal punctuation mark
    *     (`.` `!` `?` `"`);
    *   - kept only if it has ≥ `minWordsPerLine` words;
    *   - dropped if it contains the word "javascript"
    *     (case-insensitive, [[C4JavascriptPattern]]).
    *
    * PAGE rules (on the RAW text, as in the paper):
    *   - `has_lorem` — the phrase "lorem ipsum" (lowercased);
    *   - `has_brace` — a curly bracket (`{` or `}`);
    *   - `has_bad_word` — any `[a-z0-9]+` token of the lowercased
    *     text is on `badWords` (C4 uses the public "List of Dirty,
    *     Naughty, Obscene or Otherwise Bad Words"; single-word
    *     entries here — multi-word phrases belong to the
    *     Aho-Corasick keyword scan).
    *   - `n_sentences` — terminal marks (`.` `!` `?`) in the CLEANED
    *     text, the deterministic sentence-count proxy for the paper's
    *     "fewer than `minSentences` sentences" page rule (counted
    *     after line filtering, as C4 does).
    *
    * `keep` = n_sentences ≥ minSentences ∧ ¬has_lorem ∧ ¬has_brace ∧
    * ¬has_bad_word. Output: (id, clean_text, n_lines, n_kept,
    * n_sentences, has_lorem, has_brace, has_bad_word, keep) — one row
    * per input document, dropped pages included, so the decision
    * itself is auditable (and certifiable) corpus-wide.
    *
    * Scale shape: ZERO shuffle — the line split/filter/reassembly are
    * higher-order array functions inside the scan projection
    * ([[bindOnce]]-pinned so nothing re-evaluates per element), page
    * signals are single regexp/contains passes. Composes with
    * [[lineDedup]] (which C4 also applies, at the three-sentence-span
    * level — [[exactSpanDedup]] is the span-level sibling here). */
  def c4Signals(docs: DataFrame, badWords: Seq[String] = Nil,
                minWordsPerLine: Int = 3, minSentences: Int = 5,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withC4Columns(docs, badWords, minWordsPerLine, minSentences, textCol)
      .select(col(idCol),
        col("_l.clean_text").as("clean_text"),
        col("_l.n_lines").as("n_lines"),
        col("_l.n_kept").as("n_kept"),
        col("_l.n_sentences").as("n_sentences"),
        col("_p.has_lorem").as("has_lorem"),
        col("_p.has_brace").as("has_brace"),
        col("_p.has_bad_word").as("has_bad_word"),
        col("_keep").as("keep"))

  private def withC4Columns(docs: DataFrame, badWords: Seq[String],
                            minWordsPerLine: Int, minSentences: Int,
                            textCol: String): DataFrame = {
    val t = col(textCol)
    val lineStruct = bindOnce(transform(split(t, "\n"), l => trim(l))) { lines =>
      val kept0 = filter(lines, l =>
        l.rlike("[.!?\"]$") &&
          size(regexp_extract_all(l, lit(WordRunPattern), lit(0))) >= minWordsPerLine &&
          !lower(l).rlike(C4JavascriptPattern))
      bindOnce(kept0) { kept =>
        bindOnce(concat_ws("\n", kept)) { ct =>
          struct(
            ct.as("clean_text"),
            size(lines).cast("long").as("n_lines"),
            size(kept).cast("long").as("n_kept"),
            (length(ct) - length(regexp_replace(ct, "[.!?]", "")))
              .cast("long").as("n_sentences"))
        }
      }
    }
    val pageStruct = bindOnce(lower(t)) { lt =>
      struct(
        lt.contains("lorem ipsum").as("has_lorem"),
        (t.contains("{") || t.contains("}")).as("has_brace"),
        (if (badWords.isEmpty) lit(false)
         else arrays_overlap(regexp_extract_all(lt, lit("[a-z0-9]+"), lit(0)),
           lit(badWords.toArray))).as("has_bad_word"))
    }
    docs.withColumn("_l", lineStruct)
      .withColumn("_p", pageStruct)
      .withColumn("_keep",
        col("_l.n_sentences") >= minSentences && !col("_p.has_lorem") &&
          !col("_p.has_brace") && !col("_p.has_bad_word"))
  }

  /** Apply [[c4Signals]]: surviving pages with their line-filtered
    * text (the page's other columns are preserved). Same zero-shuffle
    * shape — the signals are computed inline, filtered, and dropped;
    * no join back. */
  def c4Filter(docs: DataFrame, badWords: Seq[String] = Nil,
               minWordsPerLine: Int = 3, minSentences: Int = 5,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withC4Columns(docs, badWords, minWordsPerLine, minSentences, textCol)
      .where(col("_keep"))
      .withColumn(textCol, col("_l.clean_text"))
      .drop("_l", "_p", "_keep")

  // --- Aho-Corasick keyword scan ----------------------------------------

  /** Per-pattern occurrence counts (ALL occurrences, overlapping
    * included) via the one-pass Aho-Corasick `keyword_counts` kernel —
    * the FlashText-style dictionary tagger: bad-word lists, topic
    * lexicons, brand-safety terms at thousands-of-entries scale where
    * a regex alternation is quadratic or rejected outright. Returns
    * array<int> in `keywords` declaration order. Matching is
    * case-sensitive char equality — lower the text column (and pass
    * lowercased keywords) for the usual case-insensitive setup. */
  def keywordCounts(text: Column, keywords: Seq[String]): Column =
    column(KeywordCounts(expression(text), AhoCorasickOps.compile(keywords)))

  /** Dictionary tagging over a corpus: per document, the per-keyword
    * counts plus total hits and the matched keywords (declaration
    * order). ZERO shuffle — one kernel pass per document inside the
    * scan projection. */
  def keywordTag(docs: DataFrame, keywords: Seq[String],
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val kwArr = lit(keywords.toArray)
    docs.select(col(idCol),
        keywordCounts(col(textCol), keywords).as("kw_counts"))
      .select(col(idCol), col("kw_counts"),
        aggregate(col("kw_counts"), lit(0), (a, x) => a + x).as("n_hits"),
        filter(kwArr, (_, i) => element_at(col("kw_counts"), i + 1) > 0)
          .as("matched"))
  }

  /** HTML STRUCTURAL quality signals — the link-density family of
    * boilerplate tells (jusText/trafilatura's decision features):
    * a page whose visible text is mostly anchor text is navigation,
    * not content, no matter what the words say. Computed on the RAW
    * html (before [[stripHtml]]), one map-only projection:
    *
    *  - `n_tags`, `n_links` — tag and `<a>` counts;
    *  - `text_chars` — length of the [[stripHtml]] extraction;
    *  - `link_text_chars` — total RAW length inside `<a>…</a>` spans
    *    (nested markup counts toward it — the ratio is a signal, not
    *    an exact rendering);
    *  - `link_density` — link_text_chars / max(text_chars, 1),
    *    round-6 (the one double);
    *  - `script_chars` — bytes inside script/style blocks (template
    *    weight).
    *
    * Every pattern is in the Java∩RE2 subset, so the oracle runs the
    * same chain verbatim. */
  def htmlSignals(docs: DataFrame, idCol: String = "doc_id",
                  htmlCol: String = "html"): DataFrame = {
    val h = col(htmlCol)
    val linkInner = regexp_extract_all(h, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1))
    val scriptBlocks = regexp_extract_all(h,
      lit("(?is)<(?:script|style)[^>]*>(.*?)</(?:script|style)>"), lit(1))
    val sumLens = (arr: Column) =>
      aggregate(transform(arr, s => length(s)), lit(0), (a, x) => a + x)
    docs.select(col(idCol),
        size(regexp_extract_all(h, lit("<[^>]*>"), lit(0))).as("n_tags"),
        size(regexp_extract_all(h, lit("(?is)<a\\b[^>]*>"), lit(0)))
          .as("n_links"),
        length(stripHtml(h)).as("text_chars"),
        sumLens(linkInner).as("link_text_chars"),
        sumLens(scriptBlocks).as("script_chars"))
      .withColumn("link_density",
        round(col("link_text_chars").cast("double") /
          greatest(col("text_chars"), lit(1)).cast("double"), 6))
  }

  /** Character-distribution signals (codepoint entropy, top-character
    * fraction, distinct count) — the compressibility/garbledness tells
    * that work WITHOUT word structure (CJK, no-whitespace scripts,
    * binary-ish junk), complementing the word-shaped repetition
    * signals. One map-only codegen pass
    * ([[graft.expressions.CharEntropyOps]]). Output columns: entropy,
    * top_char_frac, n_distinct_chars, n_chars. */
  def charEntropySignals(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    docs.select(col(idCol),
        column(CharEntropy(expression(col(textCol)))).as("_ce"))
      .select(col(idCol), col("_ce.entropy").as("entropy"),
        col("_ce.top_char_frac").as("top_char_frac"),
        col("_ce.n_distinct_chars").as("n_distinct_chars"),
        col("_ce.n_chars").as("n_chars"))
  }

  /** Single-scan curation profile: every per-document curation metric
    * in ONE map-only projection. At 100 TB the scan is the cost; each
    * metric above is a pure column expression, so computing them
    * together is one pass over the data where separate curation jobs
    * would pay the scan once per metric. Column values are identical
    * to the individually oracle-certified operators (x01-x04, x20,
    * x45). */
  def curationProfile(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      wsTokenCount(t).as("ws_tokens"),
      preTokenCount(t).as("pre_tokens"),
      qualityScore(t).as("quality"),
      languageGuess(t).as("lang_guess"),
      fingerprint(t).as("fp"),
      dupFraction(split(t, "\n")).as("dup_line_frac"),
      topBigramFraction(t).as("top_bigram_frac"),
      redactPii(t).as("text_redacted"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.LangIdScoreText

/** TRAINED language identification: multiclass multinomial Naive
  * Bayes with add-k smoothing over HASHED character n-grams — the
  * fastText-langid shape (char n-grams are what separate languages;
  * word features need per-language tokenizers), and the multiclass
  * sibling of the binary [[QualityClassifier]]. The heuristic
  * [[TextOps.languageGuess]] (stopword lists) and
  * [[TextOps.scriptProfile]] (unicode ranges) stay as the cheap
  * first-pass; this is the trained head a real pipeline fits on
  * labeled data when those disagree.
  *
  * Same scale contract as the quality classifier: features hash into
  * `numBuckets` ids, so the model is bounded at numBuckets·L rows
  * (L = languages) regardless of corpus size — training is one
  * integer-count aggregation, and scoring joins a broadcast-sized
  * model. Nothing iterative.
  */
object LangId {

  /** Character n-grams of the normalized text ([[TextOps.normalizeText]]:
    * control chars stripped, whitespace collapsed, lowercased), as an
    * array — positions 1..len−n+1 via `substr`, engine-portable.
    * Texts shorter than n yield an empty array (no features → null
    * prediction downstream). */
  def charNgrams(text: Column, n: Int = 3): Column =
    TextOps.bindOnce(TextOps.normalizeText(text)) { t =>
      when(length(t) >= n,
        transform(sequence(lit(1), length(t) - (n - 1)),
          i => t.substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
    }

  private def featureRows(docs: DataFrame, numBuckets: Int, n: Int,
                          idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(charNgrams(col(textCol), n)).as("g"))
      .select(col(idCol),
        QualityClassifier.hashedFeature(col("g"), numBuckets,
          fastHash = false, salt = "lid_").as("f"))

  /** Train on (text, lang): per-(feature, lang) counts + per-lang
    * totals (n-gram total and document count, for the class prior).
    * Both bounded, persistable at-rest artifacts (the x57 pattern). */
  def train(labeled: DataFrame, numBuckets: Int = 1 << 16, n: Int = 3,
            textCol: String = "text",
            langCol: String = "lang"): (DataFrame, DataFrame) = {
    val rows = labeled
      .select(col(langCol).as("lang"),
        explode(charNgrams(col(textCol), n)).as("g"))
      .select(col("lang"),
        QualityClassifier.hashedFeature(col("g"), numBuckets,
          fastHash = false, salt = "lid_").as("f"))
    val counts = rows.groupBy("f", "lang").agg(count(lit(1)).as("c"))
    val docTotals = labeled.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = rows.groupBy("lang").agg(count(lit(1)).as("t_grams"))
      .join(docTotals, Seq("lang"))
    (counts, totals)
  }

  /** Predict: for each document and each trained language,
    *   score(lang) = ln(n_docs_lang / Σ n_docs)
    *               + Σ_grams ln((c(f,lang)+k)/(t_grams_lang + k·D)),
    * rounded to 6 decimals (order-sensitive double sum — the one pin);
    * prediction = the max score, ties to the lexicographically LARGER
    * language code (max(struct(score, lang)) — deterministic and
    * engine-mirrorable). Documents without features predict null.
    *
    * Shape: per-document feature MULTIPLICITIES aggregate first (one
    * keyed shuffle; repeated trigrams collapse — a document's
    * distinct-trigram count is a fraction of its length), and only
    * the distinct (doc, f) rows fan out × L languages into the
    * broadcast-model join (measured 12.3s → ~5s at sf0.1 vs the
    * per-occurrence fan-out); then one (doc, lang) aggregation and
    * one per-doc max — all partial-aggregable, corpus scanned once. */
  def predict(docs: DataFrame, counts: DataFrame, totals: DataFrame,
              numBuckets: Int = 1 << 16, n: Int = 3, k: Double = 1.0,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val totalDocs = totals.agg(sum("n_docs")).head.getLong(0).toDouble
    val terms = featureRows(docs, numBuckets, n, idCol, textCol)
      .groupBy(col(idCol), col("f")).agg(count(lit(1)).as("m"))
    val perLang = terms
      .crossJoin(broadcast(totals))
      .join(broadcast(counts), Seq("f", "lang"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(
        sum(col("m") * log((coalesce(col("c"), lit(0L)) + lit(k)) /
          (col("t_grams") + lit(k) * numBuckets))).as("ll"),
        sum(col("m")).as("n_grams"),
        first(col("n_docs")).as("n_docs"))
      .withColumn("score",
        round(log(col("n_docs") / totalDocs) + col("ll"), 6))
    val best = perLang.groupBy(col(idCol))
      .agg(max(struct(col("score"), col("lang"))).as("b"),
        first(col("n_grams")).as("n_grams"))
      .select(col(idCol), col("b.lang").as("lang_pred"),
        col("b.score").as("lid_score"), col("n_grams"))
    docs.select(col(idCol)).join(best, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams"))
  }

  /** Collect the trained tables into the dense map-only model:
    * per-language priors + numBuckets·L smoothed log-likelihoods —
    * bounded by construction (the PQ-codebook collect class), the
    * artifact every scoring pass broadcasts. */
  def collectModel(counts: DataFrame, totals: DataFrame,
                   numBuckets: Int = 1 << 16,
                   k: Double = 1.0): graft.expressions.LangIdScoreOps.Model = {
    val tot = totals.select("lang", "t_grams", "n_docs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(tot.nonEmpty, "no trained languages")
    val totalDocs = tot.map(_._3).sum.toDouble
    val langIdx = tot.map(_._1).zipWithIndex.toMap
    val llr = tot.map { case (_, tg, _) =>
      // smoothing floor everywhere; observed counts overwrite below.
      // SAME double expression as predict's per-row formula:
      // (c + k) / (t_grams + k·D) through Math.log
      Array.fill(numBuckets)(math.log(k / (tg + k * numBuckets)))
    }
    counts.select("f", "lang", "c").collect().foreach { r =>
      val l = langIdx(r.getString(1))
      val tg = tot(l)._2
      llr(l)(r.getLong(0).toInt) =
        math.log((r.getLong(2) + k) / (tg + k * numBuckets))
    }
    graft.expressions.LangIdScoreOps.Model(
      tot.map(_._1), tot.map(t => math.log(t._3 / totalDocs)), llr)
  }

  /** The ZERO-shuffle scorer (the x75 `importanceWeightsMapOnly`
    * pattern): text normalizes through the same certified Spark
    * expression chain as [[predict]], then trigram extraction, the
    * salted-md5 bucket hash, and the per-language fold + argmax run
    * inside ONE codegen kernel against the broadcast model — no
    * terms×L join, no per-gram expression chain (3.7 µs/gram measured
    * for md5→hex→substring→conv per gram vs ~0.2 µs for the kernel's
    * thread-local digest — the x40 CountMin fix, bit-identical), no
    * exchange at all. Output row-for-row identical to [[predict]]
    * (LangIdSpec pins it): (idCol, lang_pred, lid_score, n_grams). */
  def predictMapOnly(docs: DataFrame,
                     model: graft.expressions.LangIdScoreOps.Model,
                     numBuckets: Int = 1 << 16, n: Int = 3,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    docs.select(col(idCol),
        column(LangIdScoreText(expression(TextOps.normalizeText(col(textCol))),
          model, n, numBuckets)).as("_r"))
      .select(col(idCol), col("_r.lang_pred").as("lang_pred"),
        col("_r.lid_score").as("lid_score"),
        // null TEXT yields a null struct; predict's contract is 0
        coalesce(col("_r.n_grams"), lit(0L)).as("n_grams"))
  }
}

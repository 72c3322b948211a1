package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Stage

/** fastText-style TRAINED quality classifier, re-expressed
  * relationally: multinomial Naive Bayes with add-k smoothing over
  * HASHED word + adjacent-bigram features. This is the "train a linear
  * classifier on wiki-vs-crawl and keep the wiki-like documents"
  * filter of the GPT-3/LLaMA-class curation pipelines — the trained
  * counterpart of the heuristic quality score (TextOps.qualityScore)
  * and the CCNet LM score (TextOps.lmScore).
  *
  * The hashing trick is the scale contract: features hash into a FIXED
  * space of `numBuckets` ids (salted md5, engine-portable), so the
  * model is bounded at numBuckets rows no matter how large the corpus
  * vocabulary grows — training is one integer-count aggregation whose
  * map-side combine collapses each partition to ≤ numBuckets rows, and
  * scoring joins a model small enough to BROADCAST at any corpus size.
  * Nothing here is iterative: at 100 TB both passes are single-shuffle
  * scan-bound jobs.
  */
object QualityClassifier {

  /** Lowercased whitespace words of `text` plus their adjacent-pair
    * bigrams ("w1 w2"), as one array — built map-only from the word
    * array (no per-doc window; the bigram of position i is a lambda
    * over the slice, not a shuffle). Null text → null array (explodes
    * to nothing downstream).
    *
    * The word array is BOUND ONCE per row through a lambda variable
    * (`transform` over a 1-element wrapper): expression subtrees
    * inside a higher-order-function lambda are re-evaluated per
    * ELEMENT, and common-subexpression elimination does not reach
    * into lambda bodies — with `ws` inlined at its three use sites
    * the bigram lambda re-ran split+filter for every bigram, turning
    * tokenization O(tokens²) per document (measured 14× on the
    * sf0.1 documents table). A lambda-variable reference is a slot
    * read, so this shape is O(tokens). */
  def termArray(text: Column): Column = {
    val ws = filter(split(lower(trim(text)), "\\s+"), w => w =!= "")
    element_at(
      transform(array(ws), wsv =>
        concat(wsv, transform(
          slice(wsv, lit(1), greatest(size(wsv) - 1, lit(0))),
          (w, i) => concat(w, lit(" "), element_at(wsv, i + lit(2)))))),
      1)
  }

  /** The hashing trick: term → [0, numBuckets), via the first 28 bits
    * of a salted md5 (same engine-portable construction as the
    * Sampling bucketing, salt "qc_" so classifier buckets never
    * correlate with split/sample/mixture membership).
    *
    * `fastHash` swaps md5 for codegen'd xxhash64 — measured ~18%
    * faster end-to-end at 1M docs (the term explode + aggregation
    * scan dominates, not the hash). The bucket assignment differs
    * from the md5 path (a different but statistically equivalent
    * model), so the certified-against-DuckDB probe uses md5 and the
    * 100 TB deployment flips the flag; train and score must agree. */
  def hashedFeature(term: Column, numBuckets: Int,
                    fastHash: Boolean = false,
                    salt: String = "qc_"): Column =
    if (fastHash) pmod(xxhash64(lit(salt), term), lit(numBuckets.toLong))
    else conv(substring(md5(concat(lit(salt), term)), 1, 7), 16, 10)
      .cast("long") % numBuckets

  private def featureRows(docs: DataFrame, numBuckets: Int,
                          idCol: String, textCol: String,
                          fastHash: Boolean): DataFrame =
    docs.select(col(idCol), explode(termArray(col(textCol))).as("term"))
      .select(col(idCol),
        hashedFeature(col("term"), numBuckets, fastHash).as("f"))

  /** Train: per-feature positive/negative term counts + the 1-row
    * class totals. Pure integer counting — one groupBy on the hashed
    * feature id (bounded at numBuckets output rows) — so the trained
    * model is exactly reproducible on any engine and any partitioning.
    * Both results are ordinary DataFrames: persist them once and score
    * any later corpus (the same at-rest pattern as the contamination
    * shingle index and the LM counts tables). */
  def train(labeled: DataFrame, numBuckets: Int = 1 << 16,
            textCol: String = "text", labelCol: String = "label",
            fastHash: Boolean = false): (DataFrame, DataFrame) = {
    val rows = labeled
      .select(col(labelCol).cast("long").as("y"),
        explode(termArray(col(textCol))).as("term"))
      .select(col("y"),
        hashedFeature(col("term"), numBuckets, fastHash).as("f"))
    // ONE term-explode pass: the class totals are exactly the column
    // sums of the per-feature counts (Σ_f c_pos = Σ_rows y — identical
    // integers), so they derive from the bounded counts table instead
    // of a second full kernel pass over the training corpus. The
    // counts table (≤ numBuckets rows) is materialized so its two
    // consumers (the model broadcast and the totals) don't each re-run
    // the explode+hash scan.
    val counts = Stage.truncate(rows.groupBy("f")
      .agg(sum(col("y")).as("c_pos"), sum(lit(1L) - col("y")).as("c_neg")))
    val totals = counts
      .agg(sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"))
    (counts, totals)
  }

  /** Score: mean add-k log-likelihood ratio of the document's terms,
    *   ln((c_pos+k)/(t_pos+k·D)) − ln((c_neg+k)/(t_neg+k·D)),
    * rounded to 6 decimals (the float avg is order-sensitive; same
    * policy as lmScore). Positive → the document looks like the
    * positive (high-quality) training class. Docs with no terms get a
    * null score and n_terms 0. The model join BROADCASTs — counts is
    * ≤ numBuckets rows by construction — so scoring is map-side
    * against the corpus scan, one shuffle for the per-doc avg. */
  def score(docs: DataFrame, counts: DataFrame, totals: DataFrame,
            numBuckets: Int = 1 << 16, k: Double = 1.0,
            idCol: String = "doc_id", textCol: String = "text",
            fastHash: Boolean = false): DataFrame = {
    val terms = featureRows(docs, numBuckets, idCol, textCol, fastHash)
    val scored = terms
      .join(broadcast(counts), Seq("f"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("llr",
        log((coalesce(col("c_pos"), lit(0L)) + lit(k)) /
            (col("t_pos") + lit(k) * numBuckets)) -
        log((coalesce(col("c_neg"), lit(0L)) + lit(k)) /
            (col("t_neg") + lit(k) * numBuckets)))
      .groupBy(col(idCol))
      .agg(round(avg("llr"), 6).as("q_score"), count(lit(1)).as("n_terms"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_terms"))
  }
}

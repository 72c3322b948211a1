package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Stage

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023): pick raw-corpus documents whose hashed-n-gram
  * distribution looks like a TARGET corpus (wiki/books), by importance
  * weight under two bag-of-words multinomials. The trained counterpart
  * of `deterministicMixture` (which reweights by source label, not
  * content) and the distribution-matching sibling of the NB
  * quality classifier. No reference analogue — an LLM-pipeline
  * extension operator (SURVEY.md §2.15).
  *
  *   p̂ = target bucket distribution, q̂ = raw bucket distribution
  *   (add-k smoothed over D = numBuckets hashed word+bigram features);
  *   log w(d) = Σ_{term ∈ d} [ ln p̂(f(term)) − ln q̂(f(term)) ];
  *   select: Gumbel top-k over log w (sampling without replacement
  *   ∝ exp(log w), the paper's resampling rule), with the Gumbel
  *   noise derived deterministically from a salted md5 of the id.
  *
  * Scale shape: both "models" are bucket-count tables BOUNDED at
  * `numBuckets` rows regardless of corpus size (one integer-count
  * aggregation each, map-side combined — the hashing-trick contract
  * shared with [[QualityClassifier]]). The log-ratio table joins
  * broadcast; scoring is one grouped sum per document. The map-only
  * variant goes further: the ratio table rides as a literal lookup
  * array inside a single projection, so scoring a 100 TB raw corpus is
  * ZERO-shuffle — the shape to pair with streaming ingest. Selection
  * is TakeOrderedAndProject (per-partition heaps).
  */
object Dsir {

  /** Hashed-feature counts of a corpus: (f, c) with f in
    * [0, numBuckets), c = total occurrences of terms hashing to f.
    * Word + adjacent-bigram features, salt "dsir_" so DSIR buckets
    * never correlate with classifier/split/sample bucketing. Output
    * bounded at numBuckets rows — persist once per corpus (the
    * at-rest pattern shared with the LM counts tables). */
  def bucketCounts(docs: DataFrame, numBuckets: Int = 1 << 16,
                   textCol: String = "text",
                   fastHash: Boolean = false): DataFrame =
    docs
      .select(explode(QualityClassifier.termArray(col(textCol))).as("term"))
      .select(QualityClassifier.hashedFeature(col("term"), numBuckets,
        fastHash, salt = "dsir_").as("f"))
      .groupBy("f").agg(count(lit(1)).as("c"))

  /** One-pass twin of two [[bucketCounts]] calls for the common case
    * where target and raw are SPLITS OF ONE TABLE (held-out halves,
    * labeled subsets): featurize once, count both sides with
    * conditional sums — halves the explode+hash scans. Returns
    * (targetCounts, rawCounts) with the same (f, c) schema, derived
    * from one materialized (f, ct, cr) table (bounded at numBuckets
    * rows). Rows where `isTarget` is null count toward NEITHER side. */
  def bucketCountsSplit(docs: DataFrame, isTarget: Column,
                        numBuckets: Int = 1 << 16,
                        textCol: String = "text",
                        fastHash: Boolean = false): (DataFrame, DataFrame) = {
    val both = Stage.truncate(docs
      .select(isTarget.as("_t"), explode(QualityClassifier.termArray(col(textCol))).as("term"))
      .select(col("_t"), QualityClassifier.hashedFeature(col("term"), numBuckets,
        fastHash, salt = "dsir_").as("f"))
      .groupBy("f")
      .agg(sum(when(col("_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("cr")))
    (both.where(col("ct") > 0).select(col("f"), col("ct").as("c")),
      both.where(col("cr") > 0).select(col("f"), col("cr").as("c")))
  }

  /** Per-bucket log importance ratio ln p̂(f) − ln q̂(f) with add-k
    * smoothing, DENSE over all numBuckets buckets (unseen buckets get
    * the smoothing floor): (f, lr). ≤ numBuckets rows — broadcastable
    * at any corpus size. */
  def logRatios(targetCounts: DataFrame, rawCounts: DataFrame,
                numBuckets: Int = 1 << 16, k: Double = 1.0): DataFrame = {
    val d = lit(k * numBuckets)
    // Materialize both count tables BEFORE fanning out (each feeds a
    // total and a join below — without this, every consumer re-runs
    // the corpus scan behind the counts; measured as most of x75's
    // first wall). Bounded at numBuckets rows by construction. The
    // output is materialized too: it is the MODEL — ≤ numBuckets rows
    // that every scoring pass broadcasts.
    val tc = Stage.truncate(targetCounts)
    val rc = Stage.truncate(rawCounts)
    val tTot = tc.agg(sum("c").as("t_tot"))
    val rTot = rc.agg(sum("c").as("r_tot"))
    val buckets = spark(targetCounts).range(numBuckets).select(col("id").as("f"))
    Stage.truncate(buckets
      .join(broadcast(tc.withColumnRenamed("c", "ct")), Seq("f"), "left")
      .join(broadcast(rc.withColumnRenamed("c", "cr")), Seq("f"), "left")
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .select(col("f"),
        (log((coalesce(col("ct"), lit(0L)) + lit(k)) / (col("t_tot") + d)) -
         log((coalesce(col("cr"), lit(0L)) + lit(k)) / (col("r_tot") + d))).as("lr")))
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** (id, logw, n_terms) importance log-weights of `raw` documents —
    * the certified join-shaped path: explode terms, broadcast-join the
    * ratio table, one grouped sum. `logw` rounds to 6 decimals (float
    * sum order; same policy as lmScore). Documents with no terms get
    * logw 0.0 and n_terms 0 (an empty product — weight 1). */
  def importanceWeights(raw: DataFrame, ratios: DataFrame,
                        numBuckets: Int = 1 << 16,
                        idCol: String = "doc_id", textCol: String = "text",
                        fastHash: Boolean = false): DataFrame = {
    val scored = raw
      .select(col(idCol), explode(QualityClassifier.termArray(col(textCol))).as("term"))
      .select(col(idCol), QualityClassifier.hashedFeature(col("term"), numBuckets,
        fastHash, salt = "dsir_").as("f"))
      .join(broadcast(ratios), "f")
      .groupBy(col(idCol))
      .agg(round(sum("lr"), 6).as("logw"), count(lit(1)).as("n_terms"))
    raw.select(col(idCol)).join(scored, Seq(idCol), "left")
      .na.fill(Map("logw" -> 0.0, "n_terms" -> 0L))
  }

  /** The ZERO-shuffle scorer: the ratio table as a literal lookup
    * array (`ratioArray(f) = lr`, numBuckets doubles — 0.5 MB at 2^16,
    * driver-bounded by construction), scoring as a pure projection:
    * one `aggregate` fold over the document's hashed terms. Identical
    * results to [[importanceWeights]] (spec-proved); this is the shape
    * that scores a streaming ingest or a 100 TB corpus with no
    * exchange at all. */
  def importanceWeightsMapOnly(raw: DataFrame, ratioArray: Array[Double],
                               numBuckets: Int = 1 << 16,
                               idCol: String = "doc_id", textCol: String = "text",
                               fastHash: Boolean = false): DataFrame = {
    require(ratioArray.length == numBuckets,
      s"ratioArray has ${ratioArray.length} entries, expected $numBuckets")
    val lut = array(ratioArray.map(lit(_)): _*)
    val terms = QualityClassifier.termArray(col(textCol))
    val logw = aggregate(
      transform(terms, t => element_at(lut,
        (QualityClassifier.hashedFeature(t, numBuckets, fastHash,
          salt = "dsir_") + lit(1)).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    raw.select(col(idCol),
      round(coalesce(logw, lit(0.0)), 6).as("logw"),
      coalesce(size(terms), lit(0)).cast("long").as("n_terms"))
  }

  /** Collect a ratio table to the lookup array for the map-only
    * scorer. Bounded at numBuckets doubles by construction. */
  def collectRatios(ratios: DataFrame, numBuckets: Int): Array[Double] = {
    val arr = new Array[Double](numBuckets)
    ratios.select("f", "lr").collect().foreach { r =>
      arr(r.getLong(0).toInt) = r.getDouble(1)
    }
    arr
  }

  /** Gumbel top-k resampling: keep the k documents maximizing
    * logw + Gumbel(id) — sampling without replacement proportional to
    * exp(logw), the paper's selection rule. The Gumbel noise is a
    * DETERMINISTIC function of the id (salted md5 → u ∈ (0,1) →
    * −ln(−ln u)), so selection is reproducible on any engine and any
    * partitioning. `orderBy.limit` → TakeOrderedAndProject. */
  def gumbelTopK(weights: DataFrame, k: Int,
                 idCol: String = "doc_id",
                 salt: String = "dsir_g_"): DataFrame = {
    val u = (conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))),
      1, 7), 16, 10).cast("double") + 0.5) / lit(268435456.0) // 16^7
    weights
      .withColumn("gumbel_key", round(col("logw") - log(-log(u)), 6))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }
}

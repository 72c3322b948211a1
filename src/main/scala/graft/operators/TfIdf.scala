package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.WordCounts

/** TF-IDF keyword extraction — corpus-level term weighting:
  *   tf(d, w)  = count of w in d,
  *   idf(w)    = ln((N + 1) / (df(w) + 1)) + 1   (smoothed),
  *   score     = tf · idf, top-k per document by rank.
  *
  * tf is a PER-ROW computation (a document's counts need only that
  * document's text), done in one pass by the `word_counts` codegen
  * kernel — no token-stream shuffle at all. The only wide exchange is
  * one hash-partition by word, which is then shared: the df/idf
  * aggregate and the tf⋈idf join both consume it (canonically equal
  * subtree → exchange reuse), so the corpus is scanned once and
  * shuffled once at (doc, word) granularity. At web scale the word
  * shuffle partial-aggregates df map-side, and AQE picks broadcast for
  * the idf side when the vocabulary is small.
  */
object TfIdf {

  /** (id, word, tf) term frequencies, lowercased whitespace tokens —
    * map-only: per-document counts from the one-pass kernel, exploded.
    * Rows are (id, word)-unique by construction. */
  def termFrequencies(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      explode(column(WordCounts(expression(col(textCol))))).as(Seq("word", "tf")))

  /** (word, idf) with smoothed inverse document frequency. `tf` rows
    * are (id, word)-unique by construction, so df is a plain COUNT —
    * no countDistinct expansion pass.
    *
    * The count predicate is always true (every tf row has tf ≥ 1 and
    * an id); it is there to REFERENCE the id and tf columns, which
    * stops column pruning from narrowing this branch's copy of the
    * shared word-partitioned exchange. Both consumers then canonicalize
    * to the same exchange and AQE's stage cache runs the map-only tf
    * stage once (pruned branches stop matching and the corpus gets
    * scanned twice — measured as the whole x14 first-run regression). */
  def inverseDocFrequencies(tf: DataFrame, nDocs: Long,
                            idCol: String = "doc_id"): DataFrame =
    tf.groupBy("word")
      .agg(count(when(col("tf") >= 1 && col(idCol).isNotNull, lit(1))).as("df"))
      .withColumn("idf",
        log((lit(nDocs.toDouble) + 1.0) / (col("df") + lit(1.0))) + 1.0)

  /** Top-k keywords per document by tf·idf (deterministic tie-break on
    * the word).
    *
    * The corpus size is a separate eager `count()` — parquet answers
    * it from row-group metadata (aggregate pushdown), and inlining it
    * as a literal keeps the idf subtree a plain two-stage aggregate.
    *
    * `repartition(word)` before fan-out is the load-bearing line: both
    * idf and the join hang off the same word-partitioned exchange, so
    * the map-only tf stage (scan + word_counts + explode) runs ONCE.
    * Without it, the two consumers each re-run the scan (measured as
    * the whole x14 first-run regression in round 2). */
  def topKeywords(docs: DataFrame, k: Int, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol).repartition(col("word"))
    val idf = inverseDocFrequencies(tf, docs.count(), idCol)
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("word"))
    // no broadcast hint on the idf side: a hinted BROADCAST of a
    // COMPUTED subtree forces the aggregation through the driver's
    // broadcast-exchange thread ahead of the main stages (measured
    // ~4s of serial first-run work at sf0.1); AQE converts the
    // shuffle join to broadcast at runtime when the word dim is
    // small, and keeps the shuffle when it isn't — which is also the
    // right call when the vocabulary is web-scale.
    tf.join(idf.select("word", "idf"), "word")
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("word"), col("score"))
  }
}

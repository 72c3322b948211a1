package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Stage

/** Trained logistic-regression quality filter — the linear-model
  * sibling of the NB [[QualityClassifier]]: a curation head over
  * deterministic per-document signals, trained DISTRIBUTIVELY by
  * full-batch gradient descent where each round is exactly one
  * aggregation over the cached feature table (map-side partial sums,
  * model = 4 doubles), then scoring as a pure projection.
  *
  * Certification design: the features are rational arithmetic only
  * (no transcendental), so the feature matrix is bit-identical
  * cross-engine; the per-round gradient AVERAGES round to 6 decimals
  * (the only order-sensitive doubles in the loop), making the whole
  * 5-round trajectory reproducible in a DuckDB mirror CTE-for-CTE —
  * probe x81 certifies train AND score end-to-end. The weight update
  * itself stays unrounded: with an exactly-representable learning
  * rate it is deterministic double arithmetic over round-6 inputs.
  *
  * Scale shape: `iters` scans of a truncated projection (features
  * materialize once); each scan's shuffle is ONE 4-double
  * partial-aggregate row per partition; the driver holds 4 doubles.
  */
object LogisticQuality {

  /** Deterministic per-doc features: quality score ([[TextOps.qualityScore]]),
    * token-count squash n/(n+100), char-count squash c/(c+1000) —
    * each a rational function of the row, each in (0,1). */
  private def featureCols(textCol: String, charsCol: String): Seq[Column] = {
    val nt = TextOps.wsTokenCount(col(textCol)).cast("double")
    Seq(
      TextOps.qualityScore(col(textCol)).as("x1"),
      TextOps.bindOnce(nt)(n => n / (n + lit(100.0))).as("x2"),
      (col(charsCol).cast("double") /
        (col(charsCol).cast("double") + lit(1000.0))).as("x3"))
  }

  private def zOf(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Train on `docs` with a 0/1 `label` column expression. Returns
    * weights (intercept, w_quality, w_tokSquash, w_charSquash).
    * `lr` must be exactly representable in binary (0.5, 0.25, 1.0…)
    * for the cross-engine trajectory guarantee to hold. */
  def train(docs: DataFrame, label: Column, lr: Double = 0.5,
            iters: Int = 5, idCol: String = "doc_id",
            textCol: String = "text",
            charsCol: String = "n_chars"): Array[Double] = {
    require(iters > 0, s"iters must be positive: $iters")
    val f = Stage.truncate(docs.select((col(idCol) +: label.cast("double").as("y") +:
        featureCols(textCol, charsCol)): _*))
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to iters) {
      val e = sigmoid(zOf(w)) - col("y")
      val g = f.agg(round(avg(e), 6).as("d0"),
        round(avg(e * col("x1")), 6).as("d1"),
        round(avg(e * col("x2")), 6).as("d2"),
        round(avg(e * col("x3")), 6).as("d3")).head()
      require(!g.isNullAt(0), "empty training set")
      w = Array.tabulate(4)(j => w(j) - lr * g.getDouble(j))
    }
    w
  }

  /** Score docs under trained weights: p_quality = sigmoid(w·x),
    * rounded to 6 (the one transcendental on the output path). A pure
    * projection — no join, no shuffle; runs unchanged on a stream. */
  def score(docs: DataFrame, w: Array[Double], idCol: String = "doc_id",
            textCol: String = "text",
            charsCol: String = "n_chars"): DataFrame = {
    require(w.length == 4, s"need 4 weights, got ${w.length}")
    docs.select((col(idCol) +: featureCols(textCol, charsCol)): _*)
      .select(col(idCol),
        round(sigmoid(zOf(w)), 6).as("p_quality"))
  }
}

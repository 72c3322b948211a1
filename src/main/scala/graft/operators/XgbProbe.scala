package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.XgbScore
import graft.impact.XgbBooster
import graft.sources.Tables

/** Certification probe for the reference's operational XGBoost damage
  * model (X9): the engine loads the actual artifact
  * `models/operational/xgboost_regression_v4.RDS` (the model
  * run_model_V2.R:53 scores operationally), re-implements GBT leaf
  * summation as a codegen expression, and the DuckDB oracle walks THE
  * SAME parsed trees with a recursive CTE over an inlined node table —
  * two independent traversal implementations of the one true model.
  *
  * Probe inputs: 62 features synthesized from the embeddings table,
  * `emb[j] * scale_j` with scale_j = (median split threshold of
  * feature j) / (median |embedding| of the corpus) — values straddle
  * the thresholds, so the 500-vector corpus takes ~493 distinct leaf
  * paths (measured) rather than one degenerate route.
  */
object XgbProbe {

  val ModelPath: String =
    "/root/reference/IBF-Typhoon-model/models/operational/xgboost_regression_v4.RDS"

  /** Median |value| over the embeddings corpus (stable across the
    * generated SFs); fixed here so Spark plan and oracle SQL share it. */
  private val EmbMedianAbs = 0.0847142

  /** Double literal that DuckDB parses back to the same double (bare
    * decimals become DECIMAL — force the double parser with e0). */
  private def dLit(x: Double): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }
  private def fLit(x: Float): String = dLit(x.toDouble)

  lazy val probes: Seq[Probe] = {
    if (!new java.io.File(ModelPath).isFile) {
      System.err.println(s"[graft] probe x24_xgb_reference_model skipped: model file $ModelPath not found")
      Seq.empty
    } else {
      val booster = XgbBooster.load(ModelPath)
      val scales = booster.medianSplitByFeature.map(_ / EmbMedianAbs)
      val nf = booster.numFeature

      val nodeRows = booster.trees.zipWithIndex.flatMap { case (tr, ti) =>
        tr.feat.indices.map { n =>
          s"($ti,$n,${tr.feat(n)},CAST(${fLit(tr.cond(n))} AS REAL)," +
            s"${if (tr.defaultLeft(n)) "TRUE" else "FALSE"},${tr.left(n)},${tr.right(n)})"
        }
      }.mkString(",")

      val featList = (0 until nf)
        .map(j => s"CAST(embedding[${j + 1}] AS DOUBLE) * ${dLit(scales(j))}")
        .mkString(",")

      val oracle =
        s"""WITH RECURSIVE nodes(tree,node,feat,cond,dleft,l,r) AS (VALUES $nodeRows),
           |feats AS (SELECT vec_id, [$featList] AS f FROM embeddings),
           |walk AS (
           |  SELECT v.vec_id, n.tree, n.node, n.feat, n.cond, n.dleft, n.l, n.r
           |  FROM feats v CROSS JOIN nodes n WHERE n.node = 0
           |  UNION ALL
           |  SELECT w.vec_id, n2.tree, n2.node, n2.feat, n2.cond, n2.dleft, n2.l, n2.r
           |  FROM walk w
           |  JOIN feats v ON v.vec_id = w.vec_id
           |  JOIN nodes n2 ON n2.tree = w.tree AND w.l <> -1 AND n2.node =
           |    CASE WHEN v.f[w.feat+1] IS NULL THEN (CASE WHEN w.dleft THEN w.l ELSE w.r END)
           |         WHEN CAST(v.f[w.feat+1] AS REAL) < w.cond THEN w.l ELSE w.r END
           |),
           |leaves AS (SELECT vec_id, CAST(cond AS DOUBLE) AS leaf FROM walk WHERE l = -1)
           |SELECT vec_id, ROUND(${dLit(booster.baseScore.toDouble)} + SUM(leaf), 6) AS pred
           |FROM leaves GROUP BY vec_id ORDER BY vec_id""".stripMargin

      Seq(Probe("x24_xgb_reference_model",
        (s, d) => {
          val feats = array((0 until nf).map(j =>
            col("embedding")(j).cast("double") * lit(scales(j))): _*)
          Tables.embeddings(s, d)
            .select(col("vec_id"),
              column(XgbScore(expression(feats), booster)).as("p"))
            .select(col("vec_id"), round(col("p"), 6).as("pred"))
            .orderBy("vec_id")
        },
        Some(oracle)))
    }
  }
}

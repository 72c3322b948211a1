package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.impact.ImpactModel

/** The Python path's model step: retrain the damage regressor on the
  * historical table with the reference hyperparameters (fewer rounds),
  * early-stopping on the held-out rows, then score those rows. */
object Retrain {

  final case class Outputs(digestParts: Seq[String], problems: Seq[String])

  private def readCsv(spark: SparkSession, p: Path): DataFrame =
    spark.read.option("header", "true").schema(StructType(
      (ImpactModel.FeatureCols :+ "DAM_perc_dmg").map(StructField(_, DoubleType))))
      .csv(p.toString)

  def run(spark: SparkSession, in: Path, rounds: Int, span: Spans): (Outputs, () => Unit) = {
    val model = span("impact.train") {
      ImpactModel.train(readCsv(spark, in.resolve("training.csv")),
        params = ImpactModel.ReferenceParams.copy(numRound = rounds),
        evalDf = Some(readCsv(spark, in.resolve("training_eval.csv"))))
    }
    val scored = span("impact.score") {
      val df = ImpactModel.predict(model, readCsv(spark, in.resolve("training_eval.csv"))).cache()
      df.count()
      df
    }
    // the same trees walked in plain Scala, with predict's clip and
    // 300 km damage radius, must give the engine's damage_pct
    val rows = scored.select((ImpactModel.FeatureCols :+ "damage_pct").map(col): _*).collect()
    val dist = ImpactModel.FeatureCols.indexOf("HAZ_dis_track_min")
    val bad = rows.count { r =>
      val f = ImpactModel.FeatureCols.indices.map(r.getDouble).toArray
      val want = if (f(dist) > 300.0) 0.0 else math.min(100.0, math.max(0.0, model.predict(f)))
      math.abs(want - r.getDouble(ImpactModel.FeatureCols.size)) > 1e-9
    }
    val problems = if (bad > 0) Seq(s"$bad of ${rows.length} scores differ from the plain tree walk") else Nil
    val parts = model.trees.toSeq.map(t =>
      s"tree|${t.feat.mkString(",")}|${t.cond.mkString(",")}|${t.left.mkString(",")}") ++
      rows.map(r => f"score|${r.getDouble(ImpactModel.FeatureCols.size)}%.6f")
    (Outputs(parts, problems), () => scored.unpersist(blocking = true))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.Bench.timed
import graft.impact.{GbtParams, GbtTrainer}

/** Training-at-scale benchmark for the from-scratch xgboost-hist
  * trainer (X9 train-here): synthetic regression corpus, default 2M
  * rows x 10 features with 5% missing values, trained 10 rounds at
  * depth 6 with the reference's subsample/regularization settings.
  *
  * The scale claim under test: each tree level is ONE distributed
  * aggregation whose shuffle is O(frontier nodes x features x bins) —
  * a few thousand (slot, g, h) triples per partition regardless of row
  * count — so doubling the rows doubles only the map-side scan, never
  * the exchange. The run prints both corpus sizes' wall times so the
  * ratio is visible next to the 10x row ratio.
  */
object BenchTrain {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toInt).getOrElse(2000000)
    val spark = Engine.local(Engine.envCores)

    val nf = 10
    def corpus(n: Int) = {
      // deterministic features from md5-derived longs; y is a noisy
      // piecewise function of the features so trees have real splits
      val fcols = (0 until nf).map { f =>
        val h = conv(substring(md5(concat(col("id").cast("string"),
          lit(s"_f$f"))), 1, 8), 16, 10).cast("long")
        when(h % 20 === 0, lit(Double.NaN))            // 5% missing
          .otherwise((h % 1000).cast("double") / 10.0).as(s"f$f")
      }
      spark.range(n).select(col("id") +: fcols: _*)
        .withColumn("y",
          col("f0") * 0.7 + when(col("f1") > 50, col("f2")).otherwise(-col("f3")) +
            (col("id") % 7).cast("double"))
    }

    val p = GbtParams(numRound = 10, maxDepth = 6, eta = 0.1, gamma = 1.0,
      minChildWeight = 1.0, subsample = 0.8, maxBin = 64)
    val feats = (0 until nf).map(i => s"f$i")

    def run(n: Int): Double = {
      val (booster, s) = timed(GbtTrainer.train(corpus(n), "y", feats, p))
      require(booster.trees.length == p.numRound)
      s
    }

    val small = run(nRows / 10)
    val big = run(nRows)
    // classification twin (binary:logistic): same machinery plus a
    // per-row sigmoid in each level's gradient pass; tree shapes
    // differ under the logistic gain scale, so its wall time is
    // reported separately rather than assumed equal
    val (b, tCls) = timed(GbtTrainer.train(
      corpus(nRows).withColumn("y", (col("y") > 40.0).cast("double")),
      "y", feats, p.copy(objective = "binary:logistic")))
    require(b.trees.length == p.numRound)
    val levels = p.numRound * (p.maxDepth + 1)
    println(s"""{"metric":"train_gbt","rows":$nRows,"features":$nf,""" +
      s""""rounds":${p.numRound},"depth":${p.maxDepth},""" +
      s""""level_aggregations":$levels,""" +
      s""""sec":${f"$big%.1f"},"sec_tenth_corpus":${f"$small%.1f"},""" +
      s""""logistic_sec":${f"$tCls%.1f"},""" +
      s""""rows_per_sec":${(nRows / big).toLong}}""")
    spark.stop()
  }
}

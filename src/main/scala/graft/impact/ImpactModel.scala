package graft.impact

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.XgbScore
import graft.functions.ScalarFunctions

/** X9: the damage regression + post-processing (SURVEY.md §2.10,
  * reference forecast_process.py:409-547, 884-1237).
  *
  * Two scoring paths, both through the same [[XgbBooster]] artifact
  * type and the same `xgb_score` codegen traversal:
  *
  *  - TRAIN-HERE: the Python reference retrains per run
  *    (forecast_process.py:491-517 — n_estimators=100, max_depth=8,
  *    learning_rate=0.025 after xgboost's eta/learning_rate alias
  *    resolution, subsample=0.8, gamma=1, min_child_weight=1,
  *    base_score=0.5, reg:squarederror, early_stopping_rounds=10).
  *    [[GbtTrainer]] re-implements xgboost's `hist` algorithm from the
  *    public equations (histogram split finding, two-direction missing
  *    enumeration, −G/(H+λ) leaves) with one collect per tree level,
  *    partition histograms summed on the driver in partition-index
  *    order — certified tree-for-tree against an independent
  *    single-node implementation (GbtTrainerSpec).
  *  - EXACT ARTIFACT: the R reference scores a saved model
  *    (run_model_V2.R:53,160-165). [[XgbBooster]] loads that very RDS
  *    through the from-scratch R-serialization reader and
  *    `xgb_score(features, path)` reproduces its predictions exactly
  *    (same trees, float32 split compares, double leaf accumulation) —
  *    oracle-certified against an independent SQL tree walk (probe
  *    x24_xgb_reference_model).
  *
  * At scale, scoring either way is a per-row map over the feature
  * vector — embarrassingly parallel, no shuffle; training has no
  * shuffle either: each level ships every partition's nonzero histogram
  * slots to the driver, O(partitions × nonzero slots) per level.
  */
object ImpactModel {

  /** The reference's 19 model features (forecast_process.py:447-469). */
  val FeatureCols: Seq[String] = Seq(
    "HAZ_rainfall_Total", "HAZ_rainfall_max_6h", "HAZ_rainfall_max_24h",
    "HAZ_v_max", "HAZ_v_max_3", "HAZ_dis_track_min",
    "TOP_mean_slope", "TOP_mean_elevation_m", "TOP_ruggedness_stdev",
    "TOP_mean_ruggedness", "TOP_slope_stdev",
    "VUL_poverty_perc", "GEN_with_coast", "VUL_Housing_Units",
    "VUL_StrongRoof_StrongWall", "VUL_StrongRoof_LightWall",
    "VUL_StrongRoof_SalvageWall", "VUL_LightRoof_StrongWall",
    "VUL_vulnerable_groups")

  /** J4/J5: assemble the wide feature matrix — hazard rows keyed
    * (Mun_Code, ens_id) left-joined with the static indicator and
    * housing dimensions (broadcast; ~1.6k rows each). Missing
    * indicators are zero-filled like the reference's fillna(0). */
  def assembleFeatures(hazard: DataFrame, indicators: DataFrame): DataFrame =
    hazard
      .join(broadcast(indicators), Seq("Mun_Code"), "left")
      .na.fill(0.0)

  /** The reference's fit hyperparameters (forecast_process.py:491-517;
    * eta/learning_rate alias resolves last-one-wins to 0.025). Early
    * stopping engages only when an eval set is passed, mirroring
    * xgboost's fit(eval_set=…) contract. */
  val ReferenceParams: GbtParams = GbtParams(
    numRound = 100, maxDepth = 8, eta = 0.025, lambda = 1.0, gamma = 1.0,
    minChildWeight = 1.0, subsample = 0.8, baseScore = 0.5f, seed = 42L,
    earlyStoppingRounds = 10)

  /** Train the damage regressor from scratch on the cluster. `train`
    * must contain FeatureCols (or `features` override) + the label
    * column; nulls/NaNs are xgboost-style missing values. */
  def train(train: DataFrame, labelCol: String = "DAM_perc_dmg",
            features: Seq[String] = FeatureCols,
            params: GbtParams = ReferenceParams,
            evalDf: Option[DataFrame] = None): XgbBooster =
    GbtTrainer.train(train, labelCol, features, params, evalDf)

  /** The classification twin the reference trains alongside the
    * regressor (xgb_model_v1.R:267: classif.xgboost with
    * objective="binary:logistic", nrounds=50) — e.g. a binary
    * `impact_threshold_passed` label. Returns a margin-scale booster;
    * probabilities are `GbtTrainer.sigmoid` of its score, the same
    * per-row map-only scoring path as the regressor. */
  def trainClassifier(train: DataFrame, labelCol: String,
                      features: Seq[String] = FeatureCols,
                      params: GbtParams =
                        ReferenceParams.copy(numRound = 50,
                          objective = "binary:logistic"),
                      evalDf: Option[DataFrame] = None): XgbBooster =
    GbtTrainer.train(train, labelCol, features,
      params.copy(objective = "binary:logistic"), evalDf)

  /** Predict + the reference's postprocessing chain:
    * clip negatives to 0, cap at 100 (F9); zero damage beyond the
    * 300 km wind-damage radius (P11, settings.py:188); damaged-house
    * count (F7); affected population (F6). Scoring runs inside
    * whole-stage codegen as an [[XgbScore]] expression over `model` —
    * the same traversal x24 certifies on the operational artifact. */
  def predict(model: XgbBooster, data: DataFrame,
              features: Seq[String] = FeatureCols,
              windDamageRadiusKm: Double = 300.0): DataFrame = {
    // SQL NULL must follow xgboost's missing/default_left routing, not be
    // read as 0.0: ArrayData.toDoubleArray() turns null elements into 0.0,
    // so substitute NaN explicitly (GbtTrainer bins NaN as missing and
    // XgbBooster routes NaN via each node's default direction).
    val featArray = array(features.map(f =>
      coalesce(col(f).cast("double"), lit(Double.NaN))): _*)
    val score = column(XgbScore(expression(featArray), model))
    data
      .withColumn("damage_pct",
        when(col("HAZ_dis_track_min") > windDamageRadiusKm, 0.0)
          .otherwise(ScalarFunctions.clip(score, 0.0, 100.0)))
      .withColumn("damage_num",
        ScalarFunctions.damagedHouses(col("damage_pct"), col("VUL_Housing_Units")))
      .withColumn("affected_population",
        ScalarFunctions.affectedPopulation(col("damage_num")))
  }

  /** J8 + F8: training-set preparation — join the housing-growth
    * correction factors by the year parsed off the typhoon name
    * (forecast_process.py:439-445: `substr(typhoon, -4)`), then apply
    * the label-hygiene rule (vmax>25 → dmg/growth; vmax<25 → 0;
    * else null). */
  def prepareTraining(training: DataFrame, growthFactors: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    training
      .withColumn("year", substring(col("typhoon"), -4, 4))
      .join(bc(growthFactors), Seq("year"), "left")
      .withColumn("DAM_perc_dmg",
        ScalarFunctions.setZeros(col("HAZ_v_max"), col("DAM_perc_dmg_raw"), col("growth_factor")))
  }

  /** A4: ensemble summary per municipality — null-skipping mean/min/max
    * like the reference's nanmean/nanmin/nanmax
    * (forecast_process.py:986-995). */
  def ensembleSummary(impact: DataFrame): DataFrame =
    impact.groupBy("Mun_Code").agg(
      avg("damage_pct").as("mean_damage_pct"),
      min("damage_pct").as("min_damage_pct"),
      max("damage_pct").as("max_damage_pct"),
      avg("damage_num").as("mean_damage_num"),
      min("HAZ_dis_track_min").as("min_dist_track"),
      max("HAZ_v_max").as("max_v_max"),
      avg(when(col("HAZ_dis_track_min") < 50, 1.0).otherwise(0.0))
        .as("prob_within_50km"))

  /** J6: per-municipality probability joined back onto member rows —
    * expressed as a window (no join, no shuffle duplication;
    * SURVEY.md J6 notes window is preferred). */
  def withDist50Probability(impact: DataFrame): DataFrame =
    impact.withColumn("prob_within_50km",
      avg(when(col("HAZ_dis_track_min") < 50, 1.0).otherwise(0.0))
        .over(Window.partitionBy("Mun_Code")))
}

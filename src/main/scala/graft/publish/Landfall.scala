package graft.publish

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Stage

/** The landfall state machine (SURVEY.md §2.11, reference
  * forecast_process.py:655-879) — the pipeline's only genuinely
  * stateful/branching control flow, isolated as a pure function over a
  * per-storm state table so both batch and foreachBatch can drive it.
  *
  * Landfall codes (reference docstring):
  *   1  ON TRACK TO LANDFALL
  *   10 ON TRACK TO LANDFALL but far (>168 h)
  *   2  ALREADY MADE LANDFALL (past) — re-upload previous cycle
  *   3  WILL PASS NEXT TO LAND
  *   30/6 WILL PASS NEXT TO LAND but far
  *   5  ALREADY PASSED the closest point to land
  *   60 BEYOND THE MAXIMUM DISTANCE LIMIT (no-event scenario)
  */
object Landfall {

  // Constants from the reference settings.py (public repo):
  val LatencyCorrectionH   = 8      // settings.py:184
  val LonLimitLeadtime     = 120.0  // settings.py:185
  val MaxDistFromCoastKm   = 2000.0 // settings.py:214

  /** Annotate an HRES track with landfall flags and derive the
    * per-storm state row.
    *
    * Input track columns: storm_id, time: timestamp, lat, lon,
    * vmax (10-min average — converted to 1-min here, the reference's
    * /0.88 quirk applied ONLY on this path: forecast_process.py:685),
    * on_land: boolean (point-in-polygon precomputed via
    * geo.SpatialJoin), dist_to_land_km: double (min distance to any
    * municipality centroid — J9 output).
    *
    * Returns (stateDf, annotatedTrackDf):
    *   state: storm_id, landfall_code, lead_time_hours, lead_time
    *   track: input + vmax_1min, first_landfall, closest_to_land
    *
    * Evaluates when called: the per-storm window pass (and with it the
    * whole upstream track plan) runs once, into one truncation
    * ([[Stage.truncate]]), and both results read that materialization.
    * Every window column is a per-storm constant, so the state is one
    * row per storm of it: the pass also numbers each storm's rows by
    * time, and the state keeps row 1, with no further exchange or
    * aggregate. (Numbering after the checkpoint would shuffle again:
    * under AQE a checkpoint does not know its `storm_id` partitioning.)
    * The track is not collected: the checkpoint stays distributed,
    * whatever its size.
    */
  def evaluate(track: DataFrame, forecastTime: Timestamp): (DataFrame, DataFrame) = {
    val byStorm = Window.partitionBy("storm_id")

    val annotated0 = Stage.truncate(track
      .withColumn("vmax_1min", col("vmax") / 0.88)
      // W7: first time on land per storm
      .withColumn("first_land_time",
        min(when(col("on_land"), col("time"))).over(byStorm))
      // W8: closest-approach distance per storm
      .withColumn("min_dist", min("dist_to_land_km").over(byStorm))
      .withColumn("max_lon", max("lon").over(byStorm))
      .withColumn("first_landfall",
        col("first_land_time").isNotNull && col("time") === col("first_land_time"))
      // deterministic single closest point: earliest time at min distance
      .withColumn("closest_time",
        min(when(col("dist_to_land_km") === col("min_dist"), col("time"))).over(byStorm))
      .withColumn("closest_to_land", col("time") === col("closest_time"))
      .withColumn("storm_row", row_number().over(byStorm.orderBy("time"))))

    // the first landfall point's time is first_land_time itself, so the
    // reference time is the landfall, else the closest approach
    val state = annotated0
      .where(col("storm_row") === 1)
      .withColumn("ref_time", coalesce(col("first_land_time"), col("closest_time")))
      .withColumn("hours0",
        (floor((unix_timestamp(col("ref_time")) - unix_timestamp(lit(forecastTime))) / 3600)
          - LatencyCorrectionH).cast("int"))
      .withColumn("past", col("hours0") < 0 || col("max_lon") < LonLimitLeadtime)
      .withColumn("landfall_code",
        when(col("first_land_time").isNotNull,
          when(col("past"), 2).when(col("hours0") > 168, 10).otherwise(1))
          .when(col("min_dist") < MaxDistFromCoastKm,
            when(col("past"), 5).when(col("hours0") > 168, 6).otherwise(3))
          .otherwise(60))
      .withColumn("lead_time_hours",
        when(col("landfall_code").isin(2, 5), 0)
          .when(col("landfall_code") === 60, 168)
          .otherwise(col("hours0")))
      .withColumn("lead_time", concat(col("lead_time_hours").cast("string"), lit("-hour")))
      .select("storm_id", "landfall_code", "lead_time_hours", "lead_time",
        "min_dist", "first_land_time")

    val annotated = annotated0.drop(
      "first_land_time", "min_dist", "max_lon", "closest_time", "storm_row")
    (state, annotated)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.hazard.Windfield
import graft.impact.{ImpactModel, TriggerReport, Triggers}
import graft.publish.Payloads

/** The full forecast dataflow assembled as lazy logical plans
  * (SURVEY.md §3.1): tracks → windfield → per-municipality hazard →
  * feature matrix → damage model → ensemble aggregation → triggers →
  * exposure payloads. The reference's per-storm/per-member Python loop
  * (forecast_process.py:293-395, 1505-1770) becomes partition-parallel
  * execution: the windfield streams the centroid grid against the
  * broadcast track nodes, so its pair work spreads over the grid's
  * partitions rather than one task per member. Actions happen only at
  * sinks, and at the trigger step, which collects one row per member
  * once and returns the trigger tables as local relations.
  */
object Forecast {

  /** Per-municipality hazard per ensemble member
    * (windfieldDataHRS, forecast_process.py:1578-1624):
    *   J2/A1: max wind + cell count per municipality from the
    *   windfield; X8/A2: min flat-earth track distance (the
    *   reference's deliberate deg×111 quirk — NOT haversine).
    * Returns (storm_id, ens_id, Mun_Code, HAZ_v_max, n_cells,
    * HAZ_dis_track_min). */
  def municipalHazard(tracks: DataFrame, centroids: DataFrame,
                      centroidAdmin: DataFrame,
                      metric: String = "geosphere"): DataFrame = {
    val wf = Windfield.compute(tracks, centroids, metric)
    val intensity = Windfield.intensity(wf)   // max speed over time per centroid

    val wind = intensity
      .join(broadcast(centroidAdmin), "centroid_id")
      .groupBy(col("storm_id"), col("ens_id"), col("admin_code").as("Mun_Code"))
      .agg(max("intensity").as("HAZ_v_max"), count(lit(1)).as("n_cells"))

    // X8: min distance from any track node to any cell of the
    // municipality, flat-earth ×111 km (forecast_process.py:1603-1619)
    val nodes = tracks.select(
      col("storm_id"), col("ens_id"), col("lat").as("t_lat"), col("lon").as("t_lon"))
    val cells = centroids.join(broadcast(centroidAdmin), "centroid_id")
    val dist = nodes
      .join(broadcast(cells.select(col("admin_code"), col("lat"), col("lon"))),
        // an 11° box (twice the windfield's 5.5°) around each node keeps
        // the pair count sane; a municipality with no cell in the box of
        // any node gets no row
        col("lat") > col("t_lat") - Windfield.MaxDistDeg * 2 &&
        col("lat") < col("t_lat") + Windfield.MaxDistDeg * 2 &&
        col("lon") > col("t_lon") - Windfield.MaxDistDeg * 2 &&
        col("lon") < col("t_lon") + Windfield.MaxDistDeg * 2)
      .groupBy(col("storm_id"), col("ens_id"), col("admin_code").as("Mun_Code"))
      .agg(min(GeoFunctions.flatEarthKm(
        col("t_lat"), col("t_lon"), col("lat"), col("lon"))).as("HAZ_dis_track_min"))

    // J3: left join intensity agg with distance agg
    dist.join(wind, Seq("storm_id", "ens_id", "Mun_Code"), "left")
      .na.fill(0.0, Seq("HAZ_v_max")).na.fill(0L, Seq("n_cells"))
  }

  /** J4/J11: feature assembly — hazard ⋈ rainfall ⋈ static indicators,
    * all broadcast dims, zero-filled like the reference. */
  def features(hazard: DataFrame, rain: DataFrame, indicators: DataFrame): DataFrame =
    hazard
      .withColumn("HAZ_v_max_3", pow(col("HAZ_v_max"), 3))
      .join(broadcast(rain), Seq("Mun_Code"), "left")
      .join(broadcast(indicators), Seq("Mun_Code"), "left")
      .na.fill(0.0)

  /** Ensemble aggregation + all four trigger tables, from the
    * per-member impact table in one pass ([[Triggers.report]]); the
    * tables come back as local relations. */
  def triggers(impact: DataFrame): TriggerReport = Triggers.report(impact)

  /** K2 payload values: per-municipality ensemble-mean damaged houses,
    * densified to every pcode. */
  def exposureValues(impact: DataFrame, pcodes: DataFrame): DataFrame =
    Payloads.densify(
      impact.groupBy("Mun_Code").agg(avg("damage_num").as("amount"))
        .withColumnRenamed("Mun_Code", "placeCode"),
      pcodes, "amount")
}

package graft.publish

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Bounded

/** K2/K3: exposure-layer and track JSON assembly (SURVEY.md §2.2,
  * reference forecast_process.py:848-872, 1160-1233, 1666-1769).
  *
  * Each builder evaluates when it is called, as
  * [[graft.impact.Triggers.report]] does: it collects its input once
  * ([[Bounded.gathered]]) and renders the document over the resulting
  * one-row local relation (sorted array of structs → to_json), so the
  * JSON is Spark's own bytes and collecting the returned frame runs no
  * job. That is bounded by
  * construction: every input row ends up in the one document (~1.6k
  * municipalities, or one track's 3-hourly points). The expensive
  * upstream stays distributed; the HTTP POST itself is a driver-side
  * adapter outside the engine (SURVEY.md §2.14).
  */
object Payloads {

  /** K2: one exposure-layer JSON document per (indicator, lead time):
    * {countryCodeISO3, exposurePlaceCodes: [{placeCode, amount}...],
    *  adminLevel, leadTime, dynamicIndicator, disasterType, eventName,
    *  date?}. `values` columns: placeCode: string, amount: numeric. */
  def exposureLayer(values: DataFrame, indicator: String, leadTime: String,
                    eventName: String, adminLevel: Int = 3,
                    country: String = "PHL",
                    disasterType: String = "typhoon"): DataFrame =
    Bounded.gathered(values.select(col("placeCode"), round(col("amount"), 2).as("amount")),
      "places")
      .select(to_json(struct(
        lit(country).as("countryCodeISO3"),
        // sorting the (placeCode, amount) structs makes the document
        // independent of the input's row order
        sort_array(col("places")).as("exposurePlaceCodes"),
        lit(adminLevel).as("adminLevel"),
        lit(leadTime).as("leadTime"),
        lit(indicator).as("dynamicIndicator"),
        lit(disasterType).as("disasterType"),
        lit(eventName).as("eventName"))).as("payload"))

  /** K3: track JSON (`trackpointDetails`) — 3-hourly points only (P6,
    * forecast_process.py:850, 1550-1552). Track columns: time, lat,
    * lon, vmax_1min, first_landfall, closest_to_land, storm_id. */
  def trackPayload(track: DataFrame, eventName: String,
                   leadTime: String, country: String = "PHL"): DataFrame = {
    val threeHourly = track.where(
      hour(col("time")) % 3 === 0 && minute(col("time")) === 0)
    // chronological order made deterministic by sorting (time, point)
    // pairs, then projecting the points back out
    Bounded.gathered(threeHourly.select(
        col("time").as("t"),
        struct(
          col("lat"), col("lon"),
          date_format(col("time"), "MM-dd-yyyy HH:mm:ss").as("timestampOfTrackpoint"),
          round(col("vmax_1min"), 2).as("windspeed"),
          col("first_landfall").as("firstLandfall"),
          col("closest_to_land").as("closestToLand")).as("p")), "points")
      .select(to_json(struct(
        lit(country).as("countryCodeISO3"),
        lit(leadTime).as("leadTime"),
        lit(eventName).as("eventName"),
        transform(array_sort(col("points")), x => x("p")).as("trackpointDetails")))
        .as("payload"))
  }

  /** No-event heartbeat (pipeline.py:148-220): zero-filled layers for
    * every pcode, uploaded each cycle with no active storm. */
  def noEventLayer(pcodes: DataFrame, indicator: String,
                   country: String = "PHL"): DataFrame =
    exposureLayer(
      pcodes.select(col("pcode").as("placeCode"), lit(0.0).as("amount")),
      indicator = indicator, leadTime = "72-hour", eventName = null,
      country = country)

  /** J7: densify a sparse per-municipality result to ALL pcodes with
    * zero-fill before payload assembly (forecast_process.py:1055-1147). */
  def densify(values: DataFrame, pcodes: DataFrame,
              amountCol: String): DataFrame =
    pcodes.select(col("pcode").as("placeCode"))
      .join(values.withColumnRenamed(amountCol, "amount"), Seq("placeCode"), "left")
      .na.fill(0.0, Seq("amount"))
      .select("placeCode", "amount")
}

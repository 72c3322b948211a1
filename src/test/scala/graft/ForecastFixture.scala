package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.geo.SpatialJoin
import graft.hazard.CentroidGrid
import graft.impact.{GbtParams, ImpactModel}
import graft.rain.Rainfall
import graft.tracks.TrackPrep

/** A synthetic forecast small enough for a spec: a 5-member storm
  * crossing four square "municipalities", resampled to 30 min, scored
  * by a tiny GBT fitted to a wind-driven label. Each stage is a lazy
  * val, so a spec asserts on the stages it needs and the pipeline runs
  * once per suite. */
trait ForecastFixture { self: SparkTestBase =>

  protected def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // 4 square "municipalities" tiling (13..15)x(122..124)
  lazy val polygons: DataFrame = {
    import spark.implicits._
    Seq(
      ("PH051000000", "POLYGON ((122 13, 123 13, 123 14, 122 14, 122 13))"),
      ("PH052000000", "POLYGON ((123 13, 124 13, 124 14, 123 14, 123 13))"),
      ("PH161000000", "POLYGON ((122 14, 123 14, 123 15, 122 15, 122 14))"),
      ("PH162000000", "POLYGON ((123 14, 124 14, 124 15, 123 15, 123 14))"))
      .toDF("admin_code", "wkt")
  }

  lazy val pcodes: DataFrame = polygons.select(col("admin_code").as("pcode"))

  lazy val centroids: DataFrame = CentroidGrid.generate(spark, 122.0, 13.0, 124.0, 15.0, 0.1)
  lazy val centroidAdmin: DataFrame = SpatialJoin.centroidAdminMap(centroids, polygons).cache()

  // 5-member ensemble: small lat offsets per member, 6-hourly, crossing the box
  lazy val tracks: DataFrame = {
    import spark.implicits._
    val rows = for {
      ens <- 0 until 5
      step <- 0 until 6
    } yield ("HAGIBIS", ens, ts(f"2024-01-01 ${step * 6}%02d:00:00"),
      13.0 + step * 0.4 + ens * 0.05, 125.0 - step * 0.6,
      960.0 + ens, 1010.0, 0.0)
    rows.toDF("storm_id", "ens_id", "time", "lat", "lon",
      "central_pressure", "environmental_pressure", "radius_max_wind")
  }

  /** W4: 30-min resample. */
  lazy val resampled: DataFrame = TrackPrep.resample(tracks,
    Seq("lat", "lon", "central_pressure", "environmental_pressure", "radius_max_wind"))

  /** X1-X5 + J2/A1/A2/X8: per-municipality hazard. */
  lazy val hazard: DataFrame =
    Forecast.municipalHazard(resampled, centroids, centroidAdmin).cache()

  /** Rainfall: 2 cells × 3 timesteps × 3 members, mapped to admins via
    * the cells' own (coarse) cell→admin map. */
  lazy val rain: DataFrame = {
    import spark.implicits._
    val cube = (for {
      num <- 0 until 3; t <- 0 until 3
      (la, lo) <- Seq((13.5, 122.5), (14.5, 123.5))
    } yield (ts(f"2024-01-01 0$t:00:00"), la, lo, num, 10.0 * t + num))
      .toDF("time", "lat", "lon", "number", "precip")
    val cellIds = Rainfall.withCellId(Rainfall.ensembleMedian(cube), res = 0.5)
    val rainCentroids = cellIds.select("centroid_id", "lat", "lon").distinct()
    val rainAdmin = SpatialJoin.centroidAdminMap(rainCentroids, polygons)
    Rainfall.adminRainfall(cellIds, rainAdmin)
      .select(col("admin_code").as("Mun_Code"), col("max_rain").as("HAZ_rainfall_max_6h"))
  }

  lazy val indicators: DataFrame = {
    import spark.implicits._
    Seq(
      ("PH051000000", 1000.0), ("PH052000000", 2000.0),
      ("PH161000000", 1500.0), ("PH162000000", 800.0))
      .toDF("Mun_Code", "VUL_Housing_Units")
  }

  lazy val features: DataFrame = Forecast.features(hazard, rain, indicators)

  /** A tiny model fitted to a synthetic label (damage grows with wind),
    * scored on the features. */
  lazy val impact: DataFrame = {
    val featCols = Seq("HAZ_v_max", "HAZ_v_max_3", "HAZ_dis_track_min",
      "HAZ_rainfall_max_6h", "VUL_Housing_Units")
    val trainDf = features.withColumn("DAM_perc_dmg",
      least(lit(100.0), pow(col("HAZ_v_max"), 2) / 50.0))
    val model = ImpactModel.train(trainDf, features = featCols,
      params = GbtParams(numRound = 8, maxDepth = 3, eta = 0.3, gamma = 0.1))
    ImpactModel.predict(model, features, features = featCols).cache()
  }

  /** The HRES member as `Landfall.evaluate` reads it: on_land from the
    * polygons, dist_to_land_km to the nearest municipality centre
    * (flat-earth, as in the forecast's X8). */
  lazy val hresTrack: DataFrame = {
    val hres = resampled.where(col("ens_id") === 0)
    val onLand = SpatialJoin.centroidAdminMap(
        hres.select(unix_timestamp(col("time")).as("centroid_id"), col("lat"), col("lon")),
        polygons)
      .select(col("centroid_id").as("t"), lit(true).as("on_land"))
    val centres = centroids.join(centroidAdmin, "centroid_id").groupBy("admin_code")
      .agg(avg("lat").as("m_lat"), avg("lon").as("m_lon"))
    val dist = hres.select(col("time"), col("lat").as("t_lat"), col("lon").as("t_lon"))
      .crossJoin(centres)
      .groupBy("time").agg(min(GeoFunctions.flatEarthKm(col("t_lat"), col("t_lon"),
        col("m_lat"), col("m_lon"))).as("dist_to_land_km"))
    hres.select(col("storm_id"), col("time"), col("lat"), col("lon"),
        (col("environmental_pressure") - col("central_pressure")).as("vmax"))
      .join(onLand, unix_timestamp(col("time")) === col("t"), "left").drop("t")
      .na.fill(false, Seq("on_land"))
      .join(dist, "time")
  }
}

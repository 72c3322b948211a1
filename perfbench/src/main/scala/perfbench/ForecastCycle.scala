package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Forecast
import graft.functions.GeoFunctions
import graft.geo.SpatialJoin
import graft.hazard.{CentroidGrid, Windfield}
import graft.impact.{DamageProbability, ImpactModel, XgbBooster}
import graft.publish.{Landfall, Payloads, Sinks}
import graft.rain.Rainfall
import graft.sources.ClimadaSources
import graft.tracks.TrackPrep

/** The static tables a forecast cycle reuses: the 0.05° centroid grid,
  * its centroid→municipality map, the rain grid's map, indicators,
  * pcodes and municipality centre points. */
final case class ForecastStatic(centroids: DataFrame, polygons: DataFrame,
                                centroidAdmin: DataFrame, rainAdmin: DataFrame,
                                indicators: DataFrame, pcodes: DataFrame,
                                munCentres: DataFrame)

/** What one cycle hands to the output check. */
final case class ForecastOutputs(triggers: Seq[String], payloads: Seq[String],
                                 hazard: Seq[String], damageTable: Seq[String],
                                 landfall: Seq[String], impactRows: Seq[ImpactRow],
                                 drefTriggered: Map[String, Boolean],
                                 cerf: Map[String, Boolean], start: Map[String, Boolean],
                                 hi: Map[String, Boolean], counters: Map[String, Double])

final case class ImpactRow(mun: String, ens: Int, damagePct: Double, damageNum: Double)

object ForecastCycle {

  val TrackCols = Seq("lat", "lon", "central_pressure", "environmental_pressure",
    "radius_max_wind", "max_sustained_wind")

  /** Static tables, built once per session (the cron pays this on every
    * run). */
  def setup(spark: SparkSession, in: Path, span: Spans): ForecastStatic =
    span("geo.admin_map") {
      val centroids = CentroidGrid.philippines(spark).cache()
      val polygons = spark.read.option("header", "true").option("sep", "\t")
        .schema("admin_code STRING, wkt STRING").csv(in.resolve("municipalities.tsv").toString)
        .cache()
      val centroidAdmin = SpatialJoin.centroidAdminMap(centroids, polygons).cache()
      val g = Inputs.RainGrid
      val rainCells = Rainfall.withCellId(spark.range(g.points.toLong).select(
        (lit(g.lat1) - floor(col("id") / g.ni) * g.res).as("lat"),
        (lit(g.lon1) + (col("id") % g.ni) * g.res).as("lon")), g.res)
        .select("centroid_id", "lat", "lon")
      val rainAdmin = SpatialJoin.centroidAdminMap(rainCells, polygons).cache()
      val indicatorSchema = StructType(StructField("Mun_Code", StringType) +:
        Inputs.StaticCols.map(StructField(_, DoubleType)))
      val indicators = spark.read.option("header", "true").schema(indicatorSchema)
        .csv(in.resolve("indicators.csv").toString).cache()
      val pcodes = polygons.select(col("admin_code").as("pcode")).cache()
      val munCentres = centroids.join(centroidAdmin, "centroid_id")
        .groupBy(col("admin_code").as("Mun_Code"))
        .agg(avg("lat").as("m_lat"), avg("lon").as("m_lon")).cache()
      Seq(centroids, polygons, centroidAdmin, rainAdmin, indicators, pcodes, munCentres)
        .foreach(_.count())
      ForecastStatic(centroids, polygons, centroidAdmin, rainAdmin, indicators, pcodes, munCentres)
    }

  /** The physical plan that filled a cached table, with its metrics. */
  private def cachedPlan(spark: SparkSession, df: DataFrame) =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .get.cachedRepresentation.cacheBuilder.cachedPlan

  /** One forecast cycle from encoded inputs to written outputs. Every
    * table the cycle caches is unpersisted by the returned cleanup. */
  def run(spark: SparkSession, spec: Inputs.ForecastSpec, st: ForecastStatic, in: Path,
          out: Path, span: Spans): (ForecastOutputs, () => Unit) = {
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df.cache(); df.count(); df }
    val counters = scala.collection.mutable.Map[String, Double]()

    val (tracks, forecastTime) = span("sources.bufr") {
      val raw = ClimadaSources.readEcmwfBufr(spark, in.resolve("tracks.bufr").toString)
      // the message's max-wind position gives the radius of maximum
      // wind (km → nm); without it the windfield estimates it from
      // pressure
      // (decoded on the driver; the table is a local relation)
      (raw.withColumn("radius_max_wind",
        when(isnan(col("max_radius_km")), lit(0.0)).otherwise(col("max_radius_km") / Windfield.NmToKm)),
        Timestamp.valueOf(Inputs.RefTime))
    }
    val (cube6h, cube24h) = span("sources.grib2") {
      val fields = ClimadaSources.readGrib2(spark, in.resolve("rain").toString)
      val cube = keep(fields.select(
        when(col("path").contains("bc_24h"), 24).otherwise(6).as("accum"),
        (lit(forecastTime).cast("long") + col("forecast_time") * 3600L).cast("timestamp").as("time"),
        col("lat"), col("lon"), col("member").as("number"), col("value").as("precip")))
      (cube.where(col("accum") === 6).drop("accum"), cube.where(col("accum") === 24).drop("accum"))
    }
    val resampled = span("tracks.prep") {
      keep(TrackPrep.resample(TrackPrep.filterActivePAR(tracks), TrackCols))
    }
    val intensity = span("hazard.windfield") {
      // cached under the same plan municipalHazard builds, so the
      // windfield is computed once and read back from the cache there
      val i = keep(Windfield.intensity(Windfield.compute(resampled, st.centroids)))
      val plan = cachedPlan(spark, i)
      // the distance mask is evaluated inside the node×centroid join,
      // so the join's output rows are the pairs the windfield keeps
      counters("hazard.kept_pairs") = PlanMetrics.joinRows(plan, Set("c_lat", "hol_b")).toDouble
      i
    }
    val hazard = span("forecast.hazard") {
      val h = keep(Forecast.municipalHazard(resampled, st.centroids, st.centroidAdmin))
      val plan = cachedPlan(spark, h)
      counters("forecast.dist_pairs") =
        PlanMetrics.joinRows(plan, Set("t_lat", "admin_code")).toDouble
      h
    }
    val rain = span("rain.zonal") {
      keep(Rainfall.rainData(cube6h, cube24h, st.rainAdmin).select(col("Mun_Code"),
        col("max_24h_rain").as("HAZ_rainfall_Total"),
        col("max_6h_rain").as("HAZ_rainfall_max_6h"),
        col("max_24h_rain").as("HAZ_rainfall_max_24h")))
    }
    val feats = span("forecast.features") { keep(Forecast.features(hazard, rain, st.indicators)) }
    // the R path's semantics: score with a saved booster file
    val model = span("impact.train") { XgbBooster.load(in.resolve("booster.json").toString) }
    val impact = span("impact.score") { keep(ImpactModel.predict(model, feats)) }
    val (report, rep, dmgRows) = span("impact.triggers") {
      val r = Forecast.triggers(impact)
      val rows = Seq(r.dref, r.cerf, r.start, r.hi).map(_.collect().toSeq)
      (r, rows, DamageProbability.municipalityTable(impact, 0.5, 100.0).orderBy("Mun_Code").collect().toSeq)
    }
    val (docs, stateRows) = span("publish.payloads") {
      val hres = resampled.where(col("ens_id") === 0)
      val points = hres.select(unix_timestamp(col("time")).as("centroid_id"), col("lat"), col("lon"))
      val onLand = SpatialJoin.centroidAdminMap(points, st.polygons)
        .select(col("centroid_id").as("t"), lit(true).as("on_land"))
      val dist = hres.select(col("time"), col("lat").as("t_lat"), col("lon").as("t_lon"))
        .crossJoin(broadcast(st.munCentres))
        .groupBy("time").agg(min(GeoFunctions.flatEarthKm(col("t_lat"), col("t_lon"),
          col("m_lat"), col("m_lon"))).as("dist_to_land_km"))
      val track = hres.select(col("storm_id"), col("time"), col("lat"), col("lon"),
          col("max_sustained_wind").as("vmax"))
        .join(onLand, unix_timestamp(col("time")) === col("t"), "left").drop("t")
        .na.fill(false, Seq("on_land"))
        .join(dist, "time")
      val (state, annotated) = Landfall.evaluate(track, forecastTime)
      val stateRows = state.collect().toSeq
      val lead = stateRows.headOption.map(_.getAs[String]("lead_time")).getOrElse("72-hour")
      val pop = Payloads.densify(
        impact.groupBy(col("Mun_Code").as("placeCode")).agg(avg("affected_population").as("amount")),
        st.pcodes, "amount")
      val docs = Seq(
        Payloads.exposureLayer(Forecast.exposureValues(impact, st.pcodes), "houses_affected",
          lead, spec.stormName),
        Payloads.exposureLayer(pop, "population_affected", lead, spec.stormName),
        Payloads.trackPayload(annotated, spec.stormName, lead))
        .map(_.collect().head.getString(0))
      Seq("dref" -> report.dref, "cerf" -> report.cerf, "start" -> report.start, "hi" -> report.hi)
        .foreach { case (n, df) => Sinks.writeSingleCsv(df, out.resolve(n).toString) }
      (docs, stateRows)
    }

    // ---- outputs for the check (after the cycle's work) ----------------
    // pairs the windfield tries: every node after the first of a track
    // against every centroid in the box of one of its nodes. The
    // executed plan gives that reachable set's size, summed over the
    // tracks (its distinct aggregate); the nodes per track come from
    // the cached track table. Every generated member has the same
    // nodes, so the mean below is exact.
    val reachable = PlanMetrics.finalAggRows(cachedPlan(spark, intensity), Set("c_lat"), Set("hol_b"))
    val nodesAfterFirst = resampled.groupBy("storm_id", "ens_id").count().collect().map(_.getLong(2) - 1)
    counters("hazard.candidate_pairs") = reachable.toDouble * nodesAfterFirst.sum / nodesAfterFirst.length
    def rowStr(r: Row): String = r.toSeq.map {
      case d: Double => f"$d%.6f"
      case null => "null"
      case o => o.toString
    }.mkString("|")
    val triggerStrs = Seq("dref", "cerf", "start", "hi").zip(rep).flatMap { case (n, rows) =>
      rows.map(r => s"$n|${rowStr(r)}").sorted
    }
    val hazardStrs = hazard.groupBy("Mun_Code")
      .agg(round(max("HAZ_v_max"), 2).as("v"), round(min("HAZ_dis_track_min"), 2).as("d"))
      .orderBy("Mun_Code").collect().map(rowStr).toSeq
    val impactRows = impact.select("Mun_Code", "ens_id", "damage_pct", "damage_num").collect()
      .map(r => ImpactRow(r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3).toDouble)).toSeq
    def flags(rows: Seq[Row], key: Row => String): Map[String, Boolean] =
      rows.map(r => key(r) -> r.getAs[Boolean]("triggered")).toMap
    val outputs = ForecastOutputs(
      triggers = triggerStrs, payloads = docs, hazard = hazardStrs,
      damageTable = dmgRows.map(rowStr), landfall = stateRows.map(rowStr),
      impactRows = impactRows,
      drefTriggered = flags(rep(0), _.getAs[String]("threshold_label")),
      cerf = flags(rep(1), _.getAs[String]("threshold_label")),
      start = flags(rep(2), r => r.getAs[String]("province") + "/" + r.getAs[String]("threshold_label")),
      hi = flags(rep(3), r => r.getAs[String]("province") + "/" + r.getAs[String]("threshold_label")),
      counters = counters.toMap)
    (outputs, () => cached.foreach(_.unpersist(blocking = true)))
  }
}

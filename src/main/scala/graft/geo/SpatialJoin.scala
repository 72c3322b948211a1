package graft.geo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.WKTReader

/** J1: grid-point → admin-polygon spatial join (SURVEY.md §2.4).
  *
  * The reference computes `sjoin(grid, admin)` ONCE in `__init__`
  * (forecast_process.py:99-121) and reuses the result for every member
  * and storm — the same trick here: build a static centroid→admin map
  * with one broadcast JTS pass, persist it, and every later "spatial"
  * operation becomes a plain equi-join on `centroid_id`.
  *
  * Polygons ride along as WKT strings; at ~1.6k municipalities the
  * prepared-geometry array broadcast is a few MB. Each point tests only
  * the polygons whose envelope holds it (an STR-tree), not all ~1.6k.
  * The UDF is only on this one bootstrap path — everything downstream
  * is codegen'd equi-joins, which is what scales to 100 TB.
  */
object SpatialJoin {

  /** WKT polygons parsed, prepared and indexed lazily once per
    * deserialized copy (@transient lazy val re-materializes after
    * deserialization). An STR-tree over the polygon envelopes yields
    * the candidates for a point; the lowest ordinal (ascending
    * admin_code) among those that contain it is the same polygon a scan
    * in admin_code order finds first. */
  private class PolyIndex(polys: Array[(String, String)]) extends Serializable {
    @transient lazy val prepared: Array[PreparedGeometry] = {
      val reader = new WKTReader()
      polys.map { case (_, wkt) => PreparedGeometryFactory.prepare(reader.read(wkt)) }
    }
    @transient lazy val tree: STRtree = {
      val t = new STRtree()
      prepared.indices.foreach { i =>
        t.insert(prepared(i).getGeometry.getEnvelopeInternal, Int.box(i))
      }
      t.build()
      t
    }
    @transient lazy val factory = new GeometryFactory()
    def firstContaining(lat: Double, lon: Double): Option[String] = {
      val pt = factory.createPoint(new Coordinate(lon, lat))
      var best = Int.MaxValue
      val candidates = tree.query(pt.getEnvelopeInternal).iterator()
      while (candidates.hasNext) {
        val i = candidates.next().asInstanceOf[Integer].intValue
        if (i < best && prepared(i).contains(pt)) best = i
      }
      if (best == Int.MaxValue) None else Some(polys(best)._1)
    }
  }

  /** Build the centroid→admin map: points (centroid_id, lat, lon) ×
    * polygons (admin_code, wkt) → (centroid_id, admin_code). Points in
    * no polygon are dropped (the reference's sjoin+dropna ≙ inner).
    * First matching polygon wins, in ascending admin_code order —
    * deterministic, unlike geopandas sjoin's index order. */
  def centroidAdminMap(points: DataFrame, polygons: DataFrame): DataFrame = {
    // sorted on the driver in Spark's string order (UTF-8 bytes, nulls
    // first): one collect job instead of a range-partitioned sort's three
    val polys: Array[(String, String)] = polygons
      .select("admin_code", "wkt").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .sortBy { case (code, _) => Option(code).map(UTF8String.fromString) }
    val idx = new PolyIndex(polys)
    val containsUdf = udf((lat: Double, lon: Double) => idx.firstContaining(lat, lon))
    points
      .withColumn("admin_code", containsUdf(col("lat"), col("lon")))
      .where(col("admin_code").isNotNull)
      .select("centroid_id", "admin_code")
  }

  /** A7: zonal statistics — mean raster value per admin zone per key
    * (e.g. timestep), via the precomputed centroid→admin map. The
    * raster is long-format (centroid_id, <keys...>, value). */
  def zonalMean(raster: DataFrame, centroidAdmin: DataFrame,
                keys: Seq[String]): DataFrame =
    raster.join(broadcast(centroidAdmin), "centroid_id")
      .groupBy((Seq("admin_code") ++ keys).map(col): _*)
      .agg(avg("value").as("zonal_mean"))

  /** A8: max over timesteps of the zonal mean per admin zone. */
  def zonalMaxOverTime(raster: DataFrame, centroidAdmin: DataFrame,
                       timeKey: String = "time"): DataFrame =
    zonalMean(raster, centroidAdmin, Seq(timeKey))
      .groupBy("admin_code")
      .agg(max("zonal_mean").as("zonal_max"))
}

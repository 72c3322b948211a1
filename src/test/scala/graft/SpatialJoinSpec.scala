package graft

import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.io.WKTReader

import graft.geo.SpatialJoin

/** `SpatialJoin.centroidAdminMap` against the plain rule it must keep:
  * scan the polygons in ascending admin_code order and take the first
  * that contains the point. The polygons overlap, nest, share edges and
  * have a hole; the points are a lattice that lands on those edges and
  * corners. */
class SpatialJoinSpec extends SparkTestBase {
  import spark.implicits._

  private val polygons = Seq(
    ("B2", "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))"),
    ("A1", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
    // overlaps A1, B2 and D4, and shares part of their edges
    ("C3", "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"),
    // a triangle inside A1 with a lower code
    ("A0", "POLYGON ((0.25 0.25, 0.75 0.25, 0.75 0.75, 0.25 0.25))"),
    ("D4", "POLYGON ((0 1, 1 1, 1 2, 0 2, 0 1))"),
    ("H7", "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2), " +
      "(2.25 2.25, 2.75 2.25, 2.75 2.75, 2.25 2.75, 2.25 2.25))"),
    // covers everything above but with the highest code
    ("Z9", "POLYGON ((-1 -1, 3 -1, 3 3, -1 3, -1 -1))"),
    ("E5", "POLYGON ((3.5 3.5, 4 3.5, 4 4, 3.5 3.5))"))

  // every multiple of 0.125 in [-1.5, 4.5]: exact in binary, so points
  // fall exactly on the edges and corners above
  private val points = for {
    i <- 0 to 48; j <- 0 to 48
  } yield (i * 49L + j, -1.5 + i * 0.125, -1.5 + j * 0.125)

  private lazy val inCodeOrder = polygons.sortBy(_._1).map { case (code, wkt) =>
    (code, PreparedGeometryFactory.prepare(new WKTReader().read(wkt)))
  }

  private def linearScan(lat: Double, lon: Double): Option[String] = {
    val pt = new GeometryFactory().createPoint(new Coordinate(lon, lat))
    inCodeOrder.collectFirst { case (code, g) if g.contains(pt) => code }
  }

  test("first containing polygon in admin_code order, as a linear scan finds it") {
    val got = SpatialJoin.centroidAdminMap(
        points.toDF("centroid_id", "lat", "lon"), polygons.toDF("admin_code", "wkt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = points.flatMap { case (id, lat, lon) => linearScan(lat, lon).map(id -> _) }.toMap
    assert(got === expected)
    // the lattice reaches the overlaps, the hole and the outside
    assert(expected.values.toSet === polygons.map(_._1).toSet)
    assert(expected.size < points.length)
  }
}

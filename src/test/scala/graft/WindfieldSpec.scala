package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.hazard.{CentroidGrid, Windfield}

/** Kernel parity against the MATLAB-derived goldens vendored in the
  * reference (src/climada/hazard/test/test_trop_cyclone.py:184-236).
  * Tolerance 1e-9 (the reference asserts assertAlmostEqual, 7 places;
  * we hold a tighter bar since the arithmetic is deterministic).
  */
class WindfieldSpec extends SparkTestBase {
  import spark.implicits._

  private val tol = 1e-9

  test("X3 _bs_hol08 golden 1: 1.270856908796045") {
    val got = Seq(1).toDF("x").select(
      Windfield.holB(lit(5.241999541820597), lit(1010.0), lit(1005.263333333329),
        lit(1005.258500000000), lit(12.299999504631343), lit(1.0)).as("b"))
      .collect().head.getDouble(0)
    assert(math.abs(got - 1.270856908796045) < tol)
  }

  test("X3 _bs_hol08 golden 2: 1.265551666104679") {
    val got = Seq(1).toDF("x").select(
      Windfield.holB(lit(5.123882725120426), lit(1010.0), lit(1005.268166666671),
        lit(1005.263333333329), lit(12.299999279463769), lit(1.0)).as("b"))
      .collect().head.getDouble(0)
    assert(math.abs(got - 1.265551666104679) < tol)
  }

  test("X4 _stat_holland goldens, case 1") {
    val df = Seq(293.6067129546862, 298.2652319413182).toDF("d")
    val got = df.select(Windfield.statHolland(col("d"), lit(75.547902916671745),
      lit(1.265551666104679), lit(1010.0), lit(1005.268166666671),
      lit(12.299999279463769)).as("v")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 5.384115724400597) < tol)
    assert(math.abs(got(1) - 5.281356766052531) < tol)
  }

  test("X4 _stat_holland goldens, case 2") {
    val df = Seq(299.4501244109841, 291.0737897183741, 292.5441003235722).toDF("d")
    val got = df.select(Windfield.statHolland(col("d"), lit(40.665454622610511),
      lit(1.486076257880692), lit(1010.0), lit(970.8727666672957),
      lit(14.089110370469488)).as("v")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 11.279764005440288) < tol)
    assert(math.abs(got(1) - 11.682978583939310) < tol)
    assert(math.abs(got(2) - 11.610940769149384) < tol)
  }

  test("hol_b clips to [1, 2.5]") {
    val lo = Seq(1).toDF("x").select(Windfield.holB(lit(0.0), lit(1010.0),
      lit(1010.0), lit(1010.0), lit(80.0), lit(1.0)).as("b")).collect().head.getDouble(0)
    assert(lo == 1.0)
    // rapidly rising central pressure pushes the dp/dt term to +3.0
    val hi = Seq(1).toDF("x").select(Windfield.holB(lit(30.0), lit(1010.0),
      lit(1000.0), lit(900.0), lit(0.0), lit(1.0)).as("b")).collect().head.getDouble(0)
    assert(hi == 2.5)
  }

  test("X2 vtrans: 1 deg of longitude at equator in 1h caps at 30 kn") {
    // 111.12 km/h = 30.867 m/s > 30 kn (15.43 m/s) → capped
    val tracks = trackDf(Seq(
      (0.0, 120.0, "2024-01-01 00:00:00"),
      (0.0, 121.0, "2024-01-01 01:00:00")))
    val got = Windfield.withVTrans(tracks, "equirect")
      .orderBy("time").select("v_trans_norm").collect().map(_.getDouble(0))
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 30 * 0.514444444444444444) < tol)
  }

  test("X2 vtrans below cap: 0.2 deg in 1h") {
    val tracks = trackDf(Seq(
      (10.0, 120.0, "2024-01-01 00:00:00"),
      (10.0, 120.2, "2024-01-01 01:00:00")))
    val got = Windfield.withVTrans(tracks, "equirect")
      .orderBy("time").select("v_trans_norm").collect().map(_.getDouble(0))
    val expect = 0.2 * math.cos(math.toRadians(10.0)) * 111.12 / 3.6 / 1.0
    assert(math.abs(got(1) - expect) < 1e-6)
  }

  test("geosphere and equirect agree at short distances") {
    val df = Seq((14.0, 120.0, 14.3, 120.4)).toDF("la1", "lo1", "la2", "lo2")
    val (dG, vlaG, vloG) = Windfield.geosphere(col("la1"), col("lo1"), col("la2"), col("lo2"))
    val (dE, vlaE, vloE) = Windfield.equirect(col("la1"), col("lo1"), col("la2"), col("lo2"))
    val r = df.select(dG.as("dg"), dE.as("de"), vlaG.as("vlag"), vlaE.as("vlae"),
      vloG.as("vlog"), vloE.as("vloe")).collect().head
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) / r.getDouble(0) < 0.01)
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1.0)
    assert(math.abs(r.getDouble(4) - r.getDouble(5)) < 1.0)
  }

  test("X5 end-to-end: synthetic straight track produces a plausible windfield") {
    // 5-node westward track through the PH box, deep low pressure
    val times = (0 to 4).map(h => f"2024-01-01 0$h:00:00")
    val tracks = Seq(
      (14.0, 126.0), (14.2, 125.4), (14.4, 124.8), (14.6, 124.2), (14.8, 123.6))
      .zip(times).map { case ((la, lo), t) => (la, lo, t) }
    val df = trackDf(tracks)
      .withColumn("central_pressure", lit(950.0))
      .withColumn("environmental_pressure", lit(1010.0))
      .withColumn("radius_max_wind", lit(0.0))   // forces rmw estimation
    val cents = CentroidGrid.generate(spark, 120.0, 12.0, 127.0, 17.0, 0.5)
    val wf = Windfield.compute(df, cents, "geosphere").cache()
    val n = wf.count()
    assert(n > 0)
    // all speeds positive and physically bounded
    val stats = wf.agg(min("speed"), max("speed")).collect().head
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) < 120.0)
    // max wind near the eye: pick max-speed row, check distance < 300 km
    val top = wf.orderBy(col("speed").desc).select("d_centr").first().getDouble(0)
    assert(top < 300.0)
    // intensity aggregation keeps one row per (track, centroid)
    val inten = Windfield.intensity(wf)
    assert(inten.count() == wf.select("storm_id", "ens_id", "centroid_id").distinct().count())
    wf.unpersist()
  }

  test("X1 pruning: far-away centroids are excluded") {
    val tracks = trackDf(Seq(
      (14.0, 126.0, "2024-01-01 00:00:00"), (14.2, 125.4, "2024-01-01 01:00:00")))
      .withColumn("central_pressure", lit(960.0))
      .withColumn("environmental_pressure", lit(1010.0))
      .withColumn("radius_max_wind", lit(50.0))
    // one close centroid, one 20 degrees away
    val cents = Seq((0L, 14.5, 125.0), (1L, 14.5, 105.0))
      .toDF("centroid_id", "lat", "lon")
    val got = Windfield.compute(tracks, cents).select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L))
  }

  test("X1 pruning is antimeridian-safe: centroids across 180° are reachable") {
    import spark.implicits._
    val tracks = trackDf(Seq(
      (14.0, 179.0, "2024-01-01 00:00:00"), (14.2, 179.8, "2024-01-01 01:00:00")))
    // one centroid just across the dateline (−178° ≙ 182°), one far away
    val cents = Seq((0L, 14.5, -178.0), (1L, 14.5, -150.0))
      .toDF("centroid_id", "lat", "lon")
    val got = Windfield.compute(tracks, cents).select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L))
  }

  test("intensity does not depend on the centroid partitioning or AQE") {
    // members fan out around a westward track through the PH box
    def ensemble(members: Int) = {
      val rows = for (m <- 0 until members; h <- 0 to 6) yield
        ("ENS", m, Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"),
          13.0 + 0.2 * h + 0.15 * m, 126.5 - 0.5 * h - 0.1 * m, 990.0 - 4 * h - m)
      graft.tracks.TrackPrep.withTimeStep(
        rows.toDF("storm_id", "ens_id", "time", "lat", "lon", "central_pressure"))
        .withColumn("environmental_pressure", lit(1010.0))
        .withColumn("radius_max_wind", lit(0.0))
    }
    val cents = CentroidGrid.generate(spark, 119.0, 9.0, 127.0, 18.0, 0.25)
    def rows(tracks: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Windfield.intensity(Windfield.compute(tracks, c)).collect()
        .map(_.toSeq).sortBy(r => (r(1).asInstanceOf[Int], r(2).asInstanceOf[Long])).toSeq
    for (members <- Seq(1, 2, 9)) {
      val tracks = ensemble(members).cache()
      val want = rows(tracks, cents)
      assert(want.map(_(1)).distinct.size == members)
      assert(rows(tracks, cents.repartition(1)) == want, s"$members tracks, 1 centroid partition")
      assert(rows(tracks, cents.repartition(7)) == want, s"$members tracks, 7 centroid partitions")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try assert(rows(tracks, cents) == want, s"$members tracks, AQE off")
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      tracks.unpersist()
    }
  }

  private def trackDf(rows: Seq[(Double, Double, String)]) = {
    val base = rows.map { case (la, lo, t) =>
      ("TEST", 1, Timestamp.valueOf(t), la, lo) }
      .toDF("storm_id", "ens_id", "time", "lat", "lon")
    graft.tracks.TrackPrep.withTimeStep(base)
      .withColumn("central_pressure", lit(980.0))
      .withColumn("environmental_pressure", lit(1010.0))
      .withColumn("radius_max_wind", lit(40.0))
  }
}

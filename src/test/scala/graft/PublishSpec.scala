package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.publish.{Landfall, Payloads}

class PublishSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val forecast = ts("2024-01-01 00:00:00")

  private def trackRows(onLandAt: Option[Int], minDist: Double, maxLon: Double = 125.0) =
    (0 until 5).map { i =>
      ("S1", ts(f"2024-01-02 ${i * 3}%02d:00:00"), 14.0 + i * 0.1, maxLon - i,
        50.0, onLandAt.contains(i), if (i == 2) minDist else minDist + 100 * (i + 1))
    }.toDF("storm_id", "time", "lat", "lon", "vmax", "on_land", "dist_to_land_km")

  test("landfall code 1: on track to landfall, lead time from first land point") {
    val (state, annotated) = Landfall.evaluate(trackRows(Some(3), 50.0), forecast)
    val s = state.collect().head
    assert(s.getAs[Int]("landfall_code") == 1)
    // first land point 2024-01-02 09:00 → 33 h − 8 correction = 25
    assert(s.getAs[Int]("lead_time_hours") == 25)
    assert(s.getAs[String]("lead_time") == "25-hour")
    val fl = annotated.where($"first_landfall").collect()
    assert(fl.length == 1 && fl.head.getAs[Timestamp]("time") == ts("2024-01-02 09:00:00"))
  }

  test("landfall code 2: already made landfall (west of lon limit)") {
    val (state, _) = Landfall.evaluate(trackRows(Some(1), 50.0, maxLon = 110.0), forecast)
    val s = state.collect().head
    assert(s.getAs[Int]("landfall_code") == 2)
    assert(s.getAs[Int]("lead_time_hours") == 0)
  }

  test("landfall code 3: passes near land, closest-point flag set") {
    val (state, annotated) = Landfall.evaluate(trackRows(None, 300.0), forecast)
    val s = state.collect().head
    assert(s.getAs[Int]("landfall_code") == 3)
    val cl = annotated.where($"closest_to_land").collect()
    assert(cl.length == 1 && cl.head.getAs[Timestamp]("time") == ts("2024-01-02 06:00:00"))
  }

  test("landfall code 60: beyond maximum distance") {
    val (state, _) = Landfall.evaluate(trackRows(None, 2500.0), forecast)
    val s = state.collect().head
    assert(s.getAs[Int]("landfall_code") == 60)
    assert(s.getAs[String]("lead_time") == "168-hour")
  }

  test("vmax 10-min to 1-min conversion applied on the landfall path") {
    val (_, annotated) = Landfall.evaluate(trackRows(Some(0), 10.0), forecast)
    val v = annotated.select("vmax_1min").distinct().collect().head.getDouble(0)
    assert(math.abs(v - 50.0 / 0.88) < 1e-12)
  }

  test("K2 exposure layer JSON contract") {
    val values = Seq(("PH001", 12.345), ("PH002", 0.0)).toDF("placeCode", "amount")
    val json = Payloads.exposureLayer(values, "houses_affected", "24-hour", "molave")
      .collect().head.getString(0)
    assert(json.contains("\"countryCodeISO3\":\"PHL\""))
    assert(json.contains("\"dynamicIndicator\":\"houses_affected\""))
    assert(json.contains("\"leadTime\":\"24-hour\""))
    assert(json.contains("\"placeCode\":\"PH001\""))
    assert(json.contains("\"amount\":12.35"))   // rounded to 2
    assert(json.contains("\"adminLevel\":3"))
  }

  test("K3 track payload: 3-hourly filter and field shape") {
    val track = Seq(
      (ts("2024-01-02 03:00:00"), 14.0, 125.0, 55.0, true, false),
      (ts("2024-01-02 03:30:00"), 14.1, 125.1, 56.0, false, false),  // filtered
      (ts("2024-01-02 06:00:00"), 14.2, 125.2, 57.0, false, true))
      .toDF("time", "lat", "lon", "vmax_1min", "first_landfall", "closest_to_land")
      .withColumn("storm_id", lit("S1"))
    val json = Payloads.trackPayload(track, "molave", "24-hour")
      .collect().head.getString(0)
    assert(json.contains("\"timestampOfTrackpoint\":\"01-02-2024 03:00:00\""))
    assert(!json.contains("03:30:00"))
    assert(json.contains("\"firstLandfall\":true"))
    assert(json.contains("\"closestToLand\":true"))
  }

  private def layer(values: DataFrame) =
    Payloads.exposureLayer(values, "houses_affected", "24-hour", "molave")
      .collect().head.getString(0)
  private def layerDoc(places: String) =
    s"""{"countryCodeISO3":"PHL","exposurePlaceCodes":[$places],"adminLevel":3,""" +
      """"leadTime":"24-hour","dynamicIndicator":"houses_affected","disasterType":"typhoon",""" +
      """"eventName":"molave"}"""
  private def trackDoc(points: String) =
    s"""{"countryCodeISO3":"PHL","leadTime":"24-hour","eventName":"molave","trackpointDetails":[$points]}"""

  test("K2 exposure layer over no values is one document with no places") {
    assert(layer(Seq.empty[(String, Double)].toDF("placeCode", "amount")) == layerDoc(""))
  }

  test("K2 exposure layer: a null amount is zero-filled by densify, omitted without it") {
    val pcodes = Seq("PH001", "PH002", "PH003").toDF("pcode")
    val sparse = Seq(("PH002", None), ("PH003", Some(7.456)), ("PH009", Some(1.0)))
      .toDF("placeCode", "dmg")
    assert(layer(Payloads.densify(sparse, pcodes, "dmg")) == layerDoc(
      """{"placeCode":"PH001","amount":0.0},{"placeCode":"PH002","amount":0.0},""" +
        """{"placeCode":"PH003","amount":7.46}"""))
    assert(layer(Seq(("PH001", Some(2.0)), ("PH002", None)).toDF("placeCode", "amount")) ==
      layerDoc("""{"placeCode":"PH001","amount":2.0},{"placeCode":"PH002"}"""))
  }

  test("K3 track payload: a track with no 3-hourly point has no trackpoints") {
    val track = Seq(
      (ts("2024-01-02 01:00:00"), 14.0, 125.0, 55.0, true, false),
      (ts("2024-01-02 03:30:00"), 14.1, 125.1, 56.0, false, true))
      .toDF("time", "lat", "lon", "vmax_1min", "first_landfall", "closest_to_land")
      .withColumn("storm_id", lit("S1"))
    assert(Payloads.trackPayload(track, "molave", "24-hour").collect().head.getString(0) ==
      trackDoc(""))
  }

  test("K3 track payload: two storms sharing a timestamp order by the point") {
    val track = Seq(
      ("S2", ts("2024-01-02 06:00:00"), 15.5, 124.0, 40.004, false, false),
      ("S1", ts("2024-01-02 06:00:00"), 14.25, 125.5, 61.126, true, false),
      ("S1", ts("2024-01-02 03:00:00"), 14.0, 126.0, 58.0, false, false),
      ("S2", ts("2024-01-02 09:00:00"), 15.75, 123.5, 42.0, false, true))
      .toDF("storm_id", "time", "lat", "lon", "vmax_1min", "first_landfall", "closest_to_land")
    assert(Payloads.trackPayload(track, "molave", "24-hour").collect().head.getString(0) ==
      trackDoc(
        """{"lat":14.0,"lon":126.0,"timestampOfTrackpoint":"01-02-2024 03:00:00",""" +
        """"windspeed":58.0,"firstLandfall":false,"closestToLand":false},""" +
        """{"lat":14.25,"lon":125.5,"timestampOfTrackpoint":"01-02-2024 06:00:00",""" +
        """"windspeed":61.13,"firstLandfall":true,"closestToLand":false},""" +
        """{"lat":15.5,"lon":124.0,"timestampOfTrackpoint":"01-02-2024 06:00:00",""" +
        """"windspeed":40.0,"firstLandfall":false,"closestToLand":false},""" +
        """{"lat":15.75,"lon":123.5,"timestampOfTrackpoint":"01-02-2024 09:00:00",""" +
        """"windspeed":42.0,"firstLandfall":false,"closestToLand":true}"""))
  }

  test("J7 densify zero-fills missing pcodes; no-event heartbeat all zeros") {
    val pcodes = Seq("PH001", "PH002", "PH003").toDF("pcode")
    val sparse = Seq(("PH002", 7.5)).toDF("placeCode", "dmg")
    val dense = Payloads.densify(sparse, pcodes, "dmg")
      .orderBy("placeCode").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(dense.toSeq == Seq(("PH001", 0.0), ("PH002", 7.5), ("PH003", 0.0)))
    val hb = Payloads.noEventLayer(pcodes, "houses_affected").collect().head.getString(0)
    assert(hb.contains("\"amount\":0.0") && !hb.contains("eventName\":"))
  }

  test("mock scenario path drives canned payloads through the real sink") {
    import graft.publish.MockScenario
    val dir = java.nio.file.Files.createTempDirectory("graft_mock")
    java.nio.file.Files.writeString(dir.resolve("exposure.json"),
      """{"countryCodeISO3":"PHL","eventName":"mock-trigger"}""")
    java.nio.file.Files.writeString(dir.resolve("track.json"),
      """{"countryCodeISO3":"PHL","trackpointDetails":[]}""")
    var posted = Vector.empty[String]
    MockScenario.run(spark, dir.toString, posted :+= _)
    assert(posted.length == 2)
    assert(posted.exists(_.contains("mock-trigger")))
  }
}

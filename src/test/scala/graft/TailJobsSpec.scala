package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

import graft.impact.{DamageProbability, Triggers}
import graft.publish.{Landfall, Payloads}

/** Job-count guards for the forecast tail, through
  * [[SparkTestBase.jobsBetweenMarks]]: the payload builders evaluate
  * when called, so collecting a document runs no job; the track payload
  * reads `Landfall.evaluate`'s materialized window pass instead of
  * re-running it; the trigger report and the damage table run a fixed
  * handful of jobs. */
class TailJobsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val forecast = ts("2024-01-01 00:00:00")

  // half-hourly HRES points moving west; on land west of lon 123.6,
  // first at 03:00, a 3-hourly point
  private def track = (0 until 16).map { i =>
    ("S1", new Timestamp(ts("2024-01-02 00:00:00").getTime + i * 1800000L),
      14.0 + i * 0.05, 125.0 - i * 0.25, 40.0 + i, 400.0 - 20.0 * i)
  }.toDF("storm_id", "time", "lat", "lon", "vmax", "dist_to_land_km").repartition(3)

  test("collecting an exposure layer or a track payload runs no job") {
    val values = Seq(("PH001", 1.004), ("PH003", 2.5), ("PH002", 0.0))
      .toDF("placeCode", "amount").repartition(3)
    val layer = Payloads.exposureLayer(values, "houses_affected", "24-hour", "molave")
    val (layerDoc, layerJobs, _) = jobsBetweenMarks(layer.collect().head.getString(0))
    assert(layerJobs.isEmpty, s"jobs: $layerJobs")
    assert(layerDoc.contains("\"placeCode\":\"PH003\""))

    val (_, annotated) = Landfall.evaluate(
      track.withColumn("on_land", col("lon") < 123.6), forecast)
    val payload = Payloads.trackPayload(annotated, "molave", "24-hour")
    val (trackDoc, trackJobs, _) = jobsBetweenMarks(payload.collect().head.getString(0))
    assert(trackJobs.isEmpty, s"jobs: $trackJobs")
    assert(trackDoc.contains("\"firstLandfall\":true"))
  }

  test("the track payload reads evaluate's window pass instead of re-running it") {
    val calls = spark.sparkContext.longAccumulator("on_land calls")
    val onLand = udf { (lon: Double) => calls.add(1); lon < 123.6 }
    val (state, annotated) = Landfall.evaluate(
      track.withColumn("on_land", onLand(col("lon"))), forecast)
    val evaluated = calls.value
    assert(evaluated >= 16, "evaluate runs the upstream track plan once, when called")
    assert(state.collect().head.getAs[Int]("landfall_code") == 1)
    Payloads.trackPayload(annotated, "molave", "24-hour").collect()
    assert(calls.value == evaluated)
    Seq(state, annotated).foreach { df =>
      assert(df.queryExecution.optimizedPlan.collect { case w: Window => w }.isEmpty)
    }
  }

  test("the trigger report and the damage table run within their job bounds") {
    val impact = (for { mun <- 0 until 30; ens <- 0 until 6 } yield
      (f"PH05${mun % 3}%02d${mun}%05d", ens, (mun * 7 + ens * 13) % 40 * 1.0,
        ((mun * 11 + ens * 5) % 17) * 900L))
      .toDF("Mun_Code", "ens_id", "damage_pct", "damage_num").repartition(4).cache()
    impact.count()
    // a broadcast of the one-row Average aggregate, and the pass itself
    val (rep, reportJobs, _) = jobsBetweenMarks(Triggers.report(impact))
    assert(reportJobs.length <= 2, s"jobs: $reportJobs")
    assert(rep.cerf.count() == 5)
    val (table, tableJobs, _) = jobsBetweenMarks(
      DamageProbability.municipalityTable(impact, 0.5, 100.0).orderBy("Mun_Code").collect())
    assert(tableJobs.length <= 1, s"jobs: $tableJobs")
    assert(table.length == 30)
    impact.unpersist()
  }
}

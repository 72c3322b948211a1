package graft

import org.apache.spark.sql.functions._

import graft.publish.Payloads

/** End-to-end pipeline test (SURVEY.md §5.2 item 4): synthetic
  * 5-member storm → resample → windfield → per-municipality hazard →
  * rain zonal stats → features → GBT → ensemble aggregation →
  * triggers → exposure payload ([[ForecastFixture]]). Asserts
  * structural invariants at each stage, on the shapes the reference's
  * CSV/JSON artifacts have.
  */
class ForecastE2ESpec extends SparkTestBase with ForecastFixture {

  test("end-to-end: tracks → windfield → hazard → impact → triggers → payload") {
    assert(resampled.count() == 5 * 61)   // 30h at 30-min steps + 1

    val hz = hazard.collect()
    assert(hz.nonEmpty)
    assert(hazard.select("ens_id").distinct().count() == 5)
    assert(hz.forall(_.getAs[Double]("HAZ_v_max") >= 0.0))
    assert(hz.forall(_.getAs[Double]("HAZ_dis_track_min") >= 0.0))
    // invariant: min distance ≤ mean-ish sanity — every mun within the box
    assert(hz.forall(_.getAs[Double]("HAZ_dis_track_min") < 1000.0))

    assert(rain.count() > 0)

    assert(impact.count() == features.count())
    assert(impact.where(col("damage_pct") < 0 || col("damage_pct") > 100).count() == 0)

    // triggers: all four tables produce rows with the contract columns
    val rep = Forecast.triggers(impact)
    assert(rep.dref.columns.toSeq == Seq("threshold_label", "scenario", "triggered"))
    assert(rep.dref.count() == 4)
    assert(rep.cerf.count() == 5)      // 5 CERF thresholds
    assert(rep.start.count() <= 15 && rep.hi.count() <= 3)

    // exposure payload over all pcodes
    val values = Forecast.exposureValues(impact, pcodes)
    assert(values.count() == 4)
    val json = Payloads.exposureLayer(values, "houses_affected", "24-hour", "HAGIBIS")
      .collect().head.getString(0)
    assert(json.contains("\"dynamicIndicator\":\"houses_affected\""))
    assert(json.contains("PH051000000"))
  }

  test("hazard partitioning: no collect-driven loops, one row per (storm, ens, mun)") {
    val hazard = Forecast.municipalHazard(resampled, centroids, centroidAdmin)
    val dup = hazard.groupBy("storm_id", "ens_id", "Mun_Code")
      .count().where(col("count") > 1).count()
    assert(dup == 0)
  }
}

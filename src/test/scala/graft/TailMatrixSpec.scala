package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.impact.DamageProbability
import graft.publish.{Landfall, Payloads}

/** The forecast tail on [[ForecastFixture]]'s storm under every
  * combination of 1 vs 7 shuffle partitions and AQE on vs off: the
  * trigger rows, the damage table, the landfall state and both payload
  * documents must equal the default session's. The tail reads its
  * bounded tables on one partition and renders the payloads over local
  * relations, so no result may depend on how the session partitions. */
class TailMatrixSpec extends SparkTestBase with ForecastFixture {

  private val forecastTime = Timestamp.valueOf("2023-12-31 12:00:00")

  // the tail's inputs as plain rows on three partitions, so every
  // session reads the same data
  private lazy val inputs =
    Seq(impact, hresTrack, pcodes).map(df => (df.collect().toSeq, df.schema))

  private def tail(s: SparkSession): Seq[Seq[String]] = {
    val Seq(impact, track, pcodes) = inputs.map { case (rows, schema) =>
      s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema)
    }
    val rep = Forecast.triggers(impact)
    val triggers = Seq(rep.dref, rep.cerf, rep.start, rep.hi).map(_.collect().mkString(";"))
    val damage = DamageProbability.municipalityTable(impact, 0.5, 100.0)
      .orderBy("Mun_Code").collect().map(_.toString).toSeq
    val (state, annotated) = Landfall.evaluate(track, forecastTime)
    val stateRows = state.collect().toSeq
    val lead = stateRows.headOption.fold("72-hour")(_.getAs[String]("lead_time"))
    val docs = Seq(
      Payloads.exposureLayer(Forecast.exposureValues(impact, pcodes), "houses_affected",
        lead, "HAGIBIS"),
      Payloads.trackPayload(annotated, "HAGIBIS", lead)).map(_.collect().head.getString(0))
    Seq(triggers, damage, stateRows.map(_.toString), docs)
  }

  private lazy val reference = tail(spark)

  test("the fixture reaches every part of the tail") {
    val Seq(triggers, damage, state, Seq(exposure, track)) = reference
    assert(triggers.head.contains("Moderate") && triggers(1).contains("80k"))
    assert(damage.length == 4)
    assert(state.length == 1)
    assert(exposure.contains("PH051000000") && track.contains("\"closestToLand\":true"))
  }

  for (parts <- Seq(1, 7); aqe <- Seq(true, false)) {
    test(s"tail outputs equal the default session's: partitions=$parts aqe=$aqe") {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      assert(tail(s) === reference)
    }
  }
}

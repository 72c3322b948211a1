package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.impact.Triggers
import graft.sources.{ClimadaSources, Grib2}

/** Output checks. Each returns the list of problems it found (empty
  * when the output is correct). */
object Check {

  def sha256(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** The decoded track message and rain cube equal the generated
    * values. */
  def roundTrip(spark: SparkSession, spec: Inputs.ForecastSpec, seed: Long, in: Path): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val decoded = ClimadaSources.readEcmwfBufr(spark, in.resolve("tracks.bufr").toString)
      .select("ens_id", "is_ensemble", "time_offset_h", "lat", "lon", "central_pressure",
        "max_sustained_wind", "storm_id", "name")
      .collect().map(r => (r.getInt(0), r.getDouble(2)) -> r).toMap
    val expected = for (m <- Inputs.members(spec, seed); s <- m.steps) yield (m, s)
    if (decoded.size != expected.size)
      problems += s"bufr: decoded ${decoded.size} track points, generated ${expected.size}"
    expected.foreach { case (m, s) =>
      decoded.get((m.number, s.hour.toDouble)) match {
        case None => problems += s"bufr: member ${m.number} step ${s.hour} missing"
        case Some(r) =>
          val ok = close(r.getDouble(3), s.lat) && close(r.getDouble(4), s.lon) &&
            close(r.getDouble(5), s.pressurePa / 100.0) && close(r.getDouble(6), s.windMs) &&
            r.getBoolean(1) == (m.ensType != 0) && r.getString(7).trim == Inputs.StormId &&
            r.getString(8).trim == spec.stormName
          if (!ok) problems += s"bufr: member ${m.number} step ${s.hour} decoded as $r"
      }
    }
    for ((accum, leads) <- Inputs.RainWindows; lead <- leads) {
      val file = in.resolve("rain").resolve(f"geprcp.t00z.pgrb2a.0p50.bc_${accum}%02dh.f$lead%03d.grib2")
      val msgs = Grib2.readFile(file.toString)
      if (msgs.map(_.ensembleMember).sorted != (1 to Inputs.RainMembers))
        problems += s"grib2: $file members ${msgs.map(_.ensembleMember)}"
      msgs.foreach { m =>
        val want = Inputs.rainField(spec, seed, m.ensembleMember, lead, accum)
        val grid = m.grid.get
        val bad = want.indices.count(i => !close(m.values(i), want(i) / 10.0)) +
          (if (grid.latLon(Inputs.RainGrid.points - 1) != Inputs.RainGrid.latLon(Inputs.RainGrid.points - 1)) 1 else 0)
        if (bad > 0 || m.forecastTime != lead - accum)
          problems += s"grib2: $file member ${m.ensembleMember}: $bad values differ"
      }
    }
    problems.result()
  }

  /** The DREF/CERF/START/HI decisions re-derived in plain Scala from
    * the per-member impact rows, following the threshold tables and
    * rules in graft.impact.Triggers' documentation. */
  final case class Decisions(dref: Map[String, Boolean], cerf: Map[String, Boolean],
                             start: Map[String, Boolean], hi: Map[String, Boolean])

  def decisions(rows: Seq[ImpactRow]): Decisions = {
    // keep the max-damage row per (municipality, member)
    val dedup = rows.groupBy(r => (r.mun, r.ens)).values.map(_.maxBy(_.damagePct)).toSeq
    val members = dedup.map(_.ens).distinct
    val perMember = dedup.groupBy(_.ens)
    val pct = 100.0 * members.count(m => perMember(m).count(_.damagePct > 10) > 2) / members.size
    val avgTrig = dedup.groupBy(_.mun).values
      .count(rs => rs.map(_.damagePct).sum / rs.size > 10) > 2
    val dref = Map("50" -> (pct > 50), "70" -> (pct > 70), "90" -> (pct > 90), "Average" -> avgTrig)
    def exceed(totals: Seq[Double], thr: Double, prob: Double): Boolean =
      totals.count(_ > thr).toDouble / totals.size > prob
    val cerfRows = dedup.filter(r => Triggers.CerfRegions.contains(r.mun.take(4)))
    val cerfTotals = cerfRows.groupBy(_.ens).values.map(_.map(_.damageNum).sum).toSeq
    // no member with damage rows in a CERF region gives an empty table
    val cerf = if (cerfTotals.isEmpty) Map.empty[String, Boolean]
               else Triggers.CerfProbabilities.map { case (l, t, p) => l -> exceed(cerfTotals, t, p) }.toMap
    def provincial(tables: Map[String, Seq[(String, Double, Double)]]): Map[String, Boolean] = {
      val byProv = dedup.groupBy(r => r.mun.take(6) + "00000")
      tables.toSeq.flatMap { case (prov, rows) =>
        byProv.get(prov).toSeq.flatMap { rs =>
          val totals = rs.groupBy(_.ens).values.map(_.map(_.damageNum).sum).toSeq
          rows.map { case (l, t, p) => s"$prov/$l" -> exceed(totals, t, p) }
        }
      }.toMap
    }
    Decisions(dref, cerf, provincial(Triggers.StartProbabilities), provincial(Triggers.HiProbabilities))
  }

  /** Problems with one forecast cycle's outputs. */
  def forecast(o: ForecastOutputs): Seq[String] = {
    val d = decisions(o.impactRows)
    val problems = Seq.newBuilder[String]
    def cmp(name: String, spark: Map[String, Boolean], plain: Map[String, Boolean]): Unit =
      if (spark != plain) problems += s"$name decisions differ: engine $spark, plain $plain"
    cmp("DREF", o.drefTriggered, d.dref)
    cmp("CERF", o.cerf, d.cerf)
    cmp("START", o.start, d.start)
    cmp("HI", o.hi, d.hi)
    // the landfall storm must trip a DREF threshold and leave some
    // threshold untripped, so both branches of the rules are exercised
    if (!o.drefTriggered.values.exists(identity)) problems += "no DREF threshold tripped"
    if (Seq(o.drefTriggered, o.cerf, o.start, o.hi).forall(_.values.forall(identity)))
      problems += "every trigger threshold tripped"
    if (o.payloads.size != 3 || o.payloads.exists(p => !p.startsWith("{")))
      problems += "payload documents missing"
    problems.result()
  }

  /** What the digest covers: trigger tables, payload documents,
    * per-municipality hazard (rounded as the payload rounds), the
    * damage-probability table and the landfall state. */
  def forecastDigestParts(o: ForecastOutputs): Seq[String] =
    o.triggers ++ o.payloads ++ o.hazard ++ o.damageTable ++ o.landfall
}

package graft.impact

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The four trigger tables of one forecast, as local relations:
  * collecting or writing them runs no further Spark job. */
final case class TriggerReport(dref: DataFrame, cerf: DataFrame,
                               start: DataFrame, hi: DataFrame)

/** Ensemble-probability trigger evaluation (SURVEY.md §2.5 A3–A6,
  * reference forecast_process.py:1239-1502 + settings.py:58-145).
  *
  * All trigger checks share one relational shape:
  *   1. W6 dedup (keep max damage per (Mun_Code, ens_id)),
  *   2. per-ensemble-member totals (A5) within a scope (all
  *      municipalities, the CERF regions, one province),
  *   3. for each (threshold, prob) pair: P(total > threshold) over the
  *      members with rows in the scope, compared against prob (A6).
  * [[report]] evaluates every scope in ONE pass: one dedup, one
  * per-member aggregate carrying a conditional total and row count per
  * scope (at most one row per member), collected once; step 3 then runs
  * on the driver over those few rows. The per-table entry points are
  * views of that pass.
  *
  * Expected input columns: Mun_Code: string, ens_id: int,
  * damage_pct: double (predicted % damaged), damage_num: double
  * (predicted damaged buildings).
  */
object Triggers {

  /** Threshold tables from the reference settings.py (public repo). */
  val DrefProbabilities: Seq[(String, Double, Double)] = Seq(
    ("80k", 80000, 0.5), ("50k", 50000, 0.6), ("10k", 10000, 0.8), ("5k", 5000, 0.95))
  val CerfProbabilities: Seq[(String, Double, Double)] = Seq(
    ("80k", 80000, 0.5), ("50k", 50000, 0.6), ("30k", 30000, 0.7),
    ("10k", 10000, 0.8), ("5k", 5000, 0.95))
  /** province pcode → (label, threshold, prob) */
  val StartProbabilities: Map[String, Seq[(String, Double, Double)]] = Map(
    "PH166700000" -> Seq(("8k", 8000, 0.8), ("17k", 17000, 0.8), ("25k", 25000, 0.7),
      ("34k", 34000, 0.5), ("37k", 37000, 0.5)),
    "PH021500000" -> Seq(("35k", 35000, 0.8), ("49k", 49000, 0.8), ("55k", 55000, 0.7),
      ("59k", 59000, 0.5), ("62k", 62000, 0.5)),
    "PH082600000" -> Seq(("23k", 23000, 0.8), ("42k", 42000, 0.8), ("53k", 53000, 0.7),
      ("64k", 64000, 0.5), ("70k", 70000, 0.5)))
  val HiProbabilities: Map[String, Seq[(String, Double, Double)]] = Map(
    "PH050500000" -> Seq(("15k", 15000, 0.8), ("24.5k", 24500, 0.7), ("36k", 36000, 0.5)))
  val CerfRegions = Seq("PH05", "PH08", "PH16")

  /** W6: keep the max-damage row per (Mun_Code, ens_id) —
    * deterministic version of the reference's sort+drop_duplicates
    * (which is keep-last-after-sort, i.e. order-dependent). Extra
    * tie-break columns make exact-damage ties deterministic too. */
  def dedupKeepMax(impact: DataFrame, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("Mun_Code", "ens_id")
      .orderBy(col("damage_pct").desc +: tieBreak.map(col): _*)
    impact.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** A5: per-member totals: municipality count, total damaged
    * buildings, count of triggered municipalities (damage_pct > 10). */
  def ensembleTotals(impact: DataFrame): DataFrame =
    dedupKeepMax(impact)
      .groupBy("ens_id")
      .agg(
        count(lit(1)).as("n_municipalities"),
        sum("damage_num").as("total_buildings"),
        sum(when(col("damage_pct") > 10, 1).otherwise(0)).as("n_triggered"))

  /** A6: exceedance-probability table — one aggregation for ALL
    * thresholds via a broadcast cross join with the threshold list. */
  def exceedanceTable(perMemberTotals: DataFrame, totalCol: String,
                      thresholds: Seq[(String, Double, Double)]): DataFrame = {
    val spark = perMemberTotals.sparkSession
    import spark.implicits._
    val thr = thresholds.toDF("threshold_label", "threshold", "prob_threshold")
    perMemberTotals.crossJoin(broadcast(thr))
      .groupBy("threshold_label", "threshold", "prob_threshold")
      .agg(avg(when(col(totalCol) > col("threshold"), 1.0).otherwise(0.0))
        .as("predicted_probability"))
      .withColumn("triggered", col("predicted_probability") > col("prob_threshold"))
  }

  /** DREF check (forecast_process.py:1282-1400): (threshold_label,
    * scenario, triggered) rows for the 10%-damage rule at
    * member-probability 50/70/90 plus the 'Average' scenario (mean
    * damage > 10% in ≥3 municipalities). */
  def drefTrigger(impact: DataFrame): DataFrame = report(impact).dref

  /** CERF check (forecast_process.py:1239-1278): regions PH05/08/16
    * only, per-member damaged-building totals vs the CERF table. */
  def cerfTrigger(impact: DataFrame): DataFrame = report(impact).cerf

  /** START/HI checks (forecast_process.py:1404-1502): per-province
    * (Mun_Code[:6] + "00000") member totals vs province-specific
    * tables, rows tagged with the province pcode. */
  def startTrigger(impact: DataFrame): DataFrame = report(impact).start
  def hiTrigger(impact: DataFrame): DataFrame    = report(impact).hi

  private val DrefSchema =
    StructType.fromDDL("threshold_label STRING, scenario STRING, triggered BOOLEAN")
  private val CerfSchema = StructType.fromDDL("threshold_label STRING, threshold DOUBLE, " +
    "prob_threshold DOUBLE, predicted_probability DOUBLE, triggered BOOLEAN")
  private val ProvincialSchema = StructType(StructField("province", StringType) +: CerfSchema)

  /** All four trigger tables from one pass over the impact table. */
  def report(impact: DataFrame): TriggerReport = {
    val spark = impact.sparkSession
    val deduped = dedupKeepMax(impact)
    val province = concat(substring(col("Mun_Code"), 1, 6), lit("00000"))
    val provinces = (StartProbabilities.keys ++ HiProbabilities.keys).toSeq.distinct
    val scopes: Seq[(String, Column)] =
      ("cerf" -> substring(col("Mun_Code"), 1, 4).isin(CerfRegions: _*)) +:
        provinces.map(p => p -> (province === p))
    val scopeAggs = scopes.flatMap { case (name, in) =>
      Seq(sum(when(in, col("damage_num").cast("double"))).as(s"${name}_total"),
        count(when(in, 1)).as(s"${name}_rows"))
    }
    val perMember = deduped.groupBy("ens_id")
      .agg(sum(when(col("damage_pct") > 10, 1).otherwise(0)).as("n_trig"), scopeAggs: _*)
    val avgTriggered = deduped.groupBy("Mun_Code").agg(avg("damage_pct").as("avg_dmg"))
      .agg(count(when(col("avg_dmg") > 10, 1)).as("n_avg_trig"))
    val members = perMember.crossJoin(avgTriggered).collect().toSeq

    // A6 over the members with rows in the scope; a null total (all of
    // the scope's damage_num null) exceeds no threshold
    def exceedance(scope: String, thresholds: Seq[(String, Double, Double)]): Seq[Seq[Any]] = {
      val totals = members.filter(_.getAs[Long](s"${scope}_rows") > 0)
        .map(r => Option(r.getAs[java.lang.Double](s"${scope}_total")))
      if (totals.isEmpty) Nil
      else thresholds.map { case (label, thr, prob) =>
        val p = totals.count(_.exists(_ > thr)).toDouble / totals.size
        Seq(label, thr, prob, p, p > prob)
      }
    }
    def table(schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
    def provincial(tables: Map[String, Seq[(String, Double, Double)]]): DataFrame =
      table(ProvincialSchema, tables.toSeq.flatMap { case (prov, thresholds) =>
        exceedance(prov, thresholds).map(prov +: _)
      })

    val pct = members.count(_.getAs[Long]("n_trig") > 2).toDouble / members.size * 100
    val avgTrig = members.headOption.exists(_.getAs[Long]("n_avg_trig") > 2)
    TriggerReport(
      dref = table(DrefSchema, Seq(Seq("50", "Moderate", pct > 50), Seq("70", "High", pct > 70),
        Seq("90", "Very High", pct > 90), Seq("Average", "NA", avgTrig))),
      cerf = table(CerfSchema, exceedance("cerf", CerfProbabilities)),
      start = provincial(StartProbabilities),
      hi = provincial(HiProbabilities))
  }
}

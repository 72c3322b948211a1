package graft.impact

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Bounded

/** The legacy R path's damage-probability reporting
  * (lib_r/damage_probability.R — SURVEY.md §3.3: W9/A11/A12 ops):
  *   - per-municipality ensemble percentile of damaged houses
  *     (`quantile(x, 1 − p)`, A11),
  *   - threshold-probability rounded to whole percent,
  *   - the grand-total row appended via ROLLUP (A12 — the one
  *     grouping-sets use in the reference),
  *   - quintile priority index (W9 ntile with null passthrough).
  */
object DamageProbability {

  /** Per-municipality table at an exceedance percentile: for each
    * Mun_Code the damage value exceeded with probability `p` across
    * members, plus P(damage ≥ threshold) as a whole percent. The
    * impact table is bounded (municipalities × members rows), so it is
    * read on one partition: the aggregate, and a sort of its result,
    * plan no exchange. */
  def municipalityTable(impact: DataFrame, percentile: Double,
                        threshold: Double): DataFrame =
    Bounded.onePartition(impact).groupBy("Mun_Code").agg(
      expr(s"percentile(damage_num, ${1 - percentile})").as("damage_at_percentile"),
      round(avg(when(col("damage_num") >= threshold, 100.0).otherwise(0.0)), 0)
        .as("prob_over_threshold_pct"),
      avg("damage_num").as("mean_damage"))

  /** A12: municipality breakdown with the TOTAL row, via rollup —
    * null group key becomes the literal "TOTAL" like the R
    * `add_row(summarise across sum)`. */
  def withTotalRow(perMun: DataFrame, valueCols: Seq[String]): DataFrame =
    perMun
      .rollup("Mun_Code")
      .agg(valueCols.map(c => sum(c).as(c)).head,
           valueCols.map(c => sum(c).as(c)).tail: _*)
      .withColumn("Mun_Code", coalesce(col("Mun_Code"), lit("TOTAL")))

  /** W9: quintile priority index over impact, nulls passed through
    * (run_model_V2.R:78-83 `ntile_na`). */
  def priorityIndex(perMun: DataFrame, impactCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nonNull = perMun.where(col(impactCol).isNotNull)
      .withColumn("priority_index",
        ntile(5).over(Window.orderBy(col(impactCol), col("Mun_Code"))))
    val nulls = perMun.where(col(impactCol).isNull)
      .withColumn("priority_index", lit(null).cast("int"))
    nonNull.unionByName(nulls)
  }
}

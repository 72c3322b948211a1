package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar function inventory (SURVEY.md §2.9) as pure
  * column expressions. Each cites the reference behavior it reproduces;
  * none uses a UDF, so everything stays inside whole-stage codegen.
  */
object ScalarFunctions {

  // ---- F5: category binning -------------------------------------------
  /** PAGASA category from km/h sustained wind
    * (forecast_process.py:845-847: cut on [0,62,88,117,185,inf]). */
  def pagasaCategory(kph: Column): Column =
    when(kph < 62, "TD")
      .when(kph < 88, "TS")
      .when(kph < 117, "STS")
      .when(kph < 185, "TY")
      .otherwise("STY")

  /** Saffir-Simpson category from m/s wind
    * (src/climada/hazard/tc_tracks.py:2019-2057: bins
    * [18,33,43,50,59,71,1000] → -1..5). */
  def saffirSimpson(ms: Column): Column =
    when(ms < 18, -1)
      .when(ms < 33, 0)
      .when(ms < 43, 1)
      .when(ms < 50, 2)
      .when(ms < 59, 3)
      .when(ms < 71, 4)
      .otherwise(5)

  // ---- F6: affected-population power law ------------------------------
  /** forecast_process.py:619-634: exp(a)·x^c, 0 below 1, null passthrough,
    * truncated to integer (python int() truncates toward zero). */
  def affectedPopulation(x: Column,
                         a: Double = 6.80943612231606,
                         c: Double = 0.46982114400549513): Column =
    when(x.isNull, lit(null))
      .when(x < 1, lit(0L))
      .otherwise(floor(exp(lit(a)) * pow(x, lit(c))).cast("long"))

  // ---- F7: damaged houses ---------------------------------------------
  /** forecast_process.py:932: 0.01·pct·housing_units → int (truncate). */
  def damagedHouses(pctDamage: Column, housingUnits: Column): Column =
    floor(pctDamage * 0.01 * housingUnits).cast("long")

  // ---- F8: training-label hygiene -------------------------------------
  /** forecast_process.py:550-568: vmax>25 → dmg/growth; vmax<25 → 0;
    * else null. */
  def setZeros(vmax: Column, dmg: Column, growth: Column): Column =
    when(vmax > 25, dmg / growth)
      .when(vmax < 25, lit(0.0))
      .otherwise(lit(null).cast("double"))

  // ---- F9: clipping ----------------------------------------------------
  def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  // ---- F14: piecewise-linear interpolation ----------------------------
  /** Value interpolation against knot points — the reference uses this
    * for RMW/ROCI estimation from central pressure
    * (src/climada/hazard/tc_tracks.py:1744-1777). Implemented exactly as
    * the reference does: a sum of hat (triangular basis) functions,
    *   Σᵢ vᵢ · max(0, 1 − s₀ᵢ·max(0, kᵢ−x) − s₁ᵢ·max(0, x−kᵢ)),
    * which equals linear interpolation inside [k₀, kₙ] and clamps to the
    * boundary values outside (the boundary hats have one zero slope).
    */
  def piecewiseLinear(x: Column, knots: Seq[Double], values: Seq[Double]): Column = {
    require(knots.length == values.length && knots.length >= 2)
    knots.indices.map { i =>
      val s0 = if (i > 0) 1.0 / (knots(i) - knots(i - 1)) else 0.0
      val s1 = if (i + 1 < knots.length) 1.0 / (knots(i + 1) - knots(i)) else 0.0
      lit(values(i)) * greatest(lit(0.0),
        lit(1.0) - lit(s0) * greatest(lit(0.0), lit(knots(i)) - x)
                 - lit(s1) * greatest(lit(0.0), x - lit(knots(i))))
    }.reduce(_ + _)
  }

  /** RMW knots from the reference (tc_tracks.py:1744-1777): central
    * pressure (hPa) → radius of max wind (nm). */
  val RmwKnots  = Seq(872.0, 940.0, 980.0, 1021.0)
  val RmwValues = Seq(14.907318, 15.726927, 25.742142, 56.856522)
  /** ROCI knots (tc_tracks.py:1707-1742): pressure → radius of outermost
    * closed isobar (nm). */
  val RociKnots  = Seq(872.0, 950.0, 985.0, 1005.0, 1021.0)
  val RociValues = Seq(210.711487, 215.897110, 198.261520, 159.589508, 90.900116)

  def estimateRmwNm(pcen: Column): Column  = piecewiseLinear(pcen, RmwKnots, RmwValues)
  def estimateRociNm(pcen: Column): Column = piecewiseLinear(pcen, RociKnots, RociValues)

  // ---- F15: vector norm ------------------------------------------------
  def norm2(u: Column, v: Column): Column = sqrt(u * u + v * v)
}

package graft.hazard

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarFunctions

/** Holland-1980/2008 parametric wind field as a Spark DataFrame
  * pipeline (SURVEY.md §2.10 X1–X6).
  *
  * Re-expresses climada's `compute_windfields`
  * (src/climada/hazard/trop_cyclone.py:515-639) relationally: the dense
  * (npositions × ncentroids × 2) ndarray becomes a long DataFrame of
  * (node, centroid) pairs that exist only where the reference's masks
  * are true (1e-2 km < d < 1000 km) — the same sparsity, by row
  * absence. Every physics step is a pure column expression, so the
  * whole kernel runs inside whole-stage codegen with no UDFs.
  *
  * Scale: the per-track node table is the small side (tracks × nodes,
  * ~25k rows at the 52-member envelope) and is broadcast into both
  * joins; the centroid grid (47k rows for the PH grid) streams on its
  * own partitions. Partitioning by (storm_id, ens_id) instead would run
  * the pair stage with one task per track, i.e. on one or two cores
  * for a small ensemble. The pair space is pruned FIRST by the
  * reference's own 5.5° bounding-box rule (X1) so the expensive trig
  * runs on ~1-2% of the cross product.
  */
object Windfield {

  // Constants from the reference (trop_cyclone.py:48-62, constants.py:199)
  val OneLatKm        = 111.12
  val KmhToMs         = 1.0 / 3.6
  val KnToMs          = 0.514444444444444444
  val NmToKm          = 1.852
  val MaxDistKm       = 1000.0   // CENTR_NODE_MAX_DIST_KM
  val MaxDistDeg      = 5.5      // CENTR_NODE_MAX_DIST_DEG
  val MinDistKm       = 1e-2
  val VTransCapMs     = 30 * KnToMs
  val Rho             = 1.15
  val IntensityThresh = 17.5     // trop_cyclone.py:91 (operational path uses 0)

  private val byTrack = Window.partitionBy("storm_id", "ens_id").orderBy("time")

  // ---- distance metrics (coordinates.py:241-322) ----------------------

  /** Equirect distance (km) and tangential vector (lat,lon components,
    * km) from point 1 to point 2. Longitudes must be pre-normalized. */
  def equirect(lat1: Column, lon1: Column, lat2: Column, lon2: Column): (Column, Column, Column) = {
    val dLonRaw = lon2 - lon1
    // heaviside wrap into (-180, 180]
    val dLonWrapped = dLonRaw -
      (when(dLonRaw - 180 > 0, 1.0).when(dLonRaw - 180 === 0, 0.5).otherwise(0.0) -
       when(-dLonRaw - 180 > 0, 1.0).when(-dLonRaw - 180 === 0, 0.5).otherwise(0.0)) * 360.0
    val vLat = (lat2 - lat1) * OneLatKm
    val vLon = dLonWrapped * cos(radians(lat1)) * OneLatKm
    (sqrt(vLat * vLat + vLon * vLon), vLat, vLon)
  }

  /** Geosphere (exact spherical) distance (km) and Riemannian-log
    * tangential vector — the operational metric
    * (forecast_process.py:1572 picks "geosphere"). */
  def geosphere(lat1: Column, lon1: Column, lat2: Column, lon2: Column): (Column, Column, Column) = {
    val la1 = radians(lat1); val lo1 = radians(lon1)
    val la2 = radians(lat2); val lo2 = radians(lon2)
    val hav = pow(sin((la2 - la1) / 2), 2) + cos(la1) * cos(la2) * pow(sin((lo2 - lo1) / 2), 2)
    val dist = degrees(lit(2.0) * asin(sqrt(hav))) * OneLatKm
    // 3D unit vectors (coordinates.py:79-115; rad_lat = lat + pi/2)
    def vec(la: Column, lo: Column): (Column, Column, Column) =
      (cos(la) * cos(lo), cos(la) * sin(lo), -sin(la))
    val (x1, y1, z1) = vec(la1, lo1)
    val (x2, y2, z2) = vec(la2, lo2)
    // tangent basis at point 1: north = d/dlat, east = d/dlon
    val (bnx, bny, bnz) = (-sin(la1) * cos(lo1), -sin(la1) * sin(lo1), -cos(la1))
    val (bex, bey)      = (-sin(lo1), cos(lo1))
    val scal = lit(1.0) - lit(2.0) * hav
    val fact = dist / greatest(lit(2.220446049250313e-16), sqrt(lit(1.0) - scal * scal))
    val tx = fact * (x2 - scal * x1)
    val ty = fact * (y2 - scal * y1)
    val tz = fact * (z2 - scal * z1)
    val vLat = tx * bnx + ty * bny + tz * bnz
    val vLon = tx * bex + ty * bey   // east basis has zero z-component
    (dist, vLat, vLon)
  }

  def distVtan(metric: String)(lat1: Column, lon1: Column, lat2: Column, lon2: Column): (Column, Column, Column) =
    metric match {
      case "equirect"  => equirect(lat1, lon1, lat2, lon2)
      case "geosphere" => geosphere(lat1, lon1, lat2, lon2)
      case m           => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  // ---- X2: translational velocity (trop_cyclone.py:676-714) -----------

  /** Adds v_trans_norm (m/s) and the directional components
    * (v_trans_lat, v_trans_lon), capped at 30 kn with vector rescale.
    * First node of each track gets 0. */
  def withVTrans(nodes: DataFrame, metric: String = "geosphere"): DataFrame = {
    val pLat = lag("lat", 1).over(byTrack)
    val pLon = lag("lon", 1).over(byTrack)
    val (d, vLat, vLon) = distVtan(metric)(pLat, pLon, col("lat"), col("lon"))
    // a zero/negative time step carries no velocity information (also
    // keeps ANSI mode from raising DIVIDE_BY_ZERO on degenerate input)
    val tstep = when(col("time_step") > 0, col("time_step"))
    val norm = d * KmhToMs / tstep
    val cap  = when(norm > VTransCapMs, lit(VTransCapMs) / norm).otherwise(1.0)
    nodes
      .withColumn("v_trans_norm", coalesce(norm * cap, lit(0.0)))
      .withColumn("v_trans_lat",  coalesce(vLat * KmhToMs / tstep * cap, lit(0.0)))
      .withColumn("v_trans_lon",  coalesce(vLon * KmhToMs / tstep * cap, lit(0.0)))
  }

  // ---- X3: Holland 2008 b parameter (trop_cyclone.py:716-769) ---------

  /** b_s = -4.4e-5·Δp² + 0.01·Δp + 0.03·dp/dt − 0.014·|lat|
    *       + 0.15·v_trans^(0.6·(1 − Δp/215)) + 1, clipped to [1, 2.5]. */
  def holB(vTrans: Column, penv: Column, pcen: Column, prevPcen: Column,
           lat: Column, tstepH: Column): Column = {
    val pdelta = penv - pcen
    val holXX  = lit(0.6) * (lit(1.0) - pdelta / 215)
    ScalarFunctions.clip(
      lit(-4.4e-5) * pdelta * pdelta + lit(0.01) * pdelta +
        lit(0.03) * (pcen - prevPcen) / tstepH - lit(0.014) * abs(lat) +
        lit(0.15) * pow(vTrans, holXX) + lit(1.0),
      1.0, 2.5)
  }

  // ---- X4: Holland 1980 gradient wind (trop_cyclone.py:771-836) -------

  /** V(r) = sqrt(100·b/ρ·(rmax/r)^b·Δp·e^(−(rmax/r)^b) + r_cor²) − r_cor
    * with r_cor = 0.5·1000·d·f_coriolis, f = 2·7.29e-5·sin(|lat|). */
  def statHolland(dCentrKm: Column, rMaxKm: Column, holB: Column,
                  penv: Column, pcen: Column, lat: Column): Column = {
    val fCor = lit(2 * 0.0000729) * sin(radians(abs(lat)))
    val rCor = lit(0.5 * 1000) * dCentrKm * fCor
    val rMaxNorm = pow(rMaxKm / dCentrKm, holB)
    val sqrtTerm = lit(100.0) * holB / Rho * rMaxNorm * (penv - pcen) *
      exp(-rMaxNorm) + rCor * rCor
    sqrt(greatest(lit(0.0), sqrtTerm)) - rCor
  }

  // ---- node preparation ------------------------------------------------

  /** Per-node physics prep (trop_cyclone.py:560-611): cap pcen at penv,
    * estimate rmw from pressure, translational velocity, the
    * prev-pressure<850 fixup, and the Holland b value. Requires columns
    * (storm_id, ens_id, time, time_step, lat, lon, central_pressure,
    * environmental_pressure, radius_max_wind). */
  def prepareNodes(tracks: DataFrame, metric: String = "geosphere"): DataFrame = {
    val prepped = tracks
      .withColumn("pcen", least(col("central_pressure"), col("environmental_pressure")))
      // reference always re-estimates when rad<=0 or null; data has rmw in nm
      .withColumn("rmw_km",
        when(col("radius_max_wind").isNotNull && col("radius_max_wind") > 0,
          col("radius_max_wind"))
          .otherwise(ScalarFunctions.estimateRmwNm(col("pcen"))) * NmToKm)
      .withColumn("node_idx", row_number().over(byTrack) - 1)
    val withV = withVTrans(prepped, metric)
    val prevP0 = lag("pcen", 1).over(byTrack)
    val prevP  = when(prevP0 < 850, col("pcen")).otherwise(prevP0)
    withV
      .withColumn("prev_pcen", prevP)
      .withColumn("hol_b",
        holB(col("v_trans_norm"), col("environmental_pressure"), col("pcen"),
          col("prev_pcen"), col("lat"), col("time_step")))
  }

  // ---- X1 + X5: full windfield assembly -------------------------------

  /** Compute directional 1-min sustained surface winds for every
    * (track node, centroid) pair within reach.
    *
    * tracks: TrackPrep column contract + time_step; its prepared nodes
    * are broadcast.
    * centroids: (centroid_id: long, lat: double, lon: double) — the
    * streamed side; the pair work runs on its partitions.
    *
    * Returns (storm_id, ens_id, time, centroid_id, w_lat, w_lon, speed)
    * — rows only where the reference's masks hold (sparse by absence).
    */
  def compute(tracks: DataFrame, centroids: DataFrame,
              metric: String = "geosphere"): DataFrame = {
    val nodes = prepareNodes(tracks, metric)
      .withColumn("n_nodes", count(lit(1)).over(Window.partitionBy("storm_id", "ens_id")))
      .where(col("n_nodes") >= 2)
      // hemisphere per track (trop_cyclone.py:610-612)
      .withColumn("hemi",
        when(sum(when(col("lat") < 0, 1).otherwise(0))
               .over(Window.partitionBy("storm_id", "ens_id")) >
             sum(when(col("lat") > 0, 1).otherwise(0))
               .over(Window.partitionBy("storm_id", "ens_id")), -1.0)
          .otherwise(1.0))

    val cent = centroids.select(
      col("centroid_id"), col("lat").as("c_lat"), col("lon").as("c_lon"))

    // X1: a centroid is reachable if within the 5.5° box of ANY node of
    // the track; then ALL nodes of that track pair with it (the
    // reference computes distances node × reachable-centroid). The
    // longitudinal test uses the wrap-safe difference — equivalent to
    // the reference's normalize-both-around-mid-lon trick
    // (trop_cyclone.py:560-563) without the extra pass.
    val lonDiff = ((col("c_lon") - col("lon") + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    val reachable = cent
      .join(broadcast(nodes),
        col("c_lat") > col("lat") - MaxDistDeg && col("c_lat") < col("lat") + MaxDistDeg &&
        lonDiff > -MaxDistDeg && lonDiff < MaxDistDeg)
      .select("storm_id", "ens_id", "centroid_id", "c_lat", "c_lon")
      .distinct()

    val pairs = broadcast(nodes).join(reachable, Seq("storm_id", "ens_id"))

    val (d, vLat, vLon) = distVtan(metric)(
      col("lat"), col("lon"), col("c_lat"), col("c_lon"))

    val withDist = pairs
      .withColumn("d_centr", d)
      .withColumn("vt_lat", vLat)
      .withColumn("vt_lon", vLon)
      .where(col("d_centr") > MinDistKm && col("d_centr") < MaxDistKm)
      .where(col("node_idx") >= 1)   // first node has no v_trans/hol_b

    val vAngNorm = statHolland(col("d_centr"), col("rmw_km"), col("hol_b"),
      col("environmental_pressure"), col("pcen"), col("lat"))

    // angular direction: rotate the normalized radial vector by 90°;
    // N hemisphere [1,-1]·(vlon,vlat), S mirrored (trop_cyclone.py:613-617)
    val dirLat = col("hemi") * col("vt_lon") / col("d_centr")
    val dirLon = -col("hemi") * col("vt_lat") / col("d_centr")

    // translational correction decays as rmax/d (Mouton & Nordbeck 1999)
    val vTransCorr = least(lit(1.0), col("rmw_km") / col("d_centr"))

    val wLat0 = col("v_trans_lat") * vTransCorr + vAngNorm * dirLat
    val wLon0 = col("v_trans_lon") * vTransCorr + vAngNorm * dirLon
    // reference zeroes NaNs (trop_cyclone.py:633)
    val wLat = when(isnan(wLat0) || wLat0.isNull, 0.0).otherwise(wLat0)
    val wLon = when(isnan(wLon0) || wLon0.isNull, 0.0).otherwise(wLon0)

    withDist
      .withColumn("w_lat", wLat)
      .withColumn("w_lon", wLon)
      .withColumn("speed", sqrt(col("w_lat") * col("w_lat") + col("w_lon") * col("w_lon")))
      .select("storm_id", "ens_id", "time", "centroid_id",
        "d_centr", "w_lat", "w_lon", "speed")
  }

  /** X6/A10: per-(track, centroid) intensity = max wind speed over time,
    * thresholded (trop_cyclone.py:367-448; operational threshold is 0 —
    * settings.py:187). */
  def intensity(windfields: DataFrame, threshold: Double = 0.0): DataFrame =
    windfields
      .groupBy("storm_id", "ens_id", "centroid_id")
      .agg(max("speed").as("intensity"), min("d_centr").as("dist_min"))
      .where(col("intensity") > threshold)
}

package perfbench

import java.time.LocalDateTime

import scala.util.Random

/** Seeded input generators. Every function here is pure in its
  * arguments: the same seed gives the same values, so the measured run
  * can regenerate the expected values and compare them with what the
  * decoders return. The engine only ever sees the files written by
  * [[Generate]]. */
object Inputs {

  /** Forecast reference time of every generated cycle. */
  val RefTime: LocalDateTime = LocalDateTime.of(2024, 10, 21, 0, 0)
  val StormId = "27W"

  /** Seed for the static geography (polygons, indicators): set-up work
    * is the same whatever the workload seed. */
  val GeoSeed = 20241021L

  // ---- workloads ---------------------------------------------------------

  /** The forecast ensemble: its shape, the storm's name and central
    * pressure (hPa) by forecast hour. `ensMembers` excludes the HRES
    * subset; the storm path is [[trackPath]]. */
  final case class ForecastSpec(stormName: String, ensMembers: Int, horizonH: Int,
                                pressure: Double => Double)

  /** A workload: a forecast cycle scored with a booster file, or the
    * daily batch (curation, then retraining the damage model). */
  final case class Workload(name: String, forecast: Option[ForecastSpec],
                            curation: Boolean, trainRows: Int, trainRounds: Int)

  private def lerp(a: Double, b: Double, t: Double) = a + (b - a) * t

  /** Westward track from the Philippine Sea over Samar, Bicol and
    * southern Luzon, deepening to ~925 hPa before landfall. */
  val Kristine: ForecastSpec = ForecastSpec("KRISTINE", ensMembers = 1, horizonH = 36,
    pressure = h => if (h < 24) lerp(965, 925, h / 24) else lerp(925, 965, (h - 24) / 24))

  val Workloads: Seq[Workload] = Seq(
    Workload("landfall_scored", Some(Kristine), curation = false, trainRows = 0, trainRounds = 0),
    Workload("curation_daily", None, curation = true, trainRows = 600, trainRounds = 3))
  def workload(name: String): Workload = Workloads.find(_.name == name).getOrElse(
    sys.error(s"unknown workload $name (known: ${Workloads.map(_.name).mkString(", ")})"))

  /** Centre position (lat, lon) at hour `h` of the HRES track. */
  def trackPath(seed: Long): Double => (Double, Double) = {
    val rnd = new Random(seed * 7919 + 17)
    // small jitter: the seed changes the values, not the amount of work
    val lat0 = 12.1 + rnd.nextDouble() * 0.1
    val slope = 0.04 + rnd.nextDouble() * 0.002
    h => (lat0 + slope * h, 131.0 - 0.18 * h)
  }

  // ---- tracks ------------------------------------------------------------

  private def quant(v: Double, scale: Int): Double = {
    val f = math.pow(10, scale)
    math.round(v * f) / f
  }

  /** The ensemble as the BUFR message carries it: the HRES subset
    * (member 0, type 0) then `ensMembers` perturbed members (type 4).
    * Values are quantized to the template's resolution so the decode
    * returns them exactly. */
  def members(spec: ForecastSpec, seed: Long): Seq[BufrWriter.Member] = {
    val base = trackPath(seed)
    val hours = 0 to spec.horizonH by 6
    (0 to spec.ensMembers).map { m =>
      val rnd = new Random(seed * 1000003L + m)
      val dLat = if (m == 0) 0.0 else rnd.nextGaussian() * 0.015
      val dLon = if (m == 0) 0.0 else rnd.nextGaussian() * 0.015
      val dP = if (m == 0) 0.0 else rnd.nextGaussian() * 4.0
      val speed = if (m == 0) 1.0 else 1.0 + rnd.nextGaussian() * 0.05
      val steps = hours.map { h =>
        val (la, lo) = base(h * speed)
        val lat = quant(la + dLat * h / 6, 2)
        val lon = quant(lo + dLon * h / 6, 2)
        val pHpa = math.min(1005.0, spec.pressure(h) + dP)
        val wind = quant(math.sqrt(math.max(0.0, 1010.0 - pHpa)) * 6.5, 1)
        val rmwDeg = 0.25 + (pHpa - 920.0) / 400.0
        val radii = Array(18.0, 26.0, 33.0).map { thr =>
          Array.tabulate(4) { q =>
            if (wind <= thr) Double.NaN
            else math.round((wind - thr) * 9000.0 * (1.0 + 0.15 * q)).toDouble
          }
        }
        BufrWriter.Step(h, lat, lon, math.round(pHpa * 10).toDouble * 10.0,
          quant(lat + rmwDeg, 2), lon, wind, radii)
      }
      BufrWriter.Member(m, if (m == 0) 0 else 4, steps)
    }
  }

  /** Encoded ECMWF-style track message for the workload. */
  def bufr(spec: ForecastSpec, seed: Long): Array[Byte] = {
    val ms = members(spec, seed)
    val subsets = ms.map { m =>
      val a = m.steps.head
      BufrWriter.subsetValues(StormId, spec.stormName, RefTime, m, a)
    }
    BufrWriter.message(subsets, RefTime)
  }

  // ---- rain --------------------------------------------------------------

  val RainGrid: Grib2Writer.Grid = Grib2Writer.Grid(ni = 37, nj = 37, lat1 = 22.0, lon1 = 114.0, res = 0.5)
  val RainMembers = 30
  /** (accumulation hours, lead hours ending each accumulation) */
  val RainWindows: Seq[(Int, Seq[Int])] = Seq(6 -> (6 to 72 by 6), 24 -> Seq(24, 48, 72))

  /** Accumulated precipitation in tenths of a millimetre for one member
    * and one accumulation window: a rain shield that follows the HRES
    * track, scaled per member, plus light background showers. */
  def rainField(spec: ForecastSpec, seed: Long, member: Int, lead: Int, accum: Int): Array[Int] = {
    val base = trackPath(seed)
    val rnd = new Random(seed * 31L + member * 1009L + lead * 7L + accum)
    val scale = 0.7 + 0.6 * new Random(seed + member).nextDouble()
    Array.tabulate(RainGrid.points) { i =>
      val (lat, lon) = RainGrid.latLon(i)
      var mm = 0.0
      var h = lead - accum
      while (h < lead) {
        val (cLat, cLon) = base(h + 0.5)
        val d2 = (lat - cLat) * (lat - cLat) + (lon - cLon) * (lon - cLon)
        mm += 9.0 * math.exp(-d2 / (2 * 1.2 * 1.2))
        h += 1
      }
      math.round((mm * scale + rnd.nextDouble() * 0.8 * accum / 6.0) * 10).toInt
    }
  }

  // ---- geography (static) -------------------------------------------------

  /** Land boxes (lat0, lat1, lon0, lon1) of a stylised archipelago. */
  private val LandBoxes = Seq(
    (16.0, 18.6, 120.4, 122.2), (14.4, 16.0, 120.0, 122.0), (13.0, 14.4, 121.0, 124.2),
    (12.2, 13.5, 120.4, 121.5), (10.0, 12.6, 124.2, 125.8), (9.2, 11.8, 122.0, 124.0),
    (6.2, 9.0, 123.5, 126.3))
  val CellDeg = 0.14

  final case class Municipality(code: String, lat0: Double, lon0: Double) {
    def lat1: Double = lat0 + CellDeg
    def lon1: Double = lon0 + CellDeg
    def wkt: String =
      f"POLYGON (($lon0%.4f $lat0%.4f, $lon1%.4f $lat0%.4f, $lon1%.4f $lat1%.4f, " +
        f"$lon0%.4f $lat1%.4f, $lon0%.4f $lat0%.4f))"
  }

  /** Region of a land cell: CERF regions PH05/PH08/PH16 and the
    * provinces with START (PH0215, PH0826, PH1667) and HI (PH0505)
    * tables get their real codes. */
  private def regionProvince(lat: Double, lon: Double): (Int, Int) =
    if (lat >= 16.0) {
      if (lon >= 121.2) (2, if (lat >= 17.5) 15 else 31) else (1, if (lat >= 17.3) 28 else 33)
    } else if (lat >= 14.4) (3, if (lon >= 121.0) 54 else 49)
    else if (lat >= 12.2 && lon < 121.6) (17, 51)
    else if (lat >= 13.0 && lon < 122.4) (4, if (lat >= 13.7) 21 else 56)
    else if (lat >= 13.0) (5, if (lat < 13.5 && lon >= 123.4) 5 else if (lon < 123.2) 16 else 17)
    else if (lon >= 124.2 && lat >= 10.0) (8, if (lon >= 125.0) 26 else 37)
    else if (lat >= 9.2 && lon < 124.0) (if (lon < 123.0) 6 else 7, if (lat >= 10.5) 19 else 22)
    else if (lon >= 125.2 && lat >= 8.0) (16, if (lat >= 9.3) 67 else 2)
    else (if (lon < 124.6) 10 else 11, if (lat >= 7.5) 13 else 24)

  lazy val municipalities: Seq[Municipality] = {
    val cells = for {
      (la0, la1, lo0, lo1) <- LandBoxes
      i <- 0 until ((la1 - la0) / CellDeg).toInt
      j <- 0 until ((lo1 - lo0) / CellDeg).toInt
    } yield (quant(la0 + i * CellDeg, 4), quant(lo0 + j * CellDeg, 4))
    val distinct = cells.distinct.sortBy { case (la, lo) => (-la, lo) }
    // overlapping boxes: keep the first cell that claims a location
    val kept = distinct.foldLeft(Vector.empty[(Double, Double)]) { (acc, c) =>
      if (acc.exists { case (la, lo) => math.abs(la - c._1) < CellDeg && math.abs(lo - c._2) < CellDeg }) acc
      else acc :+ c
    }
    val byProvince = kept.groupBy { case (la, lo) => regionProvince(la + CellDeg / 2, lo + CellDeg / 2) }
    byProvince.toSeq.sortBy(_._1).flatMap { case ((r, p), cs) =>
      cs.sortBy { case (la, lo) => (-la, lo) }.zipWithIndex.map { case ((la, lo), k) =>
        // PSGC-style 9 digits: region, province, municipality (+ 000)
        val (pp, mm) = (p + 2 * (k / 99), k % 99 + 1)
        Municipality(f"PH$r%02d$pp%02d$mm%02d000", la, lo)
      }
    }.sortBy(_.code)
  }

  /** The 13 static indicator columns, in the order of the model's
    * feature list (ImpactModel.FeatureCols minus the hazard and rain
    * columns the cycle computes). */
  val StaticCols: Seq[String] = Seq(
    "TOP_mean_slope", "TOP_mean_elevation_m", "TOP_ruggedness_stdev",
    "TOP_mean_ruggedness", "TOP_slope_stdev", "VUL_poverty_perc", "GEN_with_coast",
    "VUL_Housing_Units", "VUL_StrongRoof_StrongWall", "VUL_StrongRoof_LightWall",
    "VUL_StrongRoof_SalvageWall", "VUL_LightRoof_StrongWall", "VUL_vulnerable_groups")

  def staticRow(rnd: Random): Seq[Double] = {
    val strong = rnd.nextDouble() * 60
    val light = rnd.nextDouble() * (90 - strong)
    Seq(rnd.nextDouble() * 30, rnd.nextDouble() * 1500, rnd.nextDouble() * 50,
      rnd.nextDouble() * 40, rnd.nextDouble() * 15, 5 + rnd.nextDouble() * 65,
      if (rnd.nextDouble() < 0.6) 1.0 else 0.0,
      math.round(math.exp(math.log(1500) + rnd.nextDouble() * math.log(30.0))).toDouble,
      strong, light, rnd.nextDouble() * 5, rnd.nextDouble() * 10, 1 + rnd.nextDouble() * 19)
      .map(quant(_, 3))
  }

  lazy val indicators: Seq[(String, Seq[Double])] = {
    val rnd = new Random(GeoSeed)
    municipalities.map(m => m.code -> staticRow(rnd))
  }

  // ---- damage model --------------------------------------------------------

  /** Damage (% of houses) a storm of peak wind `v` m/s does to a
    * municipality with the given poverty share: the shape both the
    * training labels and the scoring booster follow. */
  def damageCurve(v: Double, poverty: Double): Double = {
    val byWind = if (v < 20) 0.0 else if (v < 30) 1.0 else if (v < 40) 5.0
                 else if (v < 50) 16.0 else if (v < 60) 30.0 else 45.0
    byWind * (0.75 + poverty / 140.0)
  }

  private val featureIdx: Map[String, Int] = graft.impact.ImpactModel.FeatureCols.zipWithIndex.toMap

  /** Seeded depth-3 trees of the scoring booster besides its two
    * curve trees, so scoring walks ~100 trees like the operational
    * model. */
  val ExtraTrees = 98

  /** Booster for the scoring workload: one tree carrying the wind
    * curve, one for the poverty modulation and [[ExtraTrees]] seeded
    * depth-3 trees with small leaves over the other features. */
  def booster(seed: Long): graft.impact.XgbBooster = {
    import graft.impact.{XgbBooster, XgbTree}
    val fv = featureIdx("HAZ_v_max")
    val fp = featureIdx("VUL_poverty_perc")
    val base = 0.5f
    // balanced split tree over v_max thresholds; leaves at curve(v, 35%)
    def windTree: XgbTree = {
      val thr = Array(20f, 30f, 40f, 50f, 60f)
      val leafVals = Array(0.0, 1.0, 5.0, 16.0, 30.0, 45.0).map(v => (v * (0.75 + 35 / 140.0) - base).toFloat)
      // nodes built recursively over the leaf range [lo, hi]
      val nodes = scala.collection.mutable.ArrayBuffer[(Int, Float, Int, Int)]()
      def mk(lo: Int, hi: Int): Int = {
        val id = nodes.size
        nodes += ((-1, 0f, -1, -1))
        if (lo == hi) nodes(id) = (0, leafVals(lo), -1, -1)
        else {
          val mid = (lo + hi) / 2
          val l = mk(lo, mid); val r = mk(mid + 1, hi)
          nodes(id) = (fv, thr(mid), l, r)
        }
        id
      }
      mk(0, thr.length)
      XgbTree(nodes.map(_._1).toArray, nodes.map(_._2).toArray, nodes.map(_._3).toArray,
        nodes.map(_._4).toArray, Array.fill(nodes.size)(false))
    }
    // poverty modulation where the wind is damaging: +/- 20% of curve
    def povertyTree: XgbTree = XgbTree(
      feat = Array(fv, 0, fp, 0, 0), cond = Array(40f, 0f, 35f, -2.5f, 2.5f),
      left = Array(1, -1, 3, -1, -1), right = Array(2, -1, 4, -1, -1),
      defaultLeft = Array(true, false, true, false, false))
    val rnd = new Random(seed * 104729L + 3)
    val others = (featureIdx - "HAZ_v_max" - "HAZ_v_max_3").toSeq.sortBy(_._2)
    def smallTree: XgbTree = {
      val fs = Array.fill(3)(others(rnd.nextInt(others.size))._2)
      // thresholds inside each feature's generated range
      def thrOf(f: Int): Float = (graft.impact.ImpactModel.FeatureCols(f) match {
        case "HAZ_dis_track_min" => 50 + rnd.nextDouble() * 250
        case c if c.startsWith("HAZ_rain") => rnd.nextDouble() * 150
        case "VUL_Housing_Units" => 2000 + rnd.nextDouble() * 20000
        case "GEN_with_coast" => 0.5
        case _ => rnd.nextDouble() * 20
      }).toFloat
      def leaf = (rnd.nextGaussian() * 0.15).toFloat
      XgbTree(
        feat = Array(fs(0), fs(1), fs(2), 0, 0, 0, 0),
        cond = Array(thrOf(fs(0)), thrOf(fs(1)), thrOf(fs(2)), leaf, leaf, leaf, leaf),
        left = Array(1, 3, 5, -1, -1, -1, -1), right = Array(2, 4, 6, -1, -1, -1, -1),
        defaultLeft = Array(rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean(),
          false, false, false, false))
    }
    val trees = Array(windTree, povertyTree) ++ Array.fill(ExtraTrees)(smallTree)
    new XgbBooster(base, graft.impact.ImpactModel.FeatureCols.size, trees,
      graft.impact.ImpactModel.FeatureCols)
  }

  /** Historical training rows for the retrain workload: 19 features and
    * the `DAM_perc_dmg` label, mostly zero-damage like the reference's
    * table. Returns (train, eval). */
  def training(seed: Long, rows: Int): (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val rnd = new Random(seed * 15485863L + 11)
    def row(): Seq[Double] = {
      val v = quant(math.pow(rnd.nextDouble(), 1.6) * 75, 2)
      val dist = quant(if (v > 40) rnd.nextDouble() * 80 else rnd.nextDouble() * 400, 2)
      val r6 = quant(rnd.nextDouble() * 60, 2)
      val r24 = quant(r6 * (1.5 + rnd.nextDouble() * 2), 2)
      val total = quant(r24 * (1 + rnd.nextDouble()), 2)
      val st = staticRow(rnd)
      val dmg = quant(math.max(0.0, math.min(100.0,
        damageCurve(v, st(5)) * (0.8 + 0.4 * rnd.nextDouble()) +
          (if (rnd.nextDouble() < 0.1) rnd.nextDouble() * 3 else 0.0))), 3)
      Seq(total, r6, r24, v, quant(v * v * v, 2), dist) ++ st :+ dmg
    }
    val all = Seq.fill(rows + rows / 4)(row())
    (all.take(rows), all.drop(rows))
  }

  // ---- curation corpus ------------------------------------------------------

  final case class Corpus(corpus: Seq[(Long, String)], batch: Seq[(Long, String)],
                          eval: Seq[(Long, String)], plantedExact: Int,
                          plantedNear: Int, plantedContaminated: Set[Long])

  /** Documents in the base corpus, the daily batch and the evaluation
    * set of the curation workload. */
  val CorpusDocs = 5000
  val BatchDocs = 1500
  val EvalDocs = 150

  /** A base corpus, one daily batch with planted exact and near
    * duplicates and a few documents that quote an evaluation passage,
    * and the evaluation set. */
  def corpus(seed: Long): Corpus = {
    val rnd = new Random(seed * 2654435761L + 5)
    val syll = Array("ka", "lo", "mi", "ta", "an", "ri", "su", "ne", "po", "ba",
      "gu", "de", "yo", "ha", "wi", "ng", "sa", "ku", "el", "ma")
    val vocab = Array.tabulate(6000) { i =>
      val r = new Random(GeoSeed + i)
      (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString + i % 7
    }
    // Zipf-ish word draw
    def word(): String = vocab(math.min(vocab.length - 1, (math.pow(rnd.nextDouble(), 2.5) * vocab.length).toInt))
    def doc(n: Int): Vector[String] = Vector.fill(n)(word())
    val corpusRows = (0 until CorpusDocs).map(i => (i.toLong, doc(60 + rnd.nextInt(120)).mkString(" ")))
    val evalRows = (0 until EvalDocs).map(i => (i.toLong, doc(40 + rnd.nextInt(30)).mkString(" ")))
    val firstBatchId = 1000000L
    val batch = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var exact = 0; var near = 0
    val contaminated = scala.collection.mutable.Set[Long]()
    (0 until BatchDocs).foreach { i =>
      val id = firstBatchId + i
      val p = rnd.nextDouble()
      val text =
        if (p < 0.08 && batch.nonEmpty) { exact += 1; batch(rnd.nextInt(batch.size))._2 }
        else if (p < 0.18 && batch.nonEmpty) {
          near += 1
          val src = batch(rnd.nextInt(batch.size))._2.split(' ').toVector
          src.map(w => if (rnd.nextDouble() < 0.02) word() else w).mkString(" ")
        } else if (p < 0.19) {
          contaminated += id
          val e = evalRows(rnd.nextInt(evalRows.size))._2.split(' ')
          val from = rnd.nextInt(math.max(1, e.length - 30))
          (doc(40) ++ e.slice(from, from + 30) ++ doc(40)).mkString(" ")
        } else doc(60 + rnd.nextInt(120)).mkString(" ")
      batch += ((id, text))
    }
    Corpus(corpusRows, batch.toSeq, evalRows, exact, near, contaminated.toSet)
  }
}

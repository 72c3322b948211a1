package graft

import org.apache.spark.sql.functions._

import graft.geo.SpatialJoin
import graft.impact.{GbtParams, ImpactModel, Triggers}

class ImpactSpec extends SparkTestBase {
  import spark.implicits._

  // --- spatial join ----------------------------------------------------

  test("J1 centroid-admin map: points land in the right polygon, outsiders dropped") {
    val polys = Seq(
      ("A1", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
      ("A2", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))")).toDF("admin_code", "wkt")
    val pts = Seq((1L, 1.0, 1.0), (2L, 1.0, 3.0), (3L, 10.0, 10.0))
      .toDF("centroid_id", "lat", "lon")
    val got = SpatialJoin.centroidAdminMap(pts, polys)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "A1", 2L -> "A2"))
  }

  test("A7/A8 zonal stats: mean per zone per step, max over steps") {
    val polys = Seq(("Z", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")).toDF("admin_code", "wkt")
    val pts = Seq((1L, 0.5, 0.5), (2L, 1.5, 1.5)).toDF("centroid_id", "lat", "lon")
    val map = SpatialJoin.centroidAdminMap(pts, polys)
    val raster = Seq((1L, 1, 10.0), (2L, 1, 20.0), (1L, 2, 50.0), (2L, 2, 30.0))
      .toDF("centroid_id", "time", "value")
    val means = SpatialJoin.zonalMean(raster, map, Seq("time"))
      .orderBy("time").collect().map(_.getDouble(2))
    assert(means.toSeq == Seq(15.0, 40.0))
    val mx = SpatialJoin.zonalMaxOverTime(raster, map).collect().head.getDouble(1)
    assert(mx == 40.0)
  }

  // --- triggers --------------------------------------------------------

  private def impactDf = Seq(
    // (Mun_Code, ens_id, damage_pct, damage_num)
    ("PH051000000", 0, 20.0, 90000.0), ("PH051000000", 1, 15.0, 60000.0),
    ("PH052000000", 0, 12.0, 1000.0),  ("PH052000000", 1, 2.0, 100.0),
    ("PH053000000", 0, 11.0, 500.0),   ("PH053000000", 1, 1.0, 10.0),
    ("PH161000000", 0, 30.0, 5000.0),  ("PH161000000", 1, 0.0, 0.0),
    ("PH011000000", 0, 50.0, 99999.0), ("PH011000000", 1, 50.0, 99999.0))
    .toDF("Mun_Code", "ens_id", "damage_pct", "damage_num")

  test("W6 dedup keeps the max-damage row") {
    val dup = impactDf.union(Seq(("PH051000000", 0, 5.0, 100.0))
      .toDF("Mun_Code", "ens_id", "damage_pct", "damage_num"))
    val got = Triggers.dedupKeepMax(dup)
      .where($"Mun_Code" === "PH051000000" && $"ens_id" === 0)
      .select("damage_pct").collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(20.0))
  }

  test("A5 ensemble totals") {
    val got = Triggers.ensembleTotals(impactDf).orderBy("ens_id").collect()
    assert(got(0).getAs[Long]("n_municipalities") == 5)
    assert(got(0).getAs[Long]("n_triggered") == 5)     // all > 10 in member 0
    assert(got(1).getAs[Long]("n_triggered") == 2)     // 15 and 50
  }

  test("A6 exceedance table: fraction of members over threshold") {
    val totals = Seq((0, 100000.0), (1, 60000.0), (2, 1000.0), (3, 90000.0))
      .toDF("ens_id", "total")
    val got = Triggers.exceedanceTable(totals, "total", Triggers.DrefProbabilities)
      .orderBy("threshold").collect()
    // thresholds: 5k (3/4 > 5000), 10k (3/4), 50k (3/4), 80k (2/4)
    val byLabel = got.map(r => r.getAs[String]("threshold_label") ->
      (r.getAs[Double]("predicted_probability"), r.getAs[Boolean]("triggered"))).toMap
    assert(byLabel("5k")._1 == 0.75 && byLabel("5k")._2 == false)   // 0.75 < 0.95
    assert(byLabel("80k")._1 == 0.5 && byLabel("80k")._2 == false)  // 0.5 !> 0.5
    assert(byLabel("10k")._1 == 0.75 && byLabel("10k")._2 == false) // 0.75 !> 0.8
    assert(byLabel("50k")._1 == 0.75 && byLabel("50k")._2 == true)  // 0.75 > 0.6
  }

  test("DREF trigger: 10%-rule scenarios + Average") {
    val got = Triggers.drefTrigger(impactDf).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    // member 0: 5 muns > 10% → trig; member 1: 2 muns → no trig → pct = 50
    assert(got("50") == false)   // 50 !> 50
    assert(got("70") == false)
    // avg damage per mun: PH0510=17.5, PH0520=7, PH0530=6, PH1610=15, PH0110=50
    // → 3 muns > 10 → > 2 → Average triggered
    assert(got("Average") == true)
  }

  test("CERF trigger filters to regions 05/08/16") {
    val got = Triggers.cerfTrigger(impactDf).collect()
    // member totals within PH05/PH16: m0 = 90000+1000+500+5000 = 96500, m1 = 60110
    val p80k = got.find(_.getAs[String]("threshold_label") == "80k").get
    assert(p80k.getAs[Double]("predicted_probability") == 0.5)
    val p50k = got.find(_.getAs[String]("threshold_label") == "50k").get
    assert(p50k.getAs[Double]("predicted_probability") == 1.0)
    assert(p50k.getAs[Boolean]("triggered"))
  }

  test("START trigger groups by province prefix") {
    val impact = Seq(
      ("PH166712345", 0, 20.0, 40000.0), ("PH166799999", 0, 10.0, 5000.0),
      ("PH166712345", 1, 20.0, 1000.0))
      .toDF("Mun_Code", "ens_id", "damage_pct", "damage_num")
    val got = Triggers.startTrigger(impact).collect()
    assert(got.forall(_.getAs[String]("province") == "PH166700000"))
    // member totals: m0 = 45000 > 37k, m1 = 1000 → prob 0.5 for all thresholds ≤ 37k
    val p37 = got.find(_.getAs[String]("threshold_label") == "37k").get
    assert(p37.getAs[Double]("predicted_probability") == 0.5)
  }

  // The per-table formulation the one-pass report replaced: one plan
  // per trigger table, each with its own dedup. Kept here as the
  // reference for the equivalence property below.
  private object PerTable {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.broadcast

    def dref(impact: DataFrame): DataFrame = {
      val deduped = Triggers.dedupKeepMax(impact).cache()
      val perMember = deduped.groupBy("ens_id")
        .agg(sum(when(col("damage_pct") > 10, 1).otherwise(0)).as("n_trig"))
        .withColumn("trig3x10", when(col("n_trig") > 2, 1.0).otherwise(0.0))
      val pct = perMember.agg((avg("trig3x10") * 100).as("p")).as[Double].head()
      val avgTrig = deduped.groupBy("Mun_Code")
        .agg(avg("damage_pct").as("avg_dmg"))
        .agg(sum(when(col("avg_dmg") > 10, 1).otherwise(0)).as("n"))
        .as[Long].head() > 2
      deduped.unpersist()
      Seq(("50", "Moderate", pct > 50), ("70", "High", pct > 70),
        ("90", "Very High", pct > 90), ("Average", "NA", avgTrig))
        .toDF("threshold_label", "scenario", "triggered")
    }

    def cerf(impact: DataFrame): DataFrame = {
      val filtered = Triggers.dedupKeepMax(impact)
        .where(substring(col("Mun_Code"), 1, 4).isin(Triggers.CerfRegions: _*))
      val perMember = filtered.groupBy("ens_id").agg(sum("damage_num").as("total"))
      Triggers.exceedanceTable(perMember, "total", Triggers.CerfProbabilities)
    }

    def provincial(impact: DataFrame,
                   tables: Map[String, Seq[(String, Double, Double)]]): DataFrame = {
      val thr = tables.toSeq.flatMap { case (prov, rows) =>
        rows.map { case (l, t, p) => (prov, l, t, p) }
      }.toDF("province", "threshold_label", "threshold", "prob_threshold")
      val perMember = Triggers.dedupKeepMax(impact)
        .withColumn("province", concat(substring(col("Mun_Code"), 1, 6), lit("00000")))
        .groupBy("province", "ens_id")
        .agg(sum("damage_num").as("total"))
      perMember.join(broadcast(thr), Seq("province"))
        .groupBy("province", "threshold_label", "threshold", "prob_threshold")
        .agg(avg(when(col("total") > col("threshold"), 1.0).otherwise(0.0))
          .as("predicted_probability"))
        .withColumn("triggered", col("predicted_probability") > col("prob_threshold"))
    }
  }

  test("one-pass trigger report equals the per-table formulation on 60 seeded tables") {
    import scala.util.Random
    import org.apache.spark.sql.DataFrame
    // municipalities in every scope: CERF regions (PH05/08/16), the START
    // provinces, the HI province (also in PH05) and outside all of them
    val muns = Seq("PH166701000", "PH166702000", "PH166703000", "PH021501000",
      "PH021502000", "PH082601000", "PH082602000", "PH050501000", "PH050502000",
      "PH051001000", "PH080101000", "PH160201000", "PH013301000", "PH175301000")
    val thresholds = (Triggers.CerfProbabilities ++ Triggers.StartProbabilities.values.flatten ++
      Triggers.HiProbabilities.values.flatten).map(_._2).distinct
    val cases = scala.collection.mutable.Set[String]()
    def table(seed: Int): (DataFrame, Int) = {
      val rnd = new Random(seed)
      val members = Seq(1, 2, 17, 52)(seed % 4)
      // every value is a small dyadic fraction, so sums are exact in any
      // order and a total can land exactly on a threshold
      def pct(): Double = if (rnd.nextInt(5) == 0) 10.0 else rnd.nextInt(200) / 8.0
      def num(): Double = rnd.nextInt(4) match {
        case 0 => thresholds(rnd.nextInt(thresholds.size))
        case 1 => 500.0 * rnd.nextInt(20)
        case 2 => thresholds(rnd.nextInt(thresholds.size)) / 4
        case _ => rnd.nextInt(4000) / 4.0
      }
      val rows = for {
        ens <- 0 until members
        // members skip municipalities, so some have no rows in a scope
        mun <- muns if rnd.nextInt(3) > 0
        p = pct()
        // duplicates rank strictly below the row dedup keeps
        dup <- Seq(p) ++ (if (rnd.nextInt(6) == 0) Seq(p - 0.5) else Nil)
      } yield (mun, ens, dup, num())
      val long = seed % 2 == 0
      // the cases the property must cover, derived in plain Scala
      val kept = rows.groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toSeq
      val scopes: Seq[String => Boolean] =
        ((m: String) => Triggers.CerfRegions.contains(m.take(4))) +:
          (Triggers.StartProbabilities.keys ++ Triggers.HiProbabilities.keys).toSeq
          .map(p => (m: String) => m.take(6) + "00000" == p)
      for (in <- scopes) {
        val totals = kept.filter(r => in(r._1)).groupBy(_._2).values
          .map(_.map(r => if (long) math.floor(r._4) else r._4).sum)
        if (totals.nonEmpty && totals.size < members) cases += "member without rows in a scope"
        if (totals.exists(thresholds.contains)) cases += "total at a threshold"
      }
      if (kept.exists(_._3 == 10.0)) cases += "damage_pct 10"
      cases += (if (long) "Long damage_num" else "Double damage_num")
      val df = rows.toDF("Mun_Code", "ens_id", "damage_pct", "damage_num")
      (if (long) df.withColumn("damage_num", floor(col("damage_num"))) else df, members)
    }
    def sorted(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
      (df.columns.toSeq, df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))
    val seen = scala.collection.mutable.Set[String]()
    for (seed <- 0 until 60) {
      val (impact, members) = table(seed)
      val rep = Triggers.report(impact)
      val want = Seq("dref" -> PerTable.dref(impact), "cerf" -> PerTable.cerf(impact),
        "start" -> PerTable.provincial(impact, Triggers.StartProbabilities),
        "hi" -> PerTable.provincial(impact, Triggers.HiProbabilities))
      val got = Seq(rep.dref, rep.cerf, rep.start, rep.hi)
      for (((name, w), g) <- want.zip(got)) {
        assert(sorted(g) == sorted(w), s"seed $seed ($members members, " +
          s"damage_num ${impact.schema("damage_num").dataType}): $name differs")
        assert(g.schema.map(f => f.name -> f.dataType) == w.schema.map(f => f.name -> f.dataType))
        if (sorted(g)._2.nonEmpty) seen += name
      }
    }
    assert(seen == Set("dref", "cerf", "start", "hi"))
    assert(cases == Set("member without rows in a scope", "total at a threshold",
      "damage_pct 10", "Long damage_num", "Double damage_num"))
  }

  // --- ML pipeline -----------------------------------------------------

  test("X9 GBT damage model: train + predict + postprocess end-to-end") {
    import scala.util.Random
    val rnd = new Random(42)
    val rows = (1 to 300).map { i =>
      val vmax = rnd.nextDouble() * 80
      val dist = rnd.nextDouble() * 400
      // synthetic ground truth: damage grows with wind, decays with distance
      val dmg = math.max(0.0, 0.02 * vmax * vmax - 0.05 * dist + rnd.nextGaussian())
      (s"PH${i % 20}", i % 5, vmax, dist, 1000.0 + i, dmg)
    }
    val df = rows.toDF("Mun_Code", "ens_id", "HAZ_v_max", "HAZ_dis_track_min",
      "VUL_Housing_Units", "DAM_perc_dmg")
      .withColumn("HAZ_v_max_3", pow($"HAZ_v_max", 3))
    val feats = Seq("HAZ_v_max", "HAZ_v_max_3", "HAZ_dis_track_min", "VUL_Housing_Units")
    // reference-shaped but truncated for test speed (12 rounds, depth 4)
    val model = ImpactModel.train(df, features = feats,
      params = GbtParams(numRound = 12, maxDepth = 4, eta = 0.3, gamma = 0.1))
    val pred = ImpactModel.predict(model, df, features = feats).cache()
    assert(pred.count() == 300)
    // postprocessing invariants
    val stats = pred.agg(min("damage_pct"), max("damage_pct")).collect().head
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 100.0)
    assert(pred.where($"HAZ_dis_track_min" > 300 && $"damage_pct" =!= 0.0).count() == 0)
    assert(pred.where($"damage_num" < 0).count() == 0)
    // model learned the signal: high wind+close ⇒ more damage than low wind+far
    val hi = pred.where($"HAZ_v_max" > 60 && $"HAZ_dis_track_min" < 100)
      .agg(avg("damage_pct")).collect().head.getDouble(0)
    val lo = pred.where($"HAZ_v_max" < 20)
      .agg(avg("damage_pct")).collect().head.getDouble(0)
    assert(hi > lo)
    pred.unpersist()
  }

  test("predict routes SQL NULL features as missing (NaN), not 0.0") {
    // f_a is noise; the signal lives entirely in f_b, so the trees
    // split on f_b and a null f_b exercises the missing route
    val train = (1 to 200).map { i =>
      val v = (i % 100).toDouble
      ("M" + i, (i % 3).toDouble, v * 2.0, if (v > 50) 80.0 else 1.0)
    }.toDF("Mun_Code", "f_a", "f_b", "y")
    val feats = Seq("f_a", "f_b")
    val model = ImpactModel.train(train, labelCol = "y", features = feats,
      params = GbtParams(numRound = 5, maxDepth = 3, eta = 0.5, gamma = 0.0))
    val probe = Seq(("M1", Some(75.0), None: Option[Double], 10.0, 100.0))
      .toDF("Mun_Code", "f_a", "f_b", "HAZ_dis_track_min", "VUL_Housing_Units")
    val got = ImpactModel.predict(model, probe, features = feats)
      .select("damage_pct").collect().head.getDouble(0)
    // the null feature must follow the booster's missing/default routing
    val wantMissing = math.min(100.0, math.max(0.0,
      model.predict(Array(75.0, Double.NaN))))
    val wantZero = math.min(100.0, math.max(0.0,
      model.predict(Array(75.0, 0.0))))
    assert(got === wantMissing)
    // and the model actually splits on f_b, so 0.0 would have differed
    assert(wantMissing !== wantZero)
  }

  test("A4 ensemble summary + J6 window probability") {
    val df = Seq(
      ("M1", 0, 10.0, 100.0, 30.0, 50.0), ("M1", 1, 20.0, 200.0, 60.0, 55.0))
      .toDF("Mun_Code", "ens_id", "damage_pct", "damage_num",
        "HAZ_dis_track_min", "HAZ_v_max")
    val s = ImpactModel.ensembleSummary(df).collect().head
    assert(s.getAs[Double]("mean_damage_pct") == 15.0)
    assert(s.getAs[Double]("prob_within_50km") == 0.5)
    val w = ImpactModel.withDist50Probability(df)
    assert(w.select("prob_within_50km").distinct().collect().head.getDouble(0) == 0.5)
  }
}

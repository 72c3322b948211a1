package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.{GeoFunctions, ScalarFunctions}
import graft.hazard.Windfield
import graft.impact.{GbtParams, ImpactModel}
import graft.operators.{Dedup, MinHashAggregator, StratifiedSample, TextOps, WordPiece}
import graft.sources.Tables

class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("domain functions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT haversine_km(10.0, 120.0, 11.0, 120.0) AS hav,
        |       pagasa_category(100.0) AS cat,
        |       estimate_rmw_nm(960.0) AS rmw,
        |       affected_population(1000.0) AS pop,
        |       holland_b(5.241999541820597, 1010.0, 1005.263333333329,
        |                 1005.258500000000, 12.299999504631343, 1.0) AS b
        |""".stripMargin).collect().head
    assert(math.abs(r.getAs[Double]("hav") - 111.19) < 0.1)
    assert(r.getAs[String]("cat") == "STS")
    assert(r.getAs[Double]("rmw") > 15 && r.getAs[Double]("rmw") < 26)
    assert(r.getAs[Long]("pop") > 0)
    assert(math.abs(r.getAs[Double]("b") - 1.270856908796045) < 1e-9)
  }

  test("register adds only missing names: no builtin is shadowed, a second call keeps the builders") {
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val names = GraftExtensions.functions.map(f => FunctionIdentifier(f._1))
    assert(names.filter(registry.functionExists).isEmpty)
    GraftExtensions.register(session)
    val first = names.map(n => registry.lookupFunctionBuilder(n).get)
    GraftExtensions.register(session)
    assert(names.forall(registry.functionExists))
    val second = names.map(n => registry.lookupFunctionBuilder(n).get)
    assert(first.zip(second).forall { case (a, b) => a eq b })
  }

  test("SQL function arity is validated") {
    GraftExtensions.register(spark)
    val e = intercept[Exception](spark.sql("SELECT haversine_km(1.0)").collect())
    assert(e.getMessage.contains("4 arguments") || e.getMessage.contains("expects"))
  }

  test("MinHashAggregator matches the expression-based signatures") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val sh = Dedup.shingles(docs, n = 3)
    val viaExpr = Dedup.minhashSignatures(sh, numPerm = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val agg = new MinHashAggregator(8).toColumn
    val viaAgg = sh
      .withColumn("h", Dedup.md5Long31(col("shingle")))
      .select(col("doc_id"), col("h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("minhash"))
      .collect().map { case (id, sig) => id -> sig.toVector }.toMap
    assert(viaAgg == viaExpr)
  }

  test("the nine SQL domain functions equal their Column helpers exactly") {
    GraftExtensions.register(spark)
    // null, NaN, negatives, every PAGASA and Saffir-Simpson band edge
    // (and the double just below it), x < 1, pressures outside the
    // RMW knots (872..1021 hPa)
    val edges = Seq(18.0, 33.0, 43.0, 50.0, 59.0, 62.0, 71.0, 88.0, 117.0, 185.0)
    val values: Seq[java.lang.Double] = (Seq(Double.NaN, -1000.0, -180.0, -5.5,
      -0.0, 0.0, 0.25, 0.999, 1.0, 1.5, 12.3, 179.9, 180.0, 360.0, 500.0,
      800.0, 872.0, 900.0, 940.0, 960.0, 980.0, 1005.26, 1010.0, 1021.0,
      1100.0) ++ edges.flatMap(e => Seq(math.nextDown(e), e))).map(Double.box) :+ null
    val n = values.length
    val argCols = Seq("a", "b", "c", "d", "e", "f")
    val rows = (0 until 4 * n).map { i =>
      Row.fromSeq(i.toLong +: argCols.indices.map(j => values((i * (2 * j + 1) + 3 * j) % n)))
    }
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      argCols.map(StructField(_, DoubleType, nullable = true)))
    val grid = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // (name, arity, divisor argument, helper): ANSI division by zero
    // throws, so a divisor argument's zeros become null
    val helpers: Seq[(String, Int, Option[Int], Seq[Column] => Column)] = Seq(
      ("haversine_km", 4, None, a => GeoFunctions.haversineKm(a(0), a(1), a(2), a(3))),
      ("flat_earth_km", 4, None, a => GeoFunctions.flatEarthKm(a(0), a(1), a(2), a(3))),
      ("normalize_lon", 2, None, a => GeoFunctions.normalizeLon(a(0), a(1))),
      ("pagasa_category", 1, None, a => ScalarFunctions.pagasaCategory(a(0))),
      ("saffir_simpson", 1, None, a => ScalarFunctions.saffirSimpson(a(0))),
      ("estimate_rmw_nm", 1, None, a => ScalarFunctions.estimateRmwNm(a(0))),
      ("affected_population", 1, None, a => ScalarFunctions.affectedPopulation(a(0))),
      ("holland_b", 6, Some(5), a => Windfield.holB(a(0), a(1), a(2), a(3), a(4), a(5))),
      ("holland_wind", 6, Some(0),
        a => Windfield.statHolland(a(0), a(1), a(2), a(3), a(4), a(5))))
    assert(helpers.map(_._1).toSet.subsetOf(GraftExtensions.functions.map(_._1).toSet))
    helpers.foreach { case (name, arity, divisor, helper) =>
      val args = argCols.take(arity)
      val input = grid.select(col("id") +: args.zipWithIndex.map { case (a, j) =>
        if (divisor.contains(j)) when(col(a) =!= 0.0, col(a)).as(a) else col(a)
      }: _*)
      input.createOrReplaceTempView("domain_grid")
      val viaSql = spark.sql(
        s"SELECT id, $name(${args.mkString(", ")}) AS r FROM domain_grid ORDER BY id")
        .collect().toSeq
      val viaColumn = input.select(col("id"), helper(args.map(col)).as("r"))
        .orderBy("id").collect().toSeq
      assert(viaSql.length === rows.length)
      viaSql.zip(viaColumn).foreach { case (s, c) =>
        // Row equality: exact on doubles, NaN equal to NaN
        assert(s === c, s"$name at id ${s.getLong(0)}")
      }
    }
  }

  test("kernel helpers give the same rows on a fresh session with nothing registered") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    assert(GraftExtensions.functions.forall(f => !registry.functionExists(FunctionIdentifier(f._1))))
    val rnd = new scala.util.Random(7)
    val impactRows = (1 to 120).map { i =>
      (s"M$i", rnd.nextDouble() * 80, rnd.nextDouble() * 400, 1000.0 + i)
    }
    val feats = Seq("HAZ_v_max", "HAZ_dis_track_min", "VUL_Housing_Units")
    def impactInput(s: SparkSession) =
      s.createDataFrame(impactRows).toDF("Mun_Code" +: feats: _*)
    val model = ImpactModel.train(
      impactInput(spark).withColumn("DAM_perc_dmg",
        col("HAZ_v_max") * 0.5 - col("HAZ_dis_track_min") * 0.01),
      features = feats, params = GbtParams(numRound = 4, maxDepth = 3, eta = 0.3))
    val wordPiece = WordPiece.train(Tables.documents(spark, sfDir).limit(50), numMerges = 12)
    def results(s: SparkSession): Seq[Seq[Row]] = {
      val docs = Tables.documents(s, sfDir).where(col("doc_id") < 60)
      Seq(
        ImpactModel.predict(model, impactInput(s), features = feats).orderBy("Mun_Code"),
        Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8).orderBy("doc_id"),
        docs.select(col("doc_id"),
          TextOps.keywordCounts(lower(col("text")), Seq("the", "data", "a")).as("kw"))
          .orderBy("doc_id"),
        docs.select(col("doc_id"), WordPiece.tokens(col("text"), wordPiece).as("toks"))
          .orderBy("doc_id"),
        StratifiedSample.bottomKPerStratum(docs.withColumn("s", col("doc_id") % 4),
          k = 3, idCol = "doc_id", strataCol = "s", payloadCols = Nil)
          .orderBy("s", "doc_id")
      ).map(_.collect().toSeq)
    }
    val onFresh = results(fresh)
    assert(onFresh.forall(_.nonEmpty))
    assert(onFresh === results(spark))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MinHashAggregator}
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
    import org.apache.spark.sql.catalyst.FunctionIdentifier
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
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions, ScalarFunctions}
import graft.sources.Tables

/** One certified operator probe: a Spark implementation plus (usually)
  * an equivalent ANSI SQL text the driver runs in DuckDB over the same
  * parquet tables. Output column NAMES and VALUE semantics must match
  * exactly — the compare sorts columns by name and hashes values.
  *
  * Floating-point discipline: any column whose value passes through a
  * transcendental function or an order-sensitive double aggregation is
  * ROUNDed to 6 decimals on BOTH sides, so a last-ulp libm/JVM
  * difference can't flip the hash.
  */
final case class Probe(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

/** The declared operator-certification queries from SURVEY.md §2.13
  * (Q01–Q27). Each certifies one operator family of the reference
  * inventory (§2) re-expressed Spark-first.
  */
object ProbeQueries {

  private final class Tabs(spark: SparkSession, dir: String) {
    lazy val region: DataFrame   = Tables.region(spark, dir)
    lazy val nation: DataFrame   = Tables.nation(spark, dir)
    lazy val customer: DataFrame = Tables.customer(spark, dir)
    lazy val supplier: DataFrame = Tables.supplier(spark, dir)
    lazy val orders: DataFrame   = Tables.orders(spark, dir)
    lazy val lineitem: DataFrame = Tables.lineitem(spark, dir)
    lazy val events: DataFrame   = Tables.events(spark, dir)
    lazy val docs: DataFrame     = Tables.documents(spark, dir)
    lazy val embs: DataFrame     = Tables.embeddings(spark, dir)
  }
  private def T(spark: SparkSession, dir: String) = new Tabs(spark, dir)

  // ---------------------------------------------------------------------
  // SQL text for the piecewise hat-sum (shared by q17 so the Spark and
  // DuckDB sides can never drift).
  private def hatSumSql(x: String, knots: Seq[Double], values: Seq[Double]): String =
    knots.indices.map { i =>
      val s0 = if (i > 0) 1.0 / (knots(i) - knots(i - 1)) else 0.0
      val s1 = if (i + 1 < knots.length) 1.0 / (knots(i + 1) - knots(i)) else 0.0
      s"(${values(i)}) * GREATEST(0.0, 1.0 - ($s0) * GREATEST(0.0, (${knots(i)}) - ($x))" +
        s" - ($s1) * GREATEST(0.0, ($x) - (${knots(i)})))"
    }.mkString(" + ")

  val probes: Seq[Probe] = Seq(
    // P: filter + projection, predicate pushdown to parquet ------------
    Probe("q01_filter_project",
      (s, d) => { val t = T(s, d)
        t.lineitem
          .where(col("l_quantity") > 30 && col("l_returnflag") === "R")
          .orderBy("l_orderkey", "l_linenumber")
          .select("l_orderkey", "l_extendedprice")
      },
      Some("""SELECT l_orderkey, l_extendedprice FROM lineitem
             |WHERE l_quantity > 30 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // J: broadcast equi-join -------------------------------------------
    Probe("q02_join_broadcast",
      (s, d) => { val t = T(s, d)
        t.nation.join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name")
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name FROM nation JOIN region
             |ON n_regionkey = r_regionkey ORDER BY r_name, n_name""".stripMargin)),

    // J7: left join + null-fill densify --------------------------------
    Probe("q03_left_join_nullfill",
      (s, d) => { val t = T(s, d)
        t.customer.join(t.orders, col("o_custkey") === col("c_custkey"), "left")
          .groupBy("c_custkey")
          .agg(round(coalesce(sum("o_totalprice"), lit(0.0)), 6).as("total"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, ROUND(COALESCE(SUM(o_totalprice), 0), 6) AS total
             |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // A1/A4: multi-aggregate hash agg ----------------------------------
    Probe("q04_hash_agg",
      (s, d) => { val t = T(s, d)
        t.lineitem.groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            round(sum("l_quantity"), 6).as("sum_qty"),
            round(avg("l_extendedprice"), 6).as("avg_price"),
            min("l_discount").as("min_disc"),
            max("l_tax").as("max_tax"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |ROUND(SUM(l_quantity), 6) AS sum_qty,
             |ROUND(AVG(l_extendedprice), 6) AS avg_price,
             |MIN(l_discount) AS min_disc, MAX(l_tax) AS max_tax
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // A3: conditional probability --------------------------------------
    Probe("q05_cond_prob",
      (s, d) => { val t = T(s, d)
        t.orders.groupBy("o_orderpriority")
          .agg(round(avg(when(col("o_totalprice") > 100000, 1.0).otherwise(0.0)), 6).as("frac"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |ROUND(AVG(CASE WHEN o_totalprice > 100000 THEN 1.0 ELSE 0.0 END), 6) AS frac
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A6: threshold-exceedance probability ------------------------------
    Probe("q06_threshold_exceed",
      (s, d) => { val t = T(s, d)
        t.orders.groupBy("o_custkey").agg(sum("o_totalprice").as("t"))
          .agg(round(sum(when(col("t") > 50000, 1).otherwise(0)) * lit(1.0) / count(lit(1)), 6).as("frac"))
      },
      Some("""SELECT ROUND(SUM(CASE WHEN t > 50000 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS frac
             |FROM (SELECT o_custkey, SUM(o_totalprice) AS t FROM orders GROUP BY 1)""".stripMargin)),

    // A11: exact percentile ---------------------------------------------
    Probe("q07_percentile",
      (s, d) => { val t = T(s, d)
        // the two-phase exact percentile (x70's machinery, bit-identical
        // to the built-in `percentile` aggregate by the spec-pinned
        // interpolation contract) — the built-in buffers every value of
        // the group in a TypedImperativeAggregate, an O(column) driver
        // of both the 1.5s sf0.1 wall and a 100 TB OOM
        Sampling.groupPercentilesExact(
            t.lineitem.withColumn("_one", lit(0)),
            "l_extendedprice", "_one", Seq(0.5))
          .select(round(col("_q"), 6).as("med_price"))
      },
      Some("SELECT ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS med_price FROM lineitem")),

    // W1: lag delta ------------------------------------------------------
    Probe("q08_lag_delta",
      (s, d) => { val t = T(s, d)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t.events
          .withColumn("delta", col("value") - lag("value", 1, 0.0).over(w))
          .select("event_id", "user_id", "ts", "delta")
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""SELECT event_id, user_id, ts,
             |value - LAG(value, 1, 0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
             |FROM events ORDER BY user_id, ts, event_id""".stripMargin)),

    // W2: forward-fill ---------------------------------------------------
    Probe("q09_ffill",
      (s, d) => { val t = T(s, d)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.events
          .withColumn("filled",
            last(when(!col("event_type").isin("view", "click"), col("event_type")), ignoreNulls = true).over(w))
          .select("event_id", "filled")
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |LAST_VALUE(CASE WHEN event_type NOT IN ('view', 'click') THEN event_type END IGNORE NULLS)
             |OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS filled
             |FROM events ORDER BY event_id""".stripMargin)),

    // W6: dedup keep-max -------------------------------------------------
    Probe("q10_dedup_keepmax",
      (s, d) => { val t = T(s, d)
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t.orders.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // W9: ntile ----------------------------------------------------------
    Probe("q11_ntile",
      (s, d) => { val t = T(s, d)
        t.customer
          .withColumn("nt", ntile(5).over(Window.orderBy("c_acctbal", "c_custkey")))
          .select("c_custkey", "nt")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, NTILE(5) OVER (ORDER BY c_acctbal, c_custkey) AS nt
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // J9: nearest-neighbor top-1-per-group ------------------------------
    Probe("q12_nearest",
      (s, d) => { val t = T(s, d)
        t.supplier.crossJoin(broadcast(t.customer))
          .groupBy("s_suppkey")
          .agg(expr("min_by(c_custkey, abs(c_acctbal - s_acctbal) * 100000 + c_custkey)").as("nearest"))
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey,
             |MIN_BY(c_custkey, ABS(c_acctbal - s_acctbal) * 100000 + c_custkey) AS nearest
             |FROM supplier CROSS JOIN customer GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin)),

    // J12: densify cross product + zero-fill ----------------------------
    Probe("q13_densify",
      (s, d) => { val t = T(s, d)
        val prios = t.orders.select(col("o_orderpriority").as("m")).distinct()
        val counts = t.orders
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey").as("rk"), col("o_orderpriority").as("op"))
          .agg(count(lit(1)).as("cnt0"))
        t.region.crossJoin(broadcast(prios))
          .join(counts, col("r_regionkey") === col("rk") && col("m") === col("op"), "left")
          .select(col("r_regionkey"), col("m"), coalesce(col("cnt0"), lit(0L)).as("cnt"))
          .orderBy("r_regionkey", "m")
      },
      Some("""SELECT r_regionkey, m, COALESCE(cnt0, 0) AS cnt
             |FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority AS m FROM orders)
             |LEFT JOIN (
             |  SELECT n_regionkey AS rk, o_orderpriority AS op, COUNT(*) AS cnt0
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2)
             |ON rk = r_regionkey AND op = m ORDER BY 1, 2""".stripMargin)),

    // F5: category binning ----------------------------------------------
    Probe("q14_binning",
      (s, d) => { val t = T(s, d)
        t.events
          .withColumn("cat",
            when(col("value") < 10, "TD").when(col("value") < 50, "TS")
              .when(col("value") < 100, "STS").when(col("value") < 200, "TY")
              .otherwise("STY"))
          .groupBy("cat").agg(count(lit(1)).as("n"))
          .orderBy("cat")
      },
      Some("""SELECT CASE WHEN value < 10 THEN 'TD' WHEN value < 50 THEN 'TS'
             |WHEN value < 100 THEN 'STS' WHEN value < 200 THEN 'TY' ELSE 'STY' END AS cat,
             |COUNT(*) AS n FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // F1: haversine ------------------------------------------------------
    Probe("q15_haversine",
      (s, d) => { val t = T(s, d)
        t.events
          .withColumn("hav_km", round(
            GeoFunctions.haversineKm(
              col("value") / 100, lit(0.0), col("value") / 50, col("value") / 25,
              radiusKm = 6367.0), 6))
          .select("event_id", "hav_km")
          .orderBy("event_id")
          .limit(100)
      },
      Some("""SELECT event_id, ROUND(2 * 6367 * ASIN(SQRT(
             |  POW(SIN(RADIANS(value / 50 - value / 100) / 2), 2) +
             |  COS(RADIANS(value / 100)) * COS(RADIANS(value / 50)) *
             |  POW(SIN(RADIANS(value / 25 - 0.0) / 2), 2))), 6) AS hav_km
             |FROM events ORDER BY event_id LIMIT 100""".stripMargin)),

    // F6: power law ------------------------------------------------------
    Probe("q16_powerlaw",
      (s, d) => { val t = T(s, d)
        t.orders
          .withColumn("affected", ScalarFunctions.affectedPopulation(col("o_totalprice")))
          .select("o_orderkey", "affected")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CASE WHEN o_totalprice < 1 THEN 0
             |ELSE CAST(FLOOR(EXP(6.80943612231606) * POW(o_totalprice, 0.46982114400549513)) AS BIGINT)
             |END AS affected FROM orders ORDER BY o_orderkey""".stripMargin)),

    // F14: piecewise-linear hat-sum interpolation -----------------------
    Probe("q17_piecewise",
      (s, d) => { val t = T(s, d)
        val x = col("o_totalprice") % 149.0 + 872.0
        t.orders
          .withColumn("rmw",
            ScalarFunctions.piecewiseLinear(x, ScalarFunctions.RmwKnots, ScalarFunctions.RmwValues))
          .select("o_orderkey", "rmw")
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, ${hatSumSql("o_totalprice % 149.0 + 872.0",
                ScalarFunctions.RmwKnots, ScalarFunctions.RmwValues)} AS rmw
              |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // F10: epoch-hour arithmetic ----------------------------------------
    Probe("q18_hours",
      (s, d) => { val t = T(s, d)
        t.events
          .withColumn("h", floor(
            (unix_timestamp(col("ts")) - unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp")))
              / 3600).cast("long"))
          .select("event_id", "h")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(FLOOR((EPOCH(ts) - EPOCH(TIMESTAMP '2024-01-01')) / 3600) AS BIGINT) AS h
             |FROM events ORDER BY event_id""".stripMargin)),

    // S4: grouped exact median ------------------------------------------
    Probe("q19_grouped_median",
      (s, d) => { val t = T(s, d)
        t.events.groupBy("event_type")
          .agg(round(median(col("value")), 6).as("med"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, ROUND(MEDIAN(value), 6) AS med FROM events GROUP BY 1 ORDER BY 1")),

    // 2.11: tumbling window agg -----------------------------------------
    Probe("q20_tumbling",
      (s, d) => { val t = T(s, d)
        t.events
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(max("value").as("mx"))
          .orderBy("user_id", "h")
      },
      Some("""SELECT user_id, date_trunc('hour', ts) AS h, MAX(value) AS mx
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Set ops: intersect -------------------------------------------------
    Probe("q21_setops",
      (s, d) => { val t = T(s, d)
        t.customer.select(col("c_nationkey").as("nationkey"))
          .intersect(t.supplier.select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |INTERSECT SELECT s_nationkey AS nationkey FROM supplier ORDER BY 1""".stripMargin)),

    // W7: first qualifying event per group ------------------------------
    Probe("q22_first_event",
      (s, d) => { val t = T(s, d)
        t.events.groupBy("user_id")
          .agg(min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A12: rollup grouping sets -----------------------------------------
    Probe("q23_rollup",
      (s, d) => { val t = T(s, d)
        t.nation.rollup("n_regionkey", "n_nationkey")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n_regionkey").asc_nulls_last, col("n_nationkey").asc_nulls_last)
      },
      Some("""SELECT n_regionkey, n_nationkey, COUNT(*) AS n FROM nation
             |GROUP BY ROLLUP(n_regionkey, n_nationkey)
             |ORDER BY 1 NULLS LAST, 2 NULLS LAST""".stripMargin)),

    // P9: string-prefix keys --------------------------------------------
    Probe("q24_string_keys",
      (s, d) => { val t = T(s, d)
        t.customer.groupBy(substring(col("c_name"), 1, 8).as("pfx"))
          .agg(count(lit(1)).as("n"))
          .orderBy("pfx")
      },
      Some("""SELECT SUBSTR(c_name, 1, 8) AS pfx, COUNT(*) AS n
             |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),

    // F12/K2: JSON payload assembly -------------------------------------
    Probe("q25_json_payload",
      (s, d) => { val t = T(s, d)
        t.customer
          .withColumn("payload", to_json(struct(
            col("c_custkey").as("placeCode"), col("c_acctbal").as("amount"))))
          .select("c_custkey", "payload")
          .orderBy("c_custkey")
          .limit(50)
      },
      Some("""SELECT c_custkey, concat('{"placeCode":', CAST(c_custkey AS VARCHAR),
             |',"amount":', CAST(c_acctbal AS VARCHAR), '}') AS payload
             |FROM customer ORDER BY c_custkey LIMIT 50""".stripMargin)),

    // ext text: per-language stats --------------------------------------
    Probe("q26_lang_stats",
      (s, d) => { val t = T(s, d)
        t.docs.groupBy("lang")
          .agg(count(lit(1)).as("n"), round(avg("n_chars"), 6).as("avg_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n, ROUND(AVG(n_chars), 6) AS avg_chars
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ext vector: brute-force cosine top-k ------------------------------
    Probe("q27_cosine_topk",
      (s, d) => { val t = T(s, d)
        val target = t.embs.where(col("vec_id") === 0).select(col("embedding").as("q"))
        val dot = Similarity.dot _
        t.embs.where(col("vec_id") =!= 0).crossJoin(broadcast(target))
          .withColumn("sim", round(
            dot(col("embedding"), col("q")) /
              (sqrt(dot(col("embedding"), col("embedding"))) * sqrt(dot(col("q"), col("q")))), 6))
          .select("vec_id", "sim")
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH t AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id, ROUND(
             |  list_dot_product(e.embedding::DOUBLE[], t.q::DOUBLE[]) /
             |  (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |   SQRT(list_dot_product(t.q::DOUBLE[], t.q::DOUBLE[]))), 6) AS sim
             |FROM embeddings e, t WHERE vec_id <> 0
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),
  )

  def allProbes: Seq[Probe] =
    probes ++ DomainProbes.probes ++ PipelineProbes.probes ++
      ExtensionProbes.probes ++ BpeProbes.probes ++ MediaProbes.probes ++
      CurationProbes.probes ++ SelectionProbes.probes ++
      CleaningProbes.probes ++ EmbeddingProbes.probes ++
      IngestProbes.probes ++ TokenizerProbes.probes ++
      SketchProbes.probes ++ PackingProbes.probes ++
      WindfieldProbe.probes ++ LandfallProbe.probes ++ XgbProbe.probes

  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    allProbes.map(p => p.name -> p.query).toMap

  def oracleMap: Map[String, String] =
    allProbes.flatMap(p => p.oracle.map(p.name -> _)).toMap
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Engine
import graft.sources.Tables

/** Scratch generator for the sf1 honesty runs: scale the driver's
  * sf0.1 testdata `factor`× by unioning key-shifted copies, written as
  * multi-file parquet so scans actually parallelize (the sf0.1 tables
  * are single-row-group files, which is why many probes run their
  * kernel stage as one task — the exact claim the honesty run tests).
  *
  * Key domains shift consistently across tables (custkey, orderkey,
  * partkey, suppkey, doc/vec/event/user ids), so join selectivities and
  * group cardinalities scale the way a real 10× corpus would. Copy 0
  * is the original data — probes that seed from low ids (PQ codebooks
  * want vec_id 0..15) keep their seeds. Dimension tables (region,
  * nation) stay fixed, like real dimensions.
  *
  * Usage: runMain graft.tools.ScaleData [srcDir] [destDir] [factor]
  * Dest defaults inside target/ (gitignored scratch).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/root/repo/target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val files = args.lift(3).map(_.toInt).getOrElse(32)
    val spark = Engine.local(Engine.envCores)

    def offset(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custOff = offset(Tables.customer(spark, src), "c_custkey")
    val ordOff = offset(Tables.orders(spark, src), "o_orderkey")
    val partOff = offset(Tables.part(spark, src), "p_partkey")
    val suppOff = offset(Tables.supplier(spark, src), "s_suppkey")
    val docOff = offset(Tables.documents(spark, src), "doc_id")
    val vecOff = offset(Tables.embeddings(spark, src), "vec_id")
    val evOff = offset(Tables.events(spark, src), "event_id")
    val userOff = offset(Tables.events(spark, src), "user_id")

    /** Union of `factor` copies with each (column → per-copy offset)
      * applied; written as `files` parquet parts. */
    def scale(df: DataFrame, name: String, shifts: (String, Long)*): Unit = {
      val copies = (0 until factor).map { c =>
        shifts.foldLeft(df) { case (d, (k, off)) =>
          d.withColumn(k, col(k) + lit(c * off))
        }
      }
      copies.reduce(_ unionByName _)
        .repartition(files)
        .write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scaledata] $name x$factor -> $dest/$name.parquet")
    }

    // dimensions stay fixed
    Tables.region(spark, src).write.mode("overwrite")
      .parquet(s"$dest/region.parquet")
    Tables.nation(spark, src).write.mode("overwrite")
      .parquet(s"$dest/nation.parquet")
    scale(Tables.customer(spark, src), "customer", "c_custkey" -> custOff)
    scale(Tables.supplier(spark, src), "supplier", "s_suppkey" -> suppOff)
    scale(Tables.part(spark, src), "part", "p_partkey" -> partOff)
    scale(Tables.orders(spark, src), "orders",
      "o_orderkey" -> ordOff, "o_custkey" -> custOff)
    scale(Tables.lineitem(spark, src), "lineitem",
      "l_orderkey" -> ordOff, "l_partkey" -> partOff, "l_suppkey" -> suppOff)
    scale(Tables.documents(spark, src), "documents", "doc_id" -> docOff)
    scale(Tables.embeddings(spark, src), "embeddings", "vec_id" -> vecOff)
    // events.ts arrives as microsecond TimestampType via Tables.events;
    // written that way the scaled copy reads back identically
    scale(Tables.events(spark, src), "events",
      "event_id" -> evOff, "user_id" -> userOff)
    spark.stop()
  }
}

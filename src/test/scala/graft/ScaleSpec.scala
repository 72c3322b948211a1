package graft

import org.apache.spark.sql.functions._

import graft.util.Scale

class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("salted join returns exactly the plain-join result") {
    val left = (1 to 1000).map(i => (i % 7, i)).toDF("k", "v")
    val right = (0 until 7).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).orderBy("v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    val salted = Scale.saltedJoin(left, right, Seq("k"), saltFactor = 8)
      .orderBy("v").collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("identically bucketed tables join without a shuffle") {
    for (t <- Seq("bucket_a", "bucket_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    val a = (1 to 5000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
    val b = (1 to 5000).map(i => (i.toLong, i * 3.0)).toDF("k", "vb")
    Scale.writeBucketed(a, "bucket_a", Seq("k"), buckets = 8)
    Scale.writeBucketed(b, "bucket_b", Seq("k"), buckets = 8)
    // force the shuffled-join path (these toy tables would otherwise
    // broadcast) to show bucketing removes the Exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), Seq("k"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // the whole point: identical bucketing removed the shuffle
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 5000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE bucket_a"); spark.sql("DROP TABLE bucket_b")
    }
  }
}

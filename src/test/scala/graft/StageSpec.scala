package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.util.Stage

/** `Stage.truncate`: what comes back is the same relation, its
  * statistics are measured (row count observed, size from the stored
  * blocks), a loop over it plans from bounded estimates, and each call
  * is one `localCheckpoint` execution. */
class StageSpec extends SparkTestBase {

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  private def stats(df: DataFrame) = df.queryExecution.optimizedPlan.stats

  /** Memory plus disk bytes the status store reports for the RDD behind
    * `df` (none listed: no block, 0 bytes). The store is fed by listener
    * events, so it may lag the block manager: wait until it reports
    * `expected`, or give its last value. */
  private def storedBytes(df: DataFrame, expected: BigInt): BigInt = {
    val id = df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get
    def read() = spark.sparkContext.getRDDStorageInfo
      .find(_.id == id).map(i => BigInt(i.memSize + i.diskSize)).getOrElse(BigInt(0))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var seen = read()
    while (seen != expected && System.nanoTime() < deadline) {
      Thread.sleep(100)
      seen = read()
    }
    seen
  }

  test("the truncated relation keeps its rows, schema and nullability") {
    val df = spark.range(0, 500).select(
      col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2).as("maybe"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").cast("string").as("s"), lit(1.5).as("d")).as("st"))
      .groupBy((col("id") % 50).as("k"))
      .agg(collect_list(col("st")).as("sts"), max(col("maybe")).as("m"),
        count(lit(1)).as("n"))
    val cut = Stage.truncate(df)
    assert(cut.schema === df.schema) // field nullability included
    assert(rows(cut) === rows(df))
    val (picked, n) = Stage.truncate(df, col("m") > 500, col("k"), col("n"))
    assert(picked.schema === df.select(col("k"), col("n")).schema)
    assert(rows(picked) === rows(df.select(col("k"), col("n"))))
    assert(n === df.where(col("m") > 500).count())
  }

  test("rowCount is the true count and sizeInBytes the stored bytes, text included") {
    val numbers = spark.range(0, 2000).select(col("id"), (col("id") % 13).as("k"))
    val text = spark.range(0, 1000)
      .select(col("id"), concat(col("id").cast("string"),
        expr("repeat('x', 500)")).as("text"))
    for (df <- Seq(numbers, text, numbers.where(lit(false)))) {
      val cut = Stage.truncate(df)
      val s = stats(cut)
      assert(s.rowCount === Some(BigInt(df.count())))
      assert(s.sizeInBytes === storedBytes(cut, s.sizeInBytes))
    }
    // 1,000 rows of ~500 chars take hundreds of KiB, which no width
    // estimate of the schema would give
    assert(stats(Stage.truncate(text)).sizeInBytes > 1000 * 500)
  }

  test("a 13-round self-join loop over truncate keeps its size estimate small") {
    // pointer jumping on a 1,024-vertex path: every round joins the last
    // truncation with itself, so a carried estimate would multiply per round
    var t = Stage.truncate(spark.range(0, 1024)
      .select(col("id"), greatest(col("id") - 1, lit(0L)).as("p")))
    for (round <- 1 to 13) {
      val joined = t.as("x").join(t.as("y"), col("x.p") === col("y.id"), "left")
        .select(col("x.id").as("id"), coalesce(col("y.p"), col("x.p")).as("p"))
      val bits = stats(joined).sizeInBytes.bitLength
      assert(bits <= 64, s"round $round planned from a $bits-bit size estimate")
      t = Stage.truncate(joined)
    }
    assert(t.where(col("p") =!= 0L).isEmpty)
  }

  test("job guard: each truncate, counts included, is one localCheckpoint execution") {
    def grouped = spark.range(0, 3000).groupBy((col("id") % 17).as("k"))
      .agg(count(lit(1)).as("n"))
    val (n, window, executions) = jobsBetweenMarks {
      val plain = Stage.truncate(grouped)
      val (_, big) = Stage.truncate(plain.join(grouped.select("k"), "k"),
        col("n") > 176, col("k"))
      big
    }
    assert(n === 8L)
    assert(window.nonEmpty && window.forall(_._2 != null), s"untracked jobs: $window")
    val ran = window.map(_._2).distinct.map(id => executions.getOrElse(id, s"execution $id"))
    assert(ran.size === 2 && ran.forall(_.startsWith("localCheckpoint")),
      s"expected two localCheckpoint executions, ran: $ran")
  }
}

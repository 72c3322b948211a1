package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.NearestValue

/** Range (interval) join: points `v` against intervals `[lo, hi)`.
  *
  * The naive plan for a theta join is a nested-loop product — at
  * 100 TB, quadratic. Bucketizing turns it into an ordinary shuffle
  * equi-join: every point maps to bucket `floor(v/width)`, every
  * interval explodes to the buckets it overlaps, the join keys on the
  * bucket, and the exact predicate filters inside the bucket. Interval
  * fan-out is bounded by `(hi - lo)/width + 2`, so `width` around the
  * median interval length keeps the blow-up ~2× while confining the
  * quadratic behavior to single buckets (the same containment idea as
  * LSH banding).
  */
object RangeJoin {

  /** Equi-join plan for `points.v in [intervals.lo, intervals.hi)`.
    * Output: all (point, interval) matches with both sides' columns.
    * `points` and `intervals` must not share column names. */
  def bucketized(points: DataFrame, valueCol: String,
                 intervals: DataFrame, loCol: String, hiCol: String,
                 width: Double): DataFrame = {
    require(width > 0, "bucket width must be positive")
    def bucketOf(c: Column): Column = floor(c / width).cast("long")
    val pts = points.withColumn("__bucket", bucketOf(col(valueCol)))
    // sequence is inclusive: the hi-boundary bucket row is superfluous
    // when hi sits exactly on a boundary, but only adds filter misses
    val ivs = intervals.withColumn("__bucket",
      explode(sequence(bucketOf(col(loCol)), bucketOf(col(hiCol)))))
    pts.join(ivs, Seq("__bucket"))
      .where(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bucket")
  }

  /** J9 nearest-by-scalar-value lookup, map-only: the right side's
    * distinct values collapse to a sorted (value, min key) table —
    * dimension-sized by contract — and every left row binary-searches
    * it inside codegen (`nearest_value`). Semantics: the right key
    * minimizing (|leftVal − rightVal|, key) lexicographically. The
    * cross-join formulation this replaces is quadratic in BOTH sides;
    * this is one aggregation of the right side plus a scan of the
    * left. Appends `outCol` to `left`. */
  def nearestByValue(left: DataFrame, right: DataFrame,
                     leftVal: String, rightVal: String, rightKey: String,
                     outCol: String = "nearest",
                     maxRightValues: Int = 1000000): DataFrame = {
    // the limit bounds the collect BEFORE it reaches the driver, so a
    // misuse (a fact table on the right) fails loudly instead of
    // OOMing the driver
    val pairs = right
      .groupBy(col(rightVal).cast("double").as("v"))
      .agg(min(col(rightKey).cast("long")).as("k"))
      .orderBy("v")
      .limit(maxRightValues + 1)
      .collect()
    require(pairs.length <= maxRightValues,
      s"nearestByValue: right side has more than $maxRightValues distinct " +
        s"values of '$rightVal' — it must be a dimension-sized lookup table " +
        "(broadcast to every task); for fact-to-fact nearest joins use " +
        "intervalJoin or an as-of join instead, or raise maxRightValues " +
        "if the driver can hold the table")
    require(pairs.nonEmpty, "nearestByValue: right side is empty")
    val values = pairs.map(_.getDouble(0))
    val keys = pairs.map(_.getLong(1))
    left.withColumn(outCol,
      column(NearestValue(expression(col(leftVal).cast("double")), values, keys)))
  }
}

package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** Tables that are small by construction, like the forecast tail's
  * (at most municipalities × members rows): the trigger inputs, the
  * damage table and the payload documents. Running them as ordinary
  * distributed plans costs a job per exchange for a few kB of data, so
  * every tail site goes through one of these two moves instead.
  */
object Bounded {

  /** `df` on one partition. A single partition satisfies every
    * clustered and ordered distribution, so windows, aggregates and
    * sorts over it plan no exchange. */
  def onePartition(df: DataFrame): DataFrame = df.coalesce(1)

  /** Collects `df` once and returns a one-row local relation whose
    * column `name` holds all of its rows as an array of structs. A
    * projection over it is folded by the optimizer
    * (`ConvertToLocalRelation`), so collecting one runs no job. Only
    * for a `df` whose every row belongs in one document. */
  def gathered(df: DataFrame, name: String): DataFrame = {
    val rows = df.collect().toSeq
    val schema = StructType(Seq(
      StructField(name, ArrayType(df.schema, containsNull = false), nullable = false)))
    df.sparkSession.createDataFrame(java.util.List.of(Row(rows)), schema)
  }
}

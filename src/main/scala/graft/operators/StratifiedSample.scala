package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.TopKStruct

/** At-rest STRATIFIED bottom-k-by-hash sample — the per-group sibling
  * of the uniform sample (x132): k uniformly random members of EVERY
  * stratum (language, source, domain, date), maintained at rest with
  * the same exact merge identity applied per stratum:
  *
  *   bottomK_s(A ∪ B) = bottomK_s(bottomK_s(A) ∪ bottomK_s(B))  ∀ s
  *
  * so append ≡ rebuild bit-for-bit, stratum by stratum. This is the
  * artifact a 100 TB pipeline serves per-group eval sets and
  * quota-capped selections from (the mixture flagship x138 reads its
  * members here): after the one build pass, a read touches ≤
  * batches·|strata|·k persisted rows — never the corpus — and a
  * SINGLE stratum's sample is a partition-PRUNED read of its
  * directory alone.
  *
  * The per-stratum bottom-k is computed with the `top_k_struct`
  * bounded heap (partial-aggregable — each scan partition forwards at
  * most k rows per stratum into the one shuffle), NEVER a
  * `row_number` window, which would shuffle and sort the whole corpus
  * by stratum and put a mega-stratum on one reducer. Replay semantics
  * are the uniform sample's: min-k ignores multiplicity, so a
  * replayed append is VALUE-harmless (the idempotent contrast to the
  * SUM-merged sketches); `doneMarker` still bounds row count, and the
  * commit is the shared crash-atomic protocol.
  *
  * Layout under `path` (family conventions):
  *   rows/<strataCol>=<s>/  (skey, <idCol>, payload...) — ≤ k rows per
  *                          stratum per build/append batch, partitioned
  *                          by the stratum for pruned per-stratum reads
  *   meta/                  (k, id_col, strata_col, payload_cols)
  *
  * The key is md5-derived (salt "stsample_"), engine-portable (the
  * x40/x113 stance) and salted independently of the uniform sample /
  * hashSplit / mixture bucketing, so composing them never correlates
  * — a doc's presence in the global 10k eval sample says nothing
  * about its presence in any stratum's sample.
  */
object StratifiedSample {

  /** The 60-bit per-stratum sample key of an id. */
  def sampleKey(id: Column): Column =
    conv(substring(md5(concat(lit("stsample_"), id.cast("string"))), 1, 15),
      16, 10).cast("long")

  /** The exact bottom-k of every stratum of `df` (ties — md5
    * collisions — break by id): ONE partial-aggregated pass through
    * the `top_k_struct` heap, ≤ |strata|·k rows out. */
  def bottomKPerStratum(df: DataFrame, k: Int, idCol: String,
                        strataCol: String,
                        payloadCols: Seq[String]): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val fields = (col(idCol) +: payloadCols.map(col)).toSeq
    df.groupBy(col(strataCol))
      .agg(TopKStruct.of(
        struct((sampleKey(col(idCol)).as("skey") +: fields): _*), k, false).as("_tk"))
      .select(col(strataCol), explode(col("_tk")).as("_r"))
      .select((col(strataCol) +: col("_r.skey").as("skey") +:
        col(s"_r.$idCol").as(idCol) +:
        payloadCols.map(c => col(s"_r.$c").as(c))): _*)
  }

  /** Build the at-rest sample: one corpus pass, ≤ |strata|·k rows
    * persisted under their stratum directories. */
  def writeSample(df: DataFrame, path: String, k: Int,
                  strataCol: String, idCol: String = "doc_id",
                  payloadCols: Seq[String] = Seq.empty): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    bottomKPerStratum(df, k, idCol, strataCol, payloadCols)
      .write.partitionBy(strataCol).mode("overwrite")
      .parquet(s"$path/rows")
    Seq((k, idCol, strataCol, payloadCols))
      .toDF("k", "id_col", "strata_col", "payload_cols")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private[operators] def sampleMeta(
      spark: SparkSession, path: String): (Int, String, String, Seq[String]) = {
    val r = spark.read.parquet(s"$path/meta")
      .select("k", "id_col", "strata_col", "payload_cols").head()
    (r.getInt(0), r.getString(1), r.getString(2), r.getSeq[String](3))
  }

  /** Append a BATCH — O(batch): the batch's own per-stratum bottom-k
    * (geometry off the persisted meta) lands as ≤ |batch strata|·k
    * additional rows; the existing sample is never read. Exact by the
    * per-stratum merge identity. */
  def appendToSample(batch: DataFrame, path: String,
                     doneMarker: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    Compaction.appendWithMarker(spark, path, doneMarker) { staging =>
      val (k, idCol, strataCol, payloadCols) = sampleMeta(spark, path)
      bottomKPerStratum(batch, k, idCol, strataCol, payloadCols)
        .write.partitionBy(strataCol).mode("overwrite")
        .parquet(s"$staging/rows")
    }
  }

  private def mergeRows(rows: DataFrame, k: Int, idCol: String,
                        strataCol: String,
                        payloadCols: Seq[String]): DataFrame = {
    val fields = (col(idCol) +: payloadCols.map(col)).toSeq
    // dedup by SAMPLE IDENTITY (stratum, skey, id) — replayed batches
    // collapse, and a drifted payload can't hold two of a stratum's k
    // slots (the x132 payload stance)
    rows.dropDuplicates(strataCol, "skey", idCol)
      .groupBy(col(strataCol))
      .agg(TopKStruct.of(struct((col("skey") +: fields): _*), k, false).as("_tk"))
      .select(col(strataCol), explode(col("_tk")).as("_r"))
      .select((col(strataCol) +: col("_r.skey").as("skey") +:
        col(s"_r.$idCol").as(idCol) +:
        payloadCols.map(c => col(s"_r.$c").as(c))): _*)
  }

  /** The exact per-stratum bottom-k of everything ever written or
    * appended: dedup the ≤ batches·|strata|·k persisted rows by
    * sample identity, then one bounded heap pass. Never touches the
    * corpus. */
  def readSample(spark: SparkSession, path: String): DataFrame = {
    val (k, idCol, strataCol, payloadCols) = sampleMeta(spark, path)
    mergeRows(spark.read.parquet(s"$path/rows"), k, idCol, strataCol,
      payloadCols)
  }

  /** One stratum's sample alone — the stratum value becomes a
    * PARTITION filter, so only its directory is listed and read. */
  def readStratum(spark: SparkSession, path: String,
                  stratum: String): DataFrame = {
    val (k, idCol, strataCol, payloadCols) = sampleMeta(spark, path)
    mergeRows(
      spark.read.parquet(s"$path/rows").where(col(strataCol) === stratum),
      k, idCol, strataCol, payloadCols)
  }

  /** Compact after an append schedule: land the MERGED per-stratum
    * sample (≤ |strata|·k rows) under the same stratum layout —
    * read-equivalent, and per-stratum partition pruning survives. */
  def compactSample(spark: SparkSession, path: String): Unit = {
    val (_, _, strataCol, _) = sampleMeta(spark, path)
    Compaction.compactPartitionedValueDir(spark, s"$path/rows",
      Seq(strataCol))(readSample(spark, path))
  }
}

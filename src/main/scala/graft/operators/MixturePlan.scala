package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Stage

/** Temperature-mixture planning served ENTIRELY off at-rest artifacts
  * (probe x138) — the daily mixture job with ZERO corpus passes at
  * decision time.
  *
  * [[graft.operators.Sampling.temperatureMixture]] is the one-shot
  * form: per-source counts (a corpus agg), n^alpha rebalanced quotas,
  * and a per-source smallest-hash selection (a corpus scan). Run
  * daily over 100 TB, both corpus passes are pure waste — the counts
  * are exactly the at-rest keyed rollup's `n` column (x136, O(batch)
  * maintained), and the per-source quota members are exactly the
  * first `quota_s` rows of the at-rest stratified sample (x137) —
  * provided the sample's `k` was provisioned ≥ the largest quota,
  * which [[selectFromSample]] checks LOUDLY (a quota the sample
  * cannot serve must fail, not silently under-deliver).
  *
  * The quota math mirrors `temperatureMixture` exactly — alpha = 0.5
  * routes through IEEE-correctly-rounded sqrt, the quota quotient is
  * round-6'd BEFORE the floor (the equal-sized-sources boundary note
  * there) — so the plan computed off the artifacts equals the plan
  * computed off the corpus, and the DuckDB oracle re-derives both
  * stages from raw data.
  *
  * Selection-key caveat, stated loudly: the members come from the
  * stratified sample's OWN key order (salt "stsample_"), so the
  * selected SET equals a corpus-side per-stratum smallest-stsample-key
  * selection — the same uniform-without-replacement law as
  * `temperatureMixture`'s "tmix_" order but not the same ids; the two
  * selections are independent uniform draws by construction.
  */
object MixturePlan {

  /** Per-key temperature quotas off the PERSISTED rollup counts:
    * w = n^alpha, quota = floor(round(target·w/Σw, 6)) — bounded
    * relation in, bounded relation out (one row per key ever
    * ingested). */
  def quotasFromRollup(spark: SparkSession, rollupPath: String,
                       targetTotal: Long,
                       alpha: Double = 0.5): DataFrame = {
    require(targetTotal > 0, s"targetTotal must be positive: $targetTotal")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must lie in (0,1]: $alpha")
    val counts = Rollup.readRollup(spark, rollupPath)
    val keyCols = counts.columns.filterNot(
      Seq("n", "sum_v", "min_v", "max_v").contains).toSeq
    val wExpr =
      if (alpha == 0.5) sqrt(col("n").cast("double"))
      else pow(col("n").cast("double"), lit(alpha))
    val w = counts.select((keyCols.map(col) :+ wExpr.as("w")): _*)
    val tot = w.agg(sum("w").as("tw"))
    w.crossJoin(broadcast(tot))
      .select((keyCols.map(col) :+
        floor(round(lit(targetTotal.toDouble) * col("w") / col("tw"), 6))
          .cast("long").as("quota")): _*)
  }

  /** The plan's members off the PERSISTED stratified sample: per
    * stratum, the `quota_s` smallest sample keys. Refuses loudly when
    * any quota exceeds the sample's provisioned k — the artifact
    * cannot serve that plan (rebuild the sample with a larger k or
    * lower the target); silently returning k rows would ship a biased
    * under-delivery. The rank window here runs over the SAMPLE's ≤
    * |strata|·k rows — bounded by construction, the histogram-sketch
    * precedent — never the corpus. */
  def selectFromSample(spark: SparkSession, samplePath: String,
                       quotas: DataFrame): DataFrame = {
    val (k, idCol, strataCol, _) =
      StratifiedSample.sampleMeta(spark, samplePath)
    require(quotas.columns.contains(strataCol) &&
        quotas.columns.contains("quota"),
      s"quotas must carry ($strataCol, quota) — " +
        s"got: ${quotas.columns.mkString(", ")}")
    // the bounded quota relation is consumed twice (the provisioning
    // check below AND the selection join) — materialize it once so the
    // rollup read-and-quota chain is not re-derived at force time
    val q = Stage.truncate(quotas)
    val over = q.where(col("quota") > k)
      .select(col(strataCol), col("quota")).limit(5).collect()
    require(over.isEmpty,
      s"quota exceeds the stratified sample's k=$k for " +
        s"${over.map(r => s"${r.get(0)}=${r.get(1)}").mkString(", ")} — " +
        "the at-rest sample cannot serve this plan; rebuild it with " +
        "a larger k or lower targetTotal")
    val sample = StratifiedSample.readSample(spark, samplePath)
    val rank = row_number().over(
      Window.partitionBy(col(strataCol))
        .orderBy(col("skey").asc, col(idCol).asc))
    sample.join(broadcast(q.select(col(strataCol), col("quota"))),
        Seq(strataCol))
      .withColumn("rank_in_stratum", rank)
      .where(col("rank_in_stratum") <= col("quota"))
      .drop("quota")
  }

  /** The whole daily decision: quotas off the rollup, members off the
    * stratified sample — no corpus relation anywhere in the DAG. */
  def planAndSelect(spark: SparkSession, rollupPath: String,
                    samplePath: String, targetTotal: Long,
                    alpha: Double = 0.5): DataFrame =
    selectFromSample(spark, samplePath,
      quotasFromRollup(spark, rollupPath, targetTotal, alpha))
}

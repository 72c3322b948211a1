package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Engine

/** Measured-density adjudication for the media near-dup probes'
  * scale behavior (the r13→r14 ask): when x127/x128 run superlinear at
  * 10× data, is that the PLAN degrading, or the fixture corpus
  * genuinely carrying superlinear near-duplicate mass (the operator
  * doing its job on denser input)?
  *
  * This tool separates the two by measuring, per scale directory, the
  * three quantities the wall-clock is made of:
  *   - `tokens`           — fingerprinting work (map-only, must be ~linear);
  *   - `cand_pairs`       — Σ_token freqA·freqB AFTER the hot-token cap,
  *                          the exact row count the match join produces
  *                          (the intrinsic candidate volume of the corpus:
  *                          no plan can score fewer rows without losing
  *                          recall);
  *   - `out_pairs`        — pairs clearing minMatches (true output).
  *
  * If wall grows like cand_pairs while tokens stay linear, the plan is
  * doing exactly the work the data demands. Run:
  *   sbt "runMain graft.tools.MediaDensityProfile <sfDir> [audio|video|both]"
  * and record the numbers next to the BENCH_SELF.sf10 media record.
  */
object MediaDensityProfile {

  private def pairVolume(tok: org.apache.spark.sql.DataFrame,
                         maxTokenFreq: Long): (Long, Long, Long) = {
    val freq = tok.groupBy("token")
      .agg(countDistinct("media_id").as("f"), count(lit(1)).as("occ"))
    val kept = freq.where(col("f") <= maxTokenFreq)
    // the self-join's candidate rows: Σ occ² over surviving tokens
    // (occurrence-level, matching what matchPairs actually joins);
    // coalesce: a corpus where no token survives the cap must report
    // zeros, not NPE the adjudication tool
    val r = kept.agg(
      coalesce(sum(col("occ") * col("occ")), lit(0L)).as("cand"),
      count(lit(1)).as("n_tokens"),
      coalesce(max("f"), lit(0L)).as("max_f")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1) else "both"
    val spark: SparkSession = Engine.local(Engine.envCores)

    if (which == "audio" || which == "both") {
      val tok = graft.operators.MediaProbes.audioTokensOf(spark, sfDir)
      tok.cache()
      val nTok = tok.count()
      val nMedia = tok.select("media_id").distinct().count()
      val (cand, nDistinct, maxF) = pairVolume(tok, 1000L)
      val out = graft.operators.Constellation
        .matchPairs(tok, tok, minMatches = 7)
        .where(col("a_id") < col("b_id")).count()
      println(s"""{"kind":"audio","dir":"$sfDir","media":$nMedia,""" +
        s""""tokens":$nTok,"distinct_tokens":$nDistinct,""" +
        s""""max_token_freq":$maxF,"cand_pairs":$cand,"out_pairs":$out}""")
      tok.unpersist()
    }
    if (which == "video" || which == "both") {
      val tok = graft.operators.MediaProbes.videoTokensOf(spark, sfDir)
      tok.cache()
      val nTok = tok.count()
      val nMedia = tok.select("media_id").distinct().count()
      val (cand, nDistinct, maxF) = pairVolume(tok, 1000L)
      val out = graft.operators.Constellation
        .matchPairs(tok, tok, minMatches = 8)
        .where(col("a_id") < col("b_id")).count()
      println(s"""{"kind":"video","dir":"$sfDir","media":$nMedia,""" +
        s""""tokens":$nTok,"distinct_tokens":$nDistinct,""" +
        s""""max_token_freq":$maxF,"cand_pairs":$cand,"out_pairs":$out}""")
      tok.unpersist()
    }
    spark.stop()
  }
}

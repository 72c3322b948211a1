package graft.util

import java.util.UUID
import java.util.concurrent.TimeUnit

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, count_if, lit}
import org.apache.spark.sql.lineage.StageShim

import graft.operators.IndexCache

/** The one way a plan is cut: materialize a relation now, and let the
  * rest of the plan read what exists instead of recomputing its
  * lineage, as the reference's eager dataflow does between stages.
  *
  * Policy. A BOUNDED relation (quota tables, pool rows, per-feature
  * counts, a loop's label table) goes to executor block storage through
  * [[truncate]]: cheap and small, and that its blocks cannot be
  * recomputed does not matter. A CORPUS-SIZED relation goes to at-rest
  * parquet through [[atRest]]: in block storage it would pin the whole
  * corpus on the executors (MEMORY_AND_DISK), and since its lineage is
  * cut, a lost executor would kill the job instead of recomputing the
  * blocks. On the filesystem, consumers scan parquet with column
  * pruning, and executor loss costs a re-read. The probes that
  * materialize a cleaned or normalized corpus (x38, x72) model the
  * cleaned-corpus-artifact write a real pipeline pays anyway
  * ([[graft.operators.CorpusArtifact]]), so they pay it as a write.
  *
  * Neither is cross-run caching: every call recomputes `df` from its
  * inputs.
  */
object Stage {

  /** `df` materialized by one action (an eager `localCheckpoint`), as
    * a relation whose statistics are measured, not estimated: its row
    * count, observed by that action, and the bytes its blocks take in
    * storage. So a loop that joins its own output plans every round
    * from what that round holds, and an estimate never compounds. */
  def truncate(df: DataFrame): DataFrame = cut(df, None, Nil)._1

  /** [[truncate]] of `df.select(cols)` (all of `df` when `cols` is
    * empty), plus how many rows of `df` satisfy `cond`, counted by the
    * same action: a loop reads its convergence, or a caller its row count
    * (`lit(true)`), with no second action. */
  def truncate(df: DataFrame, cond: Column, cols: Column*): (DataFrame, Long) =
    cut(df, Some(cond), cols)

  private def cut(df: DataFrame, cond: Option[Column],
                  cols: Seq[Column]): (DataFrame, Long) = {
    val seen = Observation()
    val observed = df.observe(seen, count(lit(1)), cond.map(count_if).toSeq: _*)
    val kept = (if (cols.isEmpty) observed else observed.select(cols: _*))
      .localCheckpoint()
    // bounded, so a count that never arrives fails instead of hanging
    val counts = Await.result(seen.future, Duration(10, TimeUnit.MINUTES))
    (StageShim.measured(kept, counts.getLong(0)),
      if (cond.isEmpty) 0L else counts.getLong(1))
  }

  /** `df` written to a fresh parquet directory next to the probe
    * estates ([[IndexCache.dir]]), and the scan of it with `df`'s own
    * schema (no inference listing; nullability survives exactly).
    * `label` only names the directory. The directory is deleted when
    * the JVM exits. */
  def atRest(df: DataFrame, label: String): DataFrame = {
    val dir = new Path(IndexCache.dir(s"mat_${label}_${UUID.randomUUID()}"))
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.deleteOnExit(dir)
    df.write.mode("overwrite").parquet(dir.toString)
    df.sparkSession.read.schema(df.schema).parquet(dir.toString)
  }
}

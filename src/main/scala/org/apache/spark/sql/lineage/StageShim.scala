package org.apache.spark.sql.lineage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** The part of `graft.util.Stage` that needs Spark's package-private
  * API: re-entering an eager local checkpoint with measured statistics.
  */
object StageShim {

  /** `checkpointed`, the result of an eager `localCheckpoint`, as the
    * same relation with statistics `rows` rows and the bytes its blocks
    * take in storage. Output partitioning, ordering and constraints stay
    * the ones the checkpoint recorded. */
  def measured(checkpointed: DataFrame, rows: Long): DataFrame = {
    val ds = checkpointed.asInstanceOf[Dataset[_]]
    val cut = ds.logicalPlan.asInstanceOf[LogicalRDD]
    val stats = Statistics(storedBytes(ds, cut.rdd.id), Some(rows))
    Dataset.ofRows(ds.sparkSession,
      cut.copy()(ds.sparkSession, Some(stats), Some(cut.constraints)))
  }

  /** Memory plus disk bytes of RDD `id`'s blocks, as the block manager
    * master holds them. Executors report a stored block before their
    * task ends, so after the materializing job every block is counted. */
  private def storedBytes(ds: Dataset[_], id: Int): BigInt =
    ds.sparkSession.sparkContext.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`id`, _), s) => BigInt(s.memSize + s.diskSize) }
      .sum
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The OUTPUT side of curation: persist a scored/cleaned corpus as an
  * at-rest training artifact partitioned by (decision, shard), so
  * every downstream consumer partition-PRUNES instead of filtering —
  * a training reader opens only `keep=true` directories (the curation
  * decision never rescans), and `shard` is a deterministic id-hash
  * bucket sized for loader parallelism (the hashSplit contract: stable
  * under corpus growth, engine-portable salted md5). The same at-rest
  * stance as the shingle/IVF/int8 indexes — pay the decision once,
  * read it forever as directory structure.
  */
object CorpusArtifact {

  /** Deterministic shard of an id — salted independently of
    * split/sample/mixture bucketing (salt "shard_"). */
  def shardOf(id: Column, nShards: Int): Column =
    conv(substring(md5(concat(lit("shard_"), id.cast("string"))), 1, 7), 16, 10)
      .cast("long") % nShards

  private val NShardsFile = "_graft_nshards"

  /** Write the artifact: all input columns + `shard`, partitioned by
    * (`keepCol`, shard), registered as an external table. The shard
    * count persists alongside the data (`_graft_nshards`) so
    * [[append]] can never shard a batch differently from the corpus
    * it joins. */
  def write(docs: DataFrame, path: String, table: String,
            nShards: Int = 64, keepCol: String = "keep",
            idCol: String = "doc_id"): Unit = {
    require(table.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?"),
      s"invalid table identifier: $table")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    docs.withColumn("shard", shardOf(col(idCol), nShards))
      .write.format("parquet").option("path", path)
      .partitionBy(keepCol, "shard")
      .mode("overwrite").saveAsTable(table)
    val meta = new org.apache.hadoop.fs.Path(path, NShardsFile)
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(meta, true)
    try out.write(nShards.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Append a batch of newly-curated documents to an existing
    * artifact — the incremental-ingest contract of the index family
    * (x104): per-document decisions and the salted shard hash are
    * pure functions of the row, so appending a batch is value-
    * identical to having rebuilt with the union (CleaningSpec pins
    * it), and a document never migrates shards under growth (the
    * hashSplit stability argument). The shard count is READ from the
    * artifact's persisted `_graft_nshards` (a caller-supplied number
    * could silently shard the batch differently from the corpus it
    * joins). O(batch): one map pass, a partitioned append, and
    * explicit `ADD PARTITION` registrations for the batch's ≤
    * 2·nShards (keep, shard) pairs — NOT `MSCK REPAIR`, whose
    * partition discovery re-lists the whole artifact on every
    * micro-batch.
    *
    * Commit: the batch is staged and moved into place by
    * [[Compaction.appendWithMarker]], and its partitions are
    * registered inside the stage, so the replay marker still lands
    * last (`ADD IF NOT EXISTS` is idempotent, and a registered
    * partition with no files yet reads as zero rows). With
    * `doneMarker` (e.g. the micro-batch id) a replay after the marker
    * landed is a no-op, and a retry after a crash mid-commit first
    * sweeps the files that crash already moved, so each marked batch
    * lands exactly once. */
  def append(docs: DataFrame, path: String, table: String,
             keepCol: String = "keep", idCol: String = "doc_id",
             doneMarker: Option[String] = None): Unit = {
    require(table.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?"),
      s"invalid table identifier: $table")
    require(keepCol.matches("[A-Za-z0-9_]+"),
      s"invalid partition column identifier: $keepCol")
    val spark = docs.sparkSession
    Compaction.appendWithMarker(spark, path, doneMarker) { staging =>
      val meta = new org.apache.hadoop.fs.Path(path, NShardsFile)
      val metaFs = meta.getFileSystem(spark.sessionState.newHadoopConf())
      require(metaFs.exists(meta),
        s"no $NShardsFile at $path — append targets an artifact written " +
          "by CorpusArtifact.write")
      val nShards = {
        val in = metaFs.open(meta)
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").trim.toInt
        finally in.close()
      }
      val withShard = docs.withColumn("shard", shardOf(col(idCol), nShards))
      // the batch's partition set, collected BEFORE the data write:
      // bounded (≤ 2·nShards values × decisions), and a null decision
      // fails HERE — before anything commits — because ALTER TABLE ADD
      // PARTITION cannot express the null (__HIVE_DEFAULT_PARTITION__)
      // spec, so a null row would land data that never registers and
      // leave the batch half-committed
      val parts = withShard
        .select(col(keepCol).cast("string"), col("shard").cast("string"))
        .distinct().collect()
      require(parts.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
        s"append batch contains null $keepCol or null $idCol (→ null " +
          "shard) values — nulls are not registrable partitions; filter " +
          "or default them before appending")
      withShard.write.format("parquet")
        .partitionBy(keepCol, "shard")
        .mode("overwrite").save(staging)
      // register only the batch's partitions — bounded, O(batch)
      // partition VALUES are data-derived (a non-boolean keep column is
      // arbitrary text) — escape single quotes so a value can't break
      // out of the literal or inject into the ALTER statement
      def q(v: String): String =
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
      parts.foreach { r =>
        spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS PARTITION " +
          s"($keepCol=${q(r.getString(0))}, shard=${q(r.getString(1))})")
      }
    }
    spark.catalog.refreshTable(table)
  }

  /** The training reader: surviving documents only — `keep=true`
    * arrives at the scan as a PartitionFilter (directory pruning),
    * not a row filter. */
  def readKept(spark: SparkSession, table: String,
               keepCol: String = "keep"): DataFrame =
    spark.table(table).where(col(keepCol) === true)

  /** Compact the artifact after an append schedule: every [[append]]
    * lands its batch as additional files inside the (keep, shard)
    * partition directories, and a long-lived recurring-curation
    * artifact ends up with files-per-partition ≈ micro-batches. The
    * rewrite is value-preserving (per-row decisions and the shard
    * hash are rewritten as-is, never recomputed) and layout-preserving
    * (identical partition directories come back, so the catalog's
    * `ADD PARTITION` registrations and the readKept PartitionFilter
    * pruning survive); `_graft_nshards` and append replay markers are
    * carried across the swap, so later appends and marker-gated
    * replays behave exactly as before. See [[Compaction]] for the
    * crash stance. */
  def compact(spark: SparkSession, path: String, table: String,
              keepCol: String = "keep",
              maxRecordsPerFile: Long = 0L): Unit = {
    require(table.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?"),
      s"invalid table identifier: $table")
    Compaction.compactPartitionedDir(
      spark, path, Seq(keepCol, "shard"), maxRecordsPerFile)
    // file sets changed under every partition — drop cached listings
    spark.catalog.refreshTable(table)
  }
}

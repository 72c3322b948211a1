package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.operators.Dedup

/** Streaming/incremental semantics (SURVEY.md §2.11).
  *
  * The reference is micro-batch by cron (4×/day): each cycle lands new
  * forecast files, the latest unprocessed cycle is selected, and the
  * whole world is recomputed. Structured Streaming expresses the same
  * semantics natively:
  *   - new-cycle detection = a file source + Trigger.AvailableNow
  *     (checkpointed — replay is "run with an explicit cycle arg"),
  *   - the landfall state machine = mapGroupsWithState per storm,
  *   - rainfall accumulations = watermarked tumbling windows.
  */
object ForecastStream {

  /** New-cycle detection (W10 + §2.11 row 1): a streaming parquet
    * source over the landing directory; each micro-batch carries only
    * unseen files. `Trigger.AvailableNow` processes the backlog then
    * stops — cron-equivalent, checkpoint-deduplicated. */
  def trackFileStream(spark: SparkSession, landingDir: String,
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 64)
      .parquet(landingDir)

  /** Per-storm landfall event state (the reference's per-storm codes,
    * §2.11 "Late/landfallen events"): latest code + whether the state
    * changed this batch. Kept minimal and pure so batch and streaming
    * drive the same transition function. */
  case class StormObs(storm_id: String, time: Timestamp, landfall_code: Int)
  case class StormState(storm_id: String, landfall_code: Int,
                        since: Timestamp, changed: Boolean)

  /** Transition: codes only escalate forward in the reference's
    * lifecycle (on-track → landfalled → passed); a later cycle can
    * re-assert the same code without a change event. */
  def transition(current: Option[StormState], obs: Seq[StormObs]): Option[StormState] = {
    if (obs.isEmpty) current
    else {
      val latest = obs.maxBy(_.time.getTime)
      current match {
        case Some(st) if st.landfall_code == latest.landfall_code =>
          Some(st.copy(changed = false))
        case _ =>
          Some(StormState(latest.storm_id, latest.landfall_code, latest.time, changed = true))
      }
    }
  }

  /** mapGroupsWithState wiring of the transition function. */
  def landfallStateStream(obs: Dataset[StormObs]): Dataset[StormState] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.storm_id)
      .mapGroupsWithState[StormState, StormState](GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[StormObs], state: GroupState[StormState]) =>
          val next = transition(state.getOption, rows.toSeq).get
          state.update(next)
          next
      }
  }

  /** Watermarked tumbling rainfall accumulation (§2.11 "Windows"):
    * the streaming twin of Rainfall.accumulate. */
  /** Streaming ingestion dedup for a documents stream: drop rows whose
    * content hash was already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keys the state store by the md5
    * and EVICTS entries older than the watermark — bounded state, the
    * streaming twin of `Dedup.exactDedup` (batch recompute-the-world).
    * At 100 TB/day ingest the state is one 16-byte hash per document
    * within the horizon, hash-partitioned across executors. */
  def dedupDocumentStream(docs: DataFrame, delay: String = "10 minutes",
                          timeCol: String = "ts",
                          textCol: String = "text"): DataFrame =
    docs.withColumn("text_md5", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col(textCol)))
      .withWatermark(timeCol, delay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming contamination scan: an arriving eval-document stream
    * checked against the STATIC train-side shingle-hash table — the
    * incremental twin of `Dedup.contamination` for the "does this new
    * benchmark leak into our frozen training set?" question. Shape:
    * per-row shingle hashing (map-only, the one-pass kernel), a
    * stream-static equi-join on the 60-bit hash (no state store — the
    * static side is just a table, re-broadcast or shuffled per
    * micro-batch), then a count aggregation (state = one counter per
    * surviving (eval, train) pair) — the batch core's
    * `Dedup.overlapCounts` over the stream's `Dedup.shingleRows`. Run in
    * update/complete mode. `trainShingles` must be (train_id, h) — e.g.
    * a persisted `Dedup.writeShingleIndex` table. */
  def contaminationStream(evalDocs: DataFrame, trainShingles: DataFrame,
                          n: Int = 3, minOverlap: Long = 3,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    Dedup.overlapCounts(trainShingles,
      Dedup.shingleRows(evalDocs, n, idCol, textCol, "eval_id"), minOverlap)

  def windowedRainfall(cube: DataFrame, hours: Int,
                       watermark: String = "12 hours"): DataFrame =
    cube
      .withWatermark("time", watermark)
      .groupBy(window(col("time"), s"$hours hours"), col("lat"), col("lon"))
      .agg(sum("precip").as("precip"))
      .select(col("window.start").as("time"), col("lat"), col("lon"), col("precip"))

  /** foreachBatch driver: each micro-batch (one landed forecast cycle)
    * flows through the SAME batch pipeline code (§2.11's recompute-the-
    * world semantics) — the streaming engine contributes exactly-once
    * file tracking and restart recovery via the checkpoint. */
  def runCyclePipeline(stream: DataFrame, checkpoint: String)
                      (process: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .foreachBatch((batch: DataFrame, id: Long) => process(batch, id))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run a streaming DataFrame to completion against the current
    * backlog (Trigger.AvailableNow) into an in-memory table; returns
    * the collected result. Test/driver harness for the above. */
  def runAvailableNow(df: DataFrame, queryName: String,
                      checkpoint: String, outputMode: String = "update"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.{PqAdcScore, PqCodesAdc, PqQueryTable, TopKStruct}
import graft.util.Stage

/** Product quantization (PQ) — the ANN compression path that makes
  * 100 TB of embeddings searchable from RAM: each D-dim vector is
  * split into `m` subvectors, each subvector quantized to one of
  * `ksub` per-subspace centroids, so a vector stores as m small codes
  * (m bytes at ksub=256; m·log2(ksub) bits generally) instead of 4·D
  * bytes. Queries score candidates with an asymmetric distance
  * computation (ADC): one (m × ksub) table of query-subvector →
  * centroid distances, then each candidate's approximate distance is
  * m table lookups summed — no embedding bytes touched until the
  * final exact rerank of a short list. Composes with [[IvfIndex]]
  * (IVF-PQ: prune cells, then ADC inside them).
  *
  * Like IvfIndex's deterministic path, the quantizer here is
  * md5-hash-initialized + one Lloyd mean step with all distances
  * rounded to 6 decimals before any argmin (ties break on the lower
  * cell) — every step is a plain relational plan an independent SQL
  * engine can mirror, which is what lets the oracle gate certify the
  * whole index+query machinery (probe x27). A production deployment
  * swaps in trained codebooks and a codegen lookup kernel; the query
  * dataflow is unchanged.
  */
object PqIndex {

  /** Default shortlist-to-k ratio for the at-rest query paths when the
    * caller does not size the shortlist: BenchAnn's 1M hierarchical
    * corpus measured recall@10 = 0.3 at shortlist 200 and 1.0 at 2000
    * (nprobe=4) — ADC cannot order near-tie candidates, so the
    * shortlist must cover the near-tie set. 200·k is the measured
    * recall-1.0 ratio there; rerank reads shortlist·Q slim rows from
    * partitions already read, so the safety margin is cheap. */
  val AutoShortlistPerK = 200

  /** `shortlist` ≤ 0 means "derive from k" ([[AutoShortlistPerK]]). */
  private def resolveShortlist(shortlist: Int, k: Int): Int =
    if (shortlist <= 0) AutoShortlistPerK * k else shortlist

  /** Per-dimension rows: (id, subspace, within, x). */
  private def dims(embs: DataFrame, dsub: Int, idCol: String,
                   vecCol: String): DataFrame =
    embs.select(col(idCol), posexplode(col(vecCol)).as(Seq("j", "x")))
      .withColumn("subspace", (col("j") / lit(dsub)).cast("int"))
      .withColumn("within", col("j") % lit(dsub))
      .withColumn("x", col("x").cast("double"))
      .drop("j")

  /** Exploded dims hash-partitioned on the vector id. Every
    * aggregation downstream of the explode groups on keys led by the
    * id (assign, encode, ADC sum), and HashPartitioning on a PREFIX of
    * the grouping keys satisfies their clustered distribution — so one
    * up-front shuffle of the slim (id, subspace, within, x) rows makes
    * the whole index build + query pipeline exchange-free from there
    * (the broadcast codebook joins preserve partitioning). */
  private def partitionedDims(embs: DataFrame, dsub: Int, idCol: String,
                              vecCol: String): DataFrame =
    dims(embs, dsub, idCol, vecCol).repartition(col(idCol))

  /** Deterministic per-dim codebook (subspace, cell, within, cx):
    * cell c seeds from vector c's subvector (data-dependent spread —
    * a hash-random init collapses all centroids onto the per-subspace
    * mean after one Lloyd step, leaving ADC ordering pure noise),
    * then one assign+mean Lloyd step with 6-decimal rounding before
    * the argmin. Requires ids 0..ksub-1 to exist (seed rows). */
  def codebook(embs: DataFrame, m: Int, ksub: Int, dim: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    codebookFromDims(dims(embs, dim / m, idCol, vecCol), ksub, idCol)
  }

  private def codebookFromDims(d: DataFrame, ksub: Int,
                               idCol: String): DataFrame = {
    val cb0 = d.where(col(idCol) < ksub)
      .select(col("subspace"), col(idCol).cast("int").as("cell"),
        col("within"), col("x").as("cx"))
    val d2 = col("x") - col("cx")
    val assigned = d.join(broadcast(cb0), Seq("subspace", "within"))
      .groupBy(col(idCol), col("subspace"), col("cell"))
      .agg(round(sum(d2 * d2), 6).as("dist"))
    // argmin as min(struct(dist, cell)): lexicographic struct order =
    // min dist, ties on the lower cell — same contract as a
    // row_number window but partial-aggregable (no 64k-partition sort)
    val cells = assigned
      .groupBy(col(idCol), col("subspace"))
      .agg(min(struct(col("dist"), col("cell"))).as("best"))
      .select(col(idCol), col("subspace"), col("best.cell").as("cell"))
    d.join(cells, Seq(idCol, "subspace"))
      .groupBy(col("subspace"), col("cell"), col("within"))
      .agg(round(avg("x"), 6).as("cx"))
  }

  /** PQ codes (id, subspace, code): per-subspace argmin of the rounded
    * squared distance to each centroid. */
  def encode(embs: DataFrame, cb: DataFrame, m: Int, dim: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    encodeFromDims(dims(embs, dim / m, idCol, vecCol), cb, idCol)

  private def encodeFromDims(d: DataFrame, cb: DataFrame,
                             idCol: String): DataFrame = {
    val d2 = col("x") - col("cx")
    val dist = d
      .join(broadcast(cb), Seq("subspace", "within"))
      .groupBy(col(idCol), col("subspace"), col("cell"))
      .agg(round(sum(d2 * d2), 6).as("dist"))
    dist.groupBy(col(idCol), col("subspace"))
      .agg(min(struct(col("dist"), col("cell"))).as("best"))
      .select(col(idCol), col("subspace"), col("best.cell").as("code"))
  }

  /** Query-side ADC distance table: (subspace, cell, qdist). */
  def queryTable(embs: DataFrame, queryId: Long, cb: DataFrame, m: Int,
                 dim: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    queryTableFromDims(
      dims(embs.where(col(idCol) === queryId), dim / m, idCol, vecCol), cb)

  private def queryTableFromDims(dq: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = col("x") - col("cx")
    dq.join(broadcast(cb), Seq("subspace", "within"))
      .groupBy(col("subspace"), col("cell"))
      .agg(round(sum(d2 * d2), 6).as("qdist"))
  }

  /** ADC shortlist over (a subset of) the coded corpus: m table
    * lookups summed per candidate, nearest `shortlist` kept. */
  def adcShortlist(codes: DataFrame, table: DataFrame, queryId: Long,
                   shortlist: Int, idCol: String = "vec_id"): DataFrame =
    codes
      .join(broadcast(table), codes("subspace") === table("subspace") &&
        codes("code") === table("cell"))
      .groupBy(col(idCol))
      .agg(round(sum("qdist"), 6).as("adist"))
      .where(col(idCol) =!= queryId)
      .orderBy(col("adist").asc, col(idCol).asc)
      .limit(shortlist)

  private def rerank(short: DataFrame, embs: DataFrame, queryId: Long,
                     k: Int, idCol: String, vecCol: String): DataFrame = {
    val q = embs.where(col(idCol) === queryId).select(col(vecCol).as("q"))
    short.join(embs, Seq(idCol))
      .crossJoin(broadcast(q))
      .withColumn("sim", Similarity.cosine(col(vecCol), col("q")))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** ADC top-k for one query id with exact cosine rerank: build the
    * (subspace, cell) distance table from the query's subvectors, sum
    * m lookups per candidate, shortlist the nearest `shortlist`, then
    * exact-rerank those embeddings to the final k. */
  def adcTopK(embs: DataFrame, queryId: Long, k: Int, shortlist: Int,
              m: Int, ksub: Int, dim: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              cacheKey: Option[String] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val (cbArr, qtArr) =
      builtTables(embs, queryId, m, ksub, dim, idCol, vecCol, cacheKey)
    // fused scan: pq_adc encodes + ADC-scores each vector in one
    // codegen pass (values bit-identical to the relational
    // encode→join→sum path — see PqAdcScore); shortlist is a
    // TakeOrdered, so the whole query side is map-only, zero shuffle
    val spark = embs.sparkSession
    val adist = column(PqAdcScore(expression(col(vecCol).cast("array<double>")),
      cbArr, qtArr, m, ksub, dsub))
    val short = embs.where(col(idCol) =!= queryId)
      .select(col(idCol), adist.as("adist"))
      .orderBy(col("adist").asc, col(idCol).asc)
      .limit(shortlist)
    rerank(short, embs, queryId, k, idCol, vecCol)
  }

  private val trainedTables = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Int, Int, Int), (Array[Double], Array[Double])]()

  // The codebook is a function of (corpus, geometry) ONLY — the query
  // never enters the Lloyd step — so it caches one level above the
  // per-query distance tables. Collected ROWS (plain data, not a
  // DataFrame) so entries survive across sessions; m·ksub·dim doubles
  // per entry (KBs).
  private val codebookStore = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Int),
    (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]()

  /** Codebook + per-query ADC distance table, collected for the fused
    * kernel, with two cache levels (opt-in via `cacheKey`, the
    * trained-BPE-table contract — training is deterministic in the
    * input): the CODEBOOK caches per (corpus, m, ksub, dim) — the
    * expensive part, one dims-explode + Lloyd step over the corpus —
    * and the (codebook, query table) pair per (corpus, query,
    * geometry). A second query against an indexed corpus pays only a
    * tiny dims-join over its own subvectors (the round-7 shape where
    * the cache was keyed by query retrained the full codebook per
    * distinct query id — measured as x37's 4.6s regression). Shared by
    * [[adcTopK]] and [[ivfPqTopK]]: both train on the full corpus, so
    * the same (corpus, query, geometry) tuple yields the same tables. */
  private def builtTables(embs: DataFrame, queryId: Long, m: Int, ksub: Int,
                          dim: Int, idCol: String, vecCol: String,
                          cacheKey: Option[String]): (Array[Double], Array[Double]) = {
    val dsub = dim / m
    def cbData(): (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]) = {
      // explode + id-partition ONCE, only for the codebook build
      val d = partitionedDims(embs, dsub, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cb = codebookFromDims(d, ksub, idCol)
        (cb.schema, cb.collect())
      } finally d.unpersist(blocking = false)
    }
    def build(): (Array[Double], Array[Double]) = {
      val (schema, rows) = cacheKey match {
        case Some(key) =>
          codebookStore.computeIfAbsent((key, m, ksub, dim), _ => cbData())
        case None => cbData()
      }
      val cb = embs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      val table = queryTableFromDims(
        dims(embs.where(col(idCol) === queryId), dsub, idCol, vecCol), cb)
      collectTables(cb, table, m, ksub, dsub)
    }
    cacheKey match {
      case Some(key) => trainedTables.computeIfAbsent(
        (key, queryId, m, ksub, dim), _ => build())
      case None => build()
    }
  }

  /** Flatten the (tiny) codebook and query table for the fused kernel:
    * cb slot (s·ksub + c)·dsub + w, qt slot s·ksub + c; NaN in qt marks
    * a (subspace, cell) the codebook never produced (empty Lloyd cell),
    * which the kernel skips exactly like the relational join does. */
  private def collectTables(cb: DataFrame, table: DataFrame,
                            m: Int, ksub: Int, dsub: Int): (Array[Double], Array[Double]) = {
    val cbArr = new Array[Double](m * ksub * dsub)
    val qtArr = Array.fill(m * ksub)(Double.NaN)
    cb.collect().foreach { r =>
      val s = r.getAs[Number]("subspace").intValue()
      val c = r.getAs[Number]("cell").intValue()
      val w = r.getAs[Number]("within").intValue()
      cbArr((s * ksub + c) * dsub + w) = r.getAs[Double]("cx")
    }
    table.collect().foreach { r =>
      val s = r.getAs[Number]("subspace").intValue()
      val c = r.getAs[Number]("cell").intValue()
      qtArr(s * ksub + c) = r.getAs[Double]("qdist")
    }
    (cbArr, qtArr)
  }

  // ---------------------------------------------------------------------
  // On-disk IVF-PQ index: at 100 TB the index you never persist is an
  // index you rebuild per query. The codes table (m small ints per
  // vector instead of 4·D bytes) is written partitioned by IVF cell,
  // so a query's nprobe cell selection becomes a file-level PARTITION
  // FILTER on both the ADC scan and the rerank scan; the codebook and
  // centroid side tables are tiny and collect to the driver.
  // ---------------------------------------------------------------------

  /** Persist an IVF-PQ index at `path`:
    *   codes/cell=N/    (id, codes array<int>, one code per subspace)
    *   vectors/cell=N/  (id, vector) — for the exact rerank
    *   codebook/        (subspace, cell, within, cx)
    *   centroids/       (cell, centroid)
    * Codebook and codes come from the FULL corpus (cell membership
    * must not change code semantics), exactly like the in-memory
    * [[ivfPqTopK]]; build cost is paid once and amortized over every
    * future query. */
  def writeIndex(embs: DataFrame, path: String, nlist: Int,
                 m: Int, ksub: Int, dim: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // materialized (bounded nlist rows) so the three consumers in
    // writeIndexTables (vectors-write broadcast, centroids write,
    // build stats) don't each replay the corpus-wide mean aggregation
    val cents = Stage.truncate(IvfIndex.meanCentroids(
      IvfIndex.hashCells(embs, nlist, idCol), "cell0", vecCol))
    val assigned = IvfIndex.assign(embs, cents, idCol, vecCol)
    writeIndexTables(embs, assigned, cents, path, m, ksub, dim, idCol, vecCol)
  }

  /** [[writeIndex]] with a TRAINED coarse quantizer: MLlib KMeans
    * cells instead of the deterministic hash-init + one-Lloyd-step
    * quantizer. Same on-disk layout, same [[topKFromIndex]] reader
    * (the reader is quantizer-agnostic — it ranks whatever centroid
    * table the index carries). This is the production quality path the
    * certified deterministic build trades away for SQL-mirrorability:
    * real cells cluster tighter, so a given recall needs fewer probed
    * cells — i.e. fewer partitions read at 100 TB. */
  def writeIndexKMeans(embs: DataFrame, path: String, nlist: Int,
                       m: Int, ksub: Int, dim: Int, seed: Long = 42,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val (model, assigned) = IvfIndex.build(embs, nlist, seed, idCol, vecCol)
    val spark = embs.sparkSession
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toSeq.toDF("cell", "centroid")
    writeIndexTables(embs, assigned, cents, path, m, ksub, dim, idCol, vecCol)
  }

  private def writeIndexTables(embs: DataFrame, assigned: DataFrame,
                               cents: DataFrame, path: String,
                               m: Int, ksub: Int, dim: Int,
                               idCol: String, vecCol: String): Unit = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = partitionedDims(embs, dim / m, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cb = Stage.truncate(codebookFromDims(d, ksub, idCol))
      // materialize the assignment ONCE (the vectors table), then
      // feed the codes join and the build stats from the at-rest
      // copy — the corpus × nlist argmin is never replayed
      assigned.write.partitionBy("cell").mode("overwrite")
        .parquet(s"$path/vectors")
      val spark = embs.sparkSession
      val assignedAtRest = spark.read.parquet(s"$path/vectors")
      packCodes(d, cb, idCol)
        .join(assignedAtRest.select(col(idCol), col("cell")), Seq(idCol))
        .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
      cb.write.mode("overwrite").parquet(s"$path/codebook")
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      // per-cell baseline for the staleness readout (IndexStats)
      IndexStats.writeBuildStats(assignedAtRest, cents, path, vecCol)
    } finally d.unpersist(blocking = false)
  }

  /** The packed-codes construction shared by build and append — ONE
    * definition so the append≡build bit-identity is structural, not a
    * convention two copies must keep. */
  private def packCodes(d: DataFrame, cb: DataFrame,
                        idCol: String): DataFrame =
    encodeFromDims(d, cb, idCol)
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Append a batch to an existing IVF-PQ index — the x104 int8
    * ingest contract applied to PQ: assign against the PERSISTED
    * centroids and PQ-encode against the PERSISTED codebook (both are
    * versioned artifacts — retraining either would re-home/re-code
    * the existing corpus), then append codes and vectors under their
    * cell directories. The index GEOMETRY (m, dsub) is DERIVED from
    * the persisted codebook — caller-supplied numbers could silently
    * mis-encode the batch — and the batch's vector dimension must
    * match it. O(batch) per ingest: two bounded broadcasts + map
    * passes over the batch; the existing index is never read.
    * Per-vector encoding and assignment see no other rows, so a query
    * after any append schedule is bit-identical to codes written at
    * build time under the same artifacts (PqAppendSpec pins it).
    *
    * Crash-safety: the commit runs the family's staged protocol
    * ([[Compaction.appendWithMarker]]) — vectors, codes and stats are
    * staged together and become visible through per-file renames, so
    * no reader can observe codes without their vectors (or vice
    * versa), and a crashed marked attempt's partial move is swept on
    * retry. Exactly-once under at-least-once drivers (foreachBatch
    * replays): pass `doneMarker` (e.g. the micro-batch id) — an
    * append whose marker landed is a no-op on replay. */
  def appendToIndex(newEmbs: DataFrame, path: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    doneMarker: Option[String] = None): Unit = {
    val spark = newEmbs.sparkSession
    val head = newEmbs.select(col(vecCol)).head(1)
    if (head.isEmpty) return // empty micro-batch
    // the family's crash-atomic staged commit: vectors, codes and the
    // batch's staleness stats move into place TOGETHER (the old
    // vectors-before-codes ordering concern is gone — no reader can
    // observe one without the others), and a crashed attempt's partial
    // move is swept on the marked retry
    Compaction.appendWithMarker(spark, path, doneMarker) { staging =>
      val cents = spark.read.parquet(s"$path/centroids")
      val cb = spark.read.parquet(s"$path/codebook")
      // geometry from the persisted artifact, not the caller
      val geo = cb.agg(max(col("subspace")), max(col("within"))).head()
      val m = geo.getInt(0) + 1
      val dsub = geo.getInt(1) + 1
      val batchDim = head(0).getSeq[Any](0).length
      require(batchDim == m * dsub,
        s"batch vectors have dim $batchDim, index expects ${m * dsub} " +
          s"(m=$m x dsub=$dsub from the persisted codebook)")
      // persisted across its three actions (vectors write, codes join,
      // batch stats) so the batch × nlist argmin runs once per ingest
      val assigned = IvfIndex.assign(newEmbs, cents, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        assigned.write.partitionBy("cell").mode("overwrite")
          .parquet(s"$staging/vectors")
        packCodes(partitionedDims(newEmbs, dsub, idCol, vecCol), cb, idCol)
          .join(assigned.select(col(idCol), col("cell")), Seq(idCol))
          .write.partitionBy("cell").mode("overwrite")
          .parquet(s"$staging/codes")
        // O(batch) per-cell stats for the staleness readout (IndexStats)
        IndexStats.appendBatchStats(assigned, cents, staging, vecCol)
      } finally assigned.unpersist(blocking = false)
    }
  }

  /** Compact the IVF-PQ index's vectors AND codes tables after an
    * append schedule — each [[appendToIndex]] lands a batch as
    * additional files under both tables' cell directories. Value- and
    * layout-preserving (rows rewritten as-is, one file per cell), so
    * [[topKFromIndex]] is bit-identical before/after; codebook,
    * centroids, staleness stats, and append replay markers are
    * untouched. See [[Compaction]] for the crash stance. */
  def compactIndex(spark: SparkSession, path: String,
                   maxRecordsPerFile: Long = 0L): Unit = {
    Compaction.compactPartitionedDir(
      spark, s"$path/vectors", Seq("cell"), maxRecordsPerFile)
    Compaction.compactPartitionedDir(
      spark, s"$path/codes", Seq("cell"), maxRecordsPerFile)
  }

  /** IVF-PQ top-k against an on-disk index for an explicit query
    * vector: rank the centroid table (driver-side, nlist rows), turn
    * the nprobe nearest cells into partition filters on the codes and
    * vectors scans, score each surviving vector's packed codes against
    * a driver-built ADC lookup table (same per-cell round-6 contract
    * as the relational [[queryTable]]), shortlist, exact-rerank. No
    * dims explode, no codebook rebuild — the index at rest answers
    * the query. `excludeId` drops a corpus vector from the results
    * (pass the query's own id when querying by an indexed vector).
    *
    * SIZING (measured, BenchAnn 1M r10): recall is usually
    * SHORTLIST-bound, not nprobe-bound — ADC cannot order near-tie
    * candidates, so `shortlist` must cover the query's near-tie set
    * (scales with cluster density: 200→recall 0.3, 2000→1.0 at the
    * same nprobe=4 on the 1M hierarchical corpus, +25% query wall).
    * Growing `shortlist` reranks more rows from partitions ALREADY
    * read; growing `nprobe` multiplies partitions READ (4→32 cells
    * cost +94% wall for the same recall 1.0). Widen nprobe only when
    * neighbors genuinely straddle cells.
    *
    * DEFAULT (r12): `shortlist` ≤ 0 derives `AutoShortlistPerK`·k =
    * 200·k — the ratio the 1M measurement needed for recall 1.0
    * (2000 at k=10), so the no-args path is recall-safe by default
    * instead of silently shipping 0.3-recall retrieval. Callers who
    * pass an explicit shortlist own that trade (the sizing rule
    * above). */
  def topKFromIndex(spark: SparkSession, path: String, query: Seq[Double],
                    k: Int, nprobe: Int, shortlist: Int = 0,
                    excludeId: Option[Long] = None,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import graft.expressions.PqAdcScore.round6
    val shortlistN = resolveShortlist(shortlist, k)
    val cbRows = spark.read.parquet(s"$path/codebook")
      .select("subspace", "cell", "within", "cx").collect()
      .map(r => (r.getAs[Number]("subspace").intValue(),
        r.getAs[Number]("cell").intValue(),
        r.getAs[Number]("within").intValue(),
        r.getAs[Number]("cx").doubleValue()))
    val m = cbRows.iterator.map(_._1).max + 1
    val ksub = cbRows.iterator.map(_._2).max + 1
    val dsub = query.length / m
    require(query.length % m == 0,
      s"query dim ${query.length} not divisible into $m subspaces")
    val qtArr = Array.fill(m * ksub)(Double.NaN)
    cbRows.groupBy(t => (t._1, t._2)).foreach { case ((s, c), ws) =>
      var acc = 0.0
      ws.sortBy(_._3).foreach { case (_, _, w, cx) =>
        val diff = query(s * dsub + w) - cx
        acc += diff * diff
      }
      qtArr(s * ksub + c) = round6(acc)
    }
    val cells = spark.read.parquet(s"$path/centroids").collect()
      .map { r =>
        val cell = r.getAs[Number]("cell").longValue()
        val cent = r.getSeq[Double](r.fieldIndex("centroid"))
        var qq = 0.0; var qc = 0.0; var cc = 0.0
        var i = 0
        while (i < cent.length) {
          qq += query(i) * query(i); qc += query(i) * cent(i)
          cc += cent(i) * cent(i); i += 1
        }
        (round6(qq - 2.0 * qc + cc), cell)
      }.sorted.take(nprobe).map(_._2).toSeq
    // literal IN-list on the partition column → PartitionFilters prune
    // code directories before any file is opened
    val qtLit = array(qtArr.map(lit): _*)
    val adist = round(aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(qtLit, (s * ksub + c + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x), 6)
    val scored = spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(cells: _*))
      .select(col(idCol), adist.as("adist"))
    val short = excludeId.fold(scored)(id => scored.where(col(idCol) =!= id))
      .orderBy(col("adist").asc, col(idCol).asc)
      .limit(shortlistN)
    val qCol = array(query.map(lit): _*)
    spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(cells: _*))
      .join(broadcast(short), Seq(idCol))
      .withColumn("sim", Similarity.cosine(col(vecCol), qCol))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch ANN join over the at-rest IVF-PQ index — the k-NN JOIN
    * sibling of [[Similarity.annJoinInt8FromIndex]] for the
    * PQ-compressed path: for EVERY query row, ADC-score the codes in
    * its `nprobe` nearest cells, keep the `shortlist` nearest per
    * query, exact-rerank those vectors, return the top-k by true
    * cosine. Hard-negative mining / batch retrieval when the corpus
    * is big enough that only m-byte codes fit hot (the PQ premise),
    * and the single-query [[topKFromIndex]]'s driver-built lookup
    * table can't be built per query.
    *
    * Shape at 100 TB: the geometry (m, dsub, ksub) is DERIVED from
    * the persisted codebook (the [[appendToIndex]] contract), which
    * is collected driver-side — bounded at m·ksub·dsub doubles, a
    * model artifact, the same collect [[topKFromIndex]] performs.
    * Cell routing is Q × nlist against the BROADCAST centroid table
    * with a per-query window bounded at nlist rows. The per-query ADC
    * table is built MAP-ONLY by the fused `pq_qt` codegen kernel
    * ([[graft.expressions.PqQueryTable]] — one pass per query row
    * against the broadcast codebook array, producing the identical
    * round-6 values the relational dims→join→sum formulation
    * computes), and candidate scoring is the `pq_codes_adc` kernel —
    * m O(1) array lookups per candidate. (r11 lesson: the previous
    * relational build folded the table into a per-query MAP whose
    * element_at is a LINEAR scan of all m·ksub entries — m·ksub·m
    * work per candidate — and its explode→join→double-groupBy
    * subtree was duplicated into the DPP subquery; the kernel path
    * removed both, 8.6s → sub-second at sf0.1.) Candidates join the
    * cell-partitioned codes on the exploded (query, cell) table —
    * AQE broadcasts the small query side and the codes never
    * shuffle. The per-query shortlist is a PARTIAL-AGGREGABLE
    * bounded heap (`top_k_struct` — the annJoinInt8FromIndex
    * pattern): ≤shortlist rows per query survive map-side inside the
    * scoring stage, so the one shuffle never carries the candidate
    * set. The rerank joins the vectors table
    * on (cell, id) — only shortlist·Q slim rows — and the final
    * (sim DESC, id) rank re-closes densely after exclusions.
    *
    * Exclusions (the contrastive-mining contract): `excludeSelf`
    * drops candidates whose id equals the query id; `excludePairs`
    * (qIdCol, idCol) anti-joins known positives before the shortlist,
    * so banned pairs never consume shortlist slots.
    *
    * Every step is round-6 relational arithmetic (probe x112 mirrors
    * cells, codebook, codes, per-query ADC, shortlist, and rerank
    * CTE-for-CTE in SQL). `shortlist` ≤ 0 derives the recall-safe
    * [[AutoShortlistPerK]]·k default (the topKFromIndex sizing
    * contract). Returns (qIdCol, idCol, sim, rank) with rank 1..k
    * per query. */
  def annJoinFromIndex(queries: DataFrame, path: String, k: Int,
                       nprobe: Int, shortlist: Int = 0,
                       excludeSelf: Boolean = true,
                       excludePairs: Option[DataFrame] = None,
                       qIdCol: String = "q_id",
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val shortlistN = resolveShortlist(shortlist, k)
    require(k >= 1 && nprobe >= 1 && shortlistN >= k,
      s"need k>=1, nprobe>=1, shortlist>=k; " +
        s"got k=$k nprobe=$nprobe shortlist=$shortlistN")
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    // driver-side bounded codebook collect (the topKFromIndex shape):
    // geometry AND values derive from the persisted artifact, so
    // build/append/query cannot diverge. Slots the codebook never
    // produced (empty Lloyd cells) stay NaN — no persisted code can
    // reference them.
    val cbRows = spark.read.parquet(s"$path/codebook")
      .select("subspace", "cell", "within", "cx").collect()
      .map(r => (r.getAs[Number]("subspace").intValue(),
        r.getAs[Number]("cell").intValue(),
        r.getAs[Number]("within").intValue(),
        r.getAs[Number]("cx").doubleValue()))
    val m = cbRows.iterator.map(_._1).max + 1
    val ksub = cbRows.iterator.map(_._2).max + 1
    val dsub = cbRows.iterator.map(_._3).max + 1
    val cbArr = Array.fill(m * ksub * dsub)(Double.NaN)
    cbRows.foreach { case (s, c, w, cx) =>
      cbArr((s * ksub + c) * dsub + w) = cx
    }
    // per-query nprobe cell routing: the nprobe smallest (qdist, cell)
    // per query via the partial-aggregable top_k_struct heap — the
    // same (qdist ASC, cell ASC) selection the old row_number window
    // made, minus the window's shuffle-and-sort stage (the r8
    // IvfIndex.assign precedent; input bounded at nlist rows/query)
    val qcells = queries
      .select(col(qIdCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("qdist", IvfIndex.sqDist(col(vecCol), col("centroid")))
      .groupBy(col(qIdCol))
      .agg(TopKStruct.of(struct(col("qdist"), col("cell")), nprobe, false).as("_pc"))
      .select(col(qIdCol), explode(col("_pc")).as("_r"))
      .select(col(qIdCol), col("_r.cell").as("cell"))
    // per-query ADC table: ONE map-only codegen pass per query row
    // (no dims explode, no codebook join, no groupBy pair)
    val qt = queries.select(col(qIdCol),
      column(PqQueryTable(expression(col(vecCol).cast("array<double>")),
        cbArr, m, ksub, dsub)).as("_qt"))
    val probes = qcells.join(qt, Seq(qIdCol))
    val adist = column(PqCodesAdc(expression(col("codes")), expression(col("_qt")), ksub))
    val scored = spark.read.parquet(s"$path/codes")
      .join(probes, Seq("cell"))
      .select(col(qIdCol), col(idCol), col("cell"), adist.as("adist"))
    val afterSelf =
      if (excludeSelf) scored.where(col(idCol) =!= col(qIdCol)) else scored
    val afterPairs = excludePairs.fold(afterSelf)(p =>
      afterSelf.join(p.select(col(qIdCol), col(idCol)),
        Seq(qIdCol, idCol), "left_anti"))
    // bounded per-query shortlist: a partial-aggregable ≤shortlist
    // heap (top_k_struct) keeps candidates map-side INSIDE the
    // scoring stage — the single shuffle moves ≤ Q·shortlist rows
    // per partition, the candidate set never crosses the wire (the
    // annJoinInt8FromIndex pattern; ordering (adist ASC, id ASC) with
    // the unique id tie-break keeps the set identical to a rank)
    val short = afterPairs
      .groupBy(col(qIdCol))
      .agg(TopKStruct.of(
        struct(col("adist"), col(idCol), col("cell")), shortlistN, false).as("_sl"))
      .select(col(qIdCol), explode(col("_sl")).as("_r"))
      .select(col(qIdCol), col("_r").getField(idCol).as(idCol),
        col("_r.cell").as("cell"))
    // exact rerank over shortlist·Q rows; vectors keyed (cell, id) so
    // the cell-partitioned layout can prune
    val vecs = spark.read.parquet(s"$path/vectors")
    // final exact rerank: the k best (sim DESC, id ASC) per query via
    // the top_k_struct heap, ranks recovered from the sorted array —
    // row-identical to the row_number window it replaces (unique id
    // tie-break), partial-aggregated instead of shuffled-and-sorted
    short.join(vecs, Seq("cell", idCol))
      .join(queries.select(col(qIdCol), col(vecCol).as("_qv")), Seq(qIdCol))
      .withColumn("sim", Similarity.cosine(col(vecCol), col("_qv")))
      .groupBy(col(qIdCol))
      .agg(TopKStruct.of(struct(col("sim"), col(idCol)), k, true).as("_tk"))
      .select(col(qIdCol), posexplode(col("_tk")).as(Seq("_p", "_r")))
      .select(col(qIdCol), col("_r").getField(idCol).as(idCol),
        col("_r.sim").as("sim"), (col("_p") + 1).cast("int").as("rank"))
  }

  /** IVF-PQ: the standard two-level layout for web-scale ANN — the IVF
    * quantizer prunes to the nprobe nearest cells (on disk: partition
    * pruning, see IvfIndex.writeIndex), then ADC ranks only the codes
    * of the surviving cells and the exact rerank touches `shortlist`
    * embeddings. Codebooks and codes come from the FULL corpus (cell
    * membership must not change code semantics). */
  def ivfPqTopK(embs: DataFrame, queryId: Long, k: Int,
                nlist: Int, nprobe: Int, shortlist: Int,
                m: Int, ksub: Int, dim: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                cacheKey: Option[String] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val cents = IvfIndex.meanCentroids(
      IvfIndex.hashCells(embs, nlist, idCol), "cell0", vecCol)
    val assigned = IvfIndex.assign(embs, cents, idCol, vecCol)
    val q = embs.where(col(idCol) === queryId).select(col(vecCol).as("q"))
    val cellRank = Window.orderBy(col("qdist").asc, col("cell").asc)
    val probeCells = cents.crossJoin(broadcast(q))
      .withColumn("qdist", IvfIndex.sqDist(col("q"), col("centroid")))
      .withColumn("rn", row_number().over(cellRank))
      .where(col("rn") <= nprobe)
      .select("cell")
    // PQ side: the two-level table cache shared with adcTopK — both
    // train the codebook on the FULL corpus (cell membership must not
    // change code semantics), so the same (corpus, query, geometry)
    // yields the same tables and the cache namespace is unified
    val (cbArr, qtArr) =
      builtTables(embs, queryId, m, ksub, dim, idCol, vecCol, cacheKey)
    // fused scan over the nprobe-pruned candidates only: pq_adc
    // encodes + ADC-scores each surviving vector in one codegen pass
    // (bit-identical to the relational encode→join→sum path — see
    // PqAdcScore); the cell join stays a broadcast of nprobe cell ids,
    // so nothing corpus-sized ever moves
    val spark = embs.sparkSession
    val adist = column(PqAdcScore(expression(col(vecCol).cast("array<double>")),
      cbArr, qtArr, m, ksub, dsub))
    val short = assigned.join(broadcast(probeCells), "cell")
      .where(col(idCol) =!= queryId)
      .select(col(idCol), adist.as("adist"))
      .orderBy(col("adist").asc, col(idCol).asc)
      .limit(shortlist)
    rerank(short, embs, queryId, k, idCol, vecCol)
  }
}

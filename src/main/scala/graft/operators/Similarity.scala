package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.{Int8Cosine, TopKStruct}
import graft.util.Stage

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *  - `cosineTopK`: brute-force exact — one broadcast of the query
  *    vector, one scan, one top-k. The baseline, and correct at any
  *    scale (the scan parallelizes; top-k is a tiny shuffle).
  *  - `hyperplaneSignature` + `lshTopK`: random-hyperplane LSH — sign
  *    bits under deterministic md5-derived pseudo-planes bucket the
  *    vectors; candidates share a band; rerank exactly within
  *    candidates. At 100 TB the bucket join replaces the full scan.
  */
object Similarity {

  /** Scalar int8 quantization of the embedding column — the 4×
    * memory lever next to PQ's 16×: per-vector symmetric max-abs
    * scaling, `code = floor(v / (maxabs/127) + 0.5)` ∈ [-127, 127]
    * stored as tinyint, reconstruction `v̂ = code × q_scale`. The
    * floor(+0.5) form (not round()) makes the codes bit-identical
    * across engines — pure double arithmetic with no
    * decimal-rounding-mode ambiguity. Zero vectors quantize to zero
    * codes (scale floored at 1e-30). Map-only projection. */
  def quantizeInt8(embs: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    embs.select(col(idCol),
        (greatest(array_max(transform(v, x => abs(x.cast("double")))),
          lit(1e-30)) / 127.0).as("q_scale"), v.as("_v"))
      .select(col(idCol), col("q_scale"),
        transform(col("_v"), x =>
          floor(x.cast("double") / col("q_scale") + 0.5).cast("tinyint"))
          .as("q_codes"))
  }

  /** Exact top-k by cosine over int8-quantized vectors. The per-vector
    * scales CANCEL in cosine, so similarity is integer dot products
    * and integer norms — every intermediate is an exactly-representable
    * whole number (|code| ≤ 127, dims in the thousands stay far below
    * 2^53), making the result bit-identical on any engine with no
    * rounding step at all. */
  def cosineTopKInt8(quantized: DataFrame, queryId: Long, k: Int,
                     idCol: String = "vec_id"): DataFrame = {
    val q = quantized.where(col(idCol) === queryId)
      .select(col("q_codes").as("_cq"))
    quantized.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), int8Cosine(col("q_codes"), col("_cq")).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Pure-integer Σ aᵢ·bᵢ over int8 code arrays — every partial sum is
    * an exactly-representable whole number, so the result is
    * bit-identical on any engine and under any partitioning. */
  private def idot(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
    lit(0L), (acc, x) => acc + x)

  /** Integer-cosine of int8 code arrays (scales cancel — see
    * [[cosineTopKInt8]]) as the fused `int8_cosine` codegen kernel
    * (graft.expressions.Int8Cosine) — one generated loop instead of
    * three interpreted `aggregate(zip_with(...))` passes per pair,
    * with bit-identical values (exact long dots, one IEEE divide). */
  private def int8Cosine(codes: Column, qCodes: Column): Column =
    column(Int8Cosine(expression(codes), expression(qCodes)))

  /** The HOF formulation of [[int8Cosine]] — kept as the semantic
    * reference the kernel must match (Int8CosineSpec pins equality). */
  def int8CosineHof(codes: Column, qCodes: Column): Column =
    idot(codes, qCodes).cast("double") /
      (sqrt(idot(codes, codes).cast("double")) *
        sqrt(idot(qCodes, qCodes).cast("double")))

  /** Persist an int8 IVF index at `path` — [[quantizeInt8]]'s 4×
    * memory lever composed with the partition-pruned at-rest layout of
    * `IvfIndex.writeIndex`/`PqIndex.writeIndex`:
    *   codes/cell=N/  (vec_id, q_scale, q_codes) — tinyint codes
    *   centroids/     (cell, centroid)           — the coarse quantizer
    * Cells come from the same deterministic hash-init + one-Lloyd-step
    * quantizer the certified IVF probes mirror in SQL; build cost is
    * paid once and amortized over every future query. At 100 TB a
    * query reads ~nprobe/nlist of a codes table 4× smaller than the
    * raw vectors — and because integer cosine needs no rerank against
    * the raw vectors for its own contract, the raw corpus is never
    * touched at query time. */
  def writeInt8Index(embs: DataFrame, path: String, nlist: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    // centroids (bounded nlist rows) materialize so the two consumers
    // below don't each replay the hash-cells corpus pass; assigned
    // persists across its two actions (codes join + build stats) so
    // the corpus × nlist argmin runs ONCE per build
    val cents = Stage.truncate(IvfIndex.meanCentroids(
      IvfIndex.hashCells(embs, nlist, idCol), "cell0", vecCol))
    val assigned = IvfIndex.assign(embs, cents, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      quantizeInt8(embs, idCol, vecCol)
        .join(assigned.select(col(idCol), col("cell")), Seq(idCol))
        .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      // per-cell baseline for the staleness readout (IndexStats) —
      // bounded (≤ nlist rows), resets on rebuild
      IndexStats.writeBuildStats(assigned, cents, path, vecCol)
    } finally assigned.unpersist(blocking = false)
  }

  /** Append a batch to an existing int8 IVF index — the INCREMENTAL
    * INGEST path (at 100 TB the index is never rebuilt): new vectors
    * are assigned with the index's OWN persisted centroids (the IVF
    * ingest contract — the coarse quantizer is a versioned artifact;
    * re-training it would re-home every existing code partition),
    * quantized with the same floor(+0.5) rule, and appended under
    * their cell directories. Per-ingest cost is O(batch): one
    * broadcast of the nlist-row centroid table, one map pass over the
    * batch, one partitioned append — the existing codes are never
    * read. Values are bit-identical to an index whose codes were all
    * written at build time against the same centroids (per-vector
    * quantization and per-vector assignment don't see other rows), so
    * certification carries: a query after N appends equals the query
    * against the all-at-once index (Int8AnnSpec pins it; probe x104
    * certifies the composition against DuckDB).
    *
    * Exactly-once under at-least-once drivers (foreachBatch replays a
    * micro-batch if the driver dies between the write and the
    * checkpoint commit): pass `doneMarker` (e.g. the micro-batch id)
    * — an append whose marker already exists is skipped, so replays
    * are no-ops and the append≡rebuild bit-identity survives
    * restarts. Empty batches are no-ops; the batch dimension must
    * match the index's centroids (a mixed-dimension append would
    * silently write codes that integer cosine NULLs out — the
    * [[graft.expressions.DotProduct]] min-length truncation makes the
    * mistake invisible without this check). */
  def appendToInt8Index(newEmbs: DataFrame, path: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        doneMarker: Option[String] = None): Unit = {
    val spark = newEmbs.sparkSession
    val head = newEmbs.select(col(vecCol)).head(1)
    if (head.isEmpty) return // empty micro-batch
    // the family's crash-atomic staged commit: codes and the batch's
    // staleness stats move into place TOGETHER, and a crashed
    // attempt's partial move is swept on the marked retry — the old
    // data-commit-to-marker duplication window is closed
    Compaction.appendWithMarker(spark, path, doneMarker) { staging =>
      val cents = spark.read.parquet(s"$path/centroids")
      val indexDim = cents.select("centroid").head().getSeq[Any](0).length
      val batchDim = head(0).getSeq[Any](0).length
      require(batchDim == indexDim,
        s"batch vectors have dim $batchDim, index centroids have $indexDim")
      // persisted across its two actions (codes join + batch stats) so
      // the batch × nlist argmin runs once per ingest
      val assigned = IvfIndex.assign(newEmbs, cents, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        quantizeInt8(newEmbs, idCol, vecCol)
          .join(assigned.select(col(idCol), col("cell")), Seq(idCol))
          .write.partitionBy("cell").mode("overwrite")
          .parquet(s"$staging/codes")
        // the batch's per-cell stats ride the same O(batch) assignment
        // shape — the staleness readout (IndexStats.staleness) is how an
        // operator learns the persisted quantizer needs re-versioning
        IndexStats.appendBatchStats(assigned, cents, staging, vecCol)
      } finally assigned.unpersist(blocking = false)
    }
  }

  /** Compact the int8 index's codes table after an append schedule:
    * every [[appendToInt8Index]] lands its batch as additional files
    * under the cell directories, and after many micro-batches the
    * per-cell file count — not the pruning — dominates query open
    * cost. Value-preserving and layout-preserving (the quantized
    * codes are rewritten as-is, one file per cell), so
    * [[topKInt8FromIndex]] is bit-identical before/after; centroids,
    * build/batch staleness stats, and append replay markers are
    * untouched. See [[Compaction]] for the crash stance. */
  def compactInt8Index(spark: org.apache.spark.sql.SparkSession,
                       path: String, maxRecordsPerFile: Long = 0L): Unit =
    Compaction.compactPartitionedDir(
      spark, s"$path/codes", Seq("cell"), maxRecordsPerFile)

  /** Int8 cosine top-k against the on-disk index for an explicit query
    * vector: quantize the query driver-side with the identical
    * floor(+0.5) rule, rank the (tiny) centroid table against the RAW
    * query, turn the nprobe nearest cells into a file-level partition
    * filter on the codes scan, and rank survivors by pure-integer
    * cosine. Integer arithmetic survives partitioning exactly, so the
    * result is bit-identical to [[cosineTopKInt8]] restricted to the
    * probed cells — certification carries to the at-rest path
    * unchanged. `excludeId` drops an indexed vector (pass the query's
    * own id when querying by an indexed vector). */
  def topKInt8FromIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, query: Seq[Double], k: Int,
                        nprobe: Int, excludeId: Option[Long] = None,
                        idCol: String = "vec_id"): DataFrame = {
    val scale = math.max(
      query.iterator.map(math.abs).foldLeft(0.0)(math.max), 1e-30) / 127.0
    val qLit = array(query.map(x => lit(math.floor(x / scale + 0.5).toLong)): _*)
    val qRaw = array(query.map(lit): _*)
    val cells = spark.read.parquet(s"$path/centroids")
      .withColumn("qdist", IvfIndex.sqDist(qRaw, col("centroid")))
      .orderBy(col("qdist").asc, col("cell").asc)
      .limit(nprobe)
      .select(col("cell").cast("long")).collect().map(_.getLong(0))
    // literal IN-list on the partition column → PartitionFilters prune
    // code directories before any file is opened
    val scored = spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(cells.toSeq: _*))
    excludeId.fold(scored)(id => scored.where(col(idCol) =!= id))
      .select(col(idCol), int8Cosine(col("q_codes"), qLit).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch ANN join against the on-disk int8 index — the k-NN JOIN
    * the single-query [[topKInt8FromIndex]] cannot express: for EVERY
    * query row, the top-k most-cosine-similar indexed vectors within
    * its `nprobe` nearest cells. This is the hard-negative mining
    * primitive of contrastive training-data pipelines (anchor → the
    * most-similar non-positives are the negatives worth training on),
    * and doubles as batch retrieval (RAG eval sets, dedup-vs-index
    * sweeps).
    *
    * Shape at 100 TB: queries quantize map-only ([[quantizeInt8]] —
    * scales cancel per pair, so scoring stays exact integer
    * arithmetic); cell routing is Q × nlist against the BROADCAST
    * bounded centroid table with a per-query window over nlist rows
    * (bounded per key, never corpus-sized); the candidate join keys
    * the exploded (query, cell) table — Q·nprobe rows — against the
    * cell-partitioned codes table, so AQE broadcasts the query side
    * in the common small-Q case and the codes table never shuffles.
    * Per-query candidates are ~`nprobe/nlist` of the corpus — far too
    * many to shuffle — so the top-k is a PARTIAL-AGGREGABLE bounded
    * heap (`top_k_struct`, graft.expressions.TopKStruct): ObjectHash
    * aggregation keeps ≤k rows per query map-side INSIDE the scoring
    * stage, so the single shuffle moves at most Q·k rows per scan
    * partition and candidates never cross the wire. (This replaced a
    * two-phase row_number design that shuffled and sorted the full
    * candidate set twice — 68× growth at 10× data in the sf1 honesty
    * run; the heap form is what survives 100 TB.)
    *
    * Exclusions: `excludeSelf` drops candidates whose id equals the
    * query id (same id space — querying the corpus against itself);
    * `excludePairs` (qIdCol, idCol) anti-joins known positives/
    * banned pairs before ranking, the contrastive-mining contract.
    *
    * Integer cosine survives partitioning exactly (the x73 argument),
    * so results are engine-mirrorable: probe x111 re-derives cells,
    * routing, quantization, scoring and ranking in SQL.
    *
    * Returns (qIdCol, idCol, sim, rank) with rank 1..k per query. */
  /** Threshold COSINE PAIRS of a batch against the at-rest int8 index
    * — the candidate generator for incremental SEMANTIC dedup (the
    * registry flagship x142; the embedding-space sibling of the
    * MinHash/LSH candidate join): each batch vector is assigned to
    * its cell with the index's OWN persisted centroids (the versioned-
    * quantizer ingest contract), and pairs are formed ONLY within
    * cells — batch × persisted codes (the codes scan pruned to the
    * batch's ≤ nlist touched cells, a PARTITION filter) plus batch ×
    * batch — then kept at integer cosine ≥ `minCos`. Scales cancel in
    * cosine, so every sim is exact long dots + one IEEE divide:
    * bit-identical cross-engine, no rounding step (the
    * [[cosineTopKInt8]] argument), and the threshold compare is
    * therefore engine-stable with a RAW double.
    *
    * Pairs are canonicalized to id_a < id_b and deduplicated, so a
    * batch whose vectors are already in the index (e.g. the build set
    * re-presented) yields each pair once. The SemDeDup within-cell
    * confinement is the recall contract: a true near-dup pair
    * straddling two cells is missed — the same trade the one-shot
    * [[Dedup.semanticDedupInCells]] documents.
    *
    * Scale shape: O(batch) assignment (one nlist-row broadcast +
    * partial-aggregable argmin), a partition-pruned codes read, and
    * within-cell joins whose candidate volume is the cell-size sum —
    * quadratic confined to cells, never all-pairs; nothing
    * corpus-sized shuffles, no window. */
  def cosinePairsInt8FromIndex(batch: DataFrame, path: String,
                               minCos: Double,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val head = batch.select(col(vecCol)).head(1)
    if (head.nonEmpty) {
      val indexDim = cents.select("centroid").head().getSeq[Any](0).length
      val batchDim = head(0).getSeq[Any](0).length
      require(batchDim == indexDim,
        s"batch vectors have dim $batchDim, index centroids have $indexDim")
    }
    val assigned = IvfIndex.assign(batch, cents, idCol, vecCol)
    val bCodes = quantizeInt8(batch, idCol, vecCol)
      .join(assigned.select(col(idCol), col("cell")), Seq(idCol))
    // the batch's touched cells: bounded by the index's nlist geometry
    val cells = assigned.select("cell").distinct().collect().map(_.get(0))
    val aSide = bCodes.select(col("cell"), col(idCol).as("id_a"),
      col("q_codes").as("_ca"))
    val corpus = spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(cells: _*)) // partition filter
      .select(col("cell"), col(idCol).as("id_b"), col("q_codes").as("_cb"))
    def thresholded(pairs: DataFrame): DataFrame = pairs
      .select(col("id_a"), col("id_b"),
        int8Cosine(col("_ca"), col("_cb")).as("sim"))
      .where(col("sim") >= minCos)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("sim"))
    val cross = thresholded(aSide.join(corpus, Seq("cell"))
      .where(col("id_a") =!= col("id_b")))
    val internal = thresholded(aSide.join(
        bCodes.select(col("cell"), col(idCol).as("id_b"),
          col("q_codes").as("_cb")), Seq("cell"))
      .where(col("id_a") < col("id_b")))
    cross.unionAll(internal).distinct()
  }

  def annJoinInt8FromIndex(queries: DataFrame, path: String, k: Int,
                           nprobe: Int, excludeSelf: Boolean = true,
                           excludePairs: Option[DataFrame] = None,
                           qIdCol: String = "q_id",
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nprobe >= 1)
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    // per-query nprobe cell routing: Q × nlist broadcast cross join,
    // the nprobe smallest (qdist, cell) per query picked by the
    // partial-aggregable top_k_struct heap — the same selection the
    // old row_number window made (struct ordering is (qdist ASC, cell
    // ASC), ties to the lower cell), minus the window's extra
    // shuffle-and-sort stage (the r8 IvfIndex.assign precedent)
    val qcells = queries
      .select(col(qIdCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("qdist", IvfIndex.sqDist(col(vecCol), col("centroid")))
      .groupBy(col(qIdCol))
      .agg(TopKStruct.of(struct(col("qdist"), col("cell")), nprobe, false).as("_pc"))
      .select(col(qIdCol), explode(col("_pc")).as("_r"))
      .select(col(qIdCol), col("_r.cell").as("cell"))
    val probes = qcells.join(
      quantizeInt8(queries, qIdCol, vecCol)
        .select(col(qIdCol), col("q_codes").as("_qc")), Seq(qIdCol))
    val codes = spark.read.parquet(s"$path/codes")
    val scored = codes.join(probes, Seq("cell"))
      .select(col(qIdCol), col(idCol),
        int8Cosine(col("q_codes"), col("_qc")).as("sim"))
    val afterSelf =
      if (excludeSelf) scored.where(col(idCol) =!= col(qIdCol)) else scored
    val afterPairs = excludePairs.fold(afterSelf)(p =>
      afterSelf.join(p.select(col(qIdCol), col(idCol)),
        Seq(qIdCol, idCol), "left_anti"))
    // bounded per-query top-k: map-side ≤k heap inside the scoring
    // stage, ONE shuffle of ≤ Q·k rows per partition, ranks recovered
    // from the sorted array — (sim DESC, id ASC), the window rule
    afterPairs
      .groupBy(col(qIdCol))
      .agg(TopKStruct.of(struct(col("sim"), col(idCol)), k, true).as("_tk"))
      .select(col(qIdCol), posexplode(col("_tk")).as(Seq("_p", "_r")))
      .select(col(qIdCol), col("_r").getField(idCol).as(idCol),
        col("_r.sim").as("sim"),
        (col("_p") + 1).cast("int").as("rank"))
  }

  /** Contrastive TRIPLET MINING — the end-to-end consumer of the
    * batch ANN join: for every anchor, the hardest POSITIVE (the
    * most-cosine-similar vector sharing its label, ties to the lower
    * id) and the `negK` hardest NEGATIVES (the most-similar vectors
    * with a DIFFERENT label, mined through the at-rest int8 index
    * with same-label candidates excluded BEFORE the shortlist so
    * positives never consume negative slots). This is the
    * training-pair factory for contrastive/embedding models: anchors
    * paired with near-miss negatives are the examples worth training
    * on (Xiong et al. 2020 ANCE; the reference pipeline has no such
    * operator — this is §2.15 surface).
    *
    * Contracts: `labeled` carries (idCol, vecCol, labelCol) for the
    * whole corpus; `anchors` carries (qIdCol, vecCol, labelCol).
    * Labels are BOUNDED-CLASS positive keys (near-dup cluster ids,
    * query groups — the standard contrastive-dataset shape): the
    * positive argmax joins keyed on label and aggregates
    * map-side (max(struct) — partial-aggregable, no window), so a
    * class's candidate rows never concentrate on one reducer sort,
    * but a label covering half the corpus would make the join
    * quadratic. That degenerate labeling is ENFORCED, not just
    * documented (the lshCandidatePairs maxBucket stance): a bounded
    * pre-flight — one partial-aggregable count-per-label over the
    * corpus, semi-joined to the distinct anchor labels — fails LOUDLY
    * when any anchor-touched class exceeds `maxClassSize`, so a
    * mislabeled 100 TB job dies in the pre-flight scan instead of
    * hours into a quadratic join. Labels no anchor touches are
    * exempt (they never enter the positives join). Pass
    * `maxClassSize = Long.MaxValue` to skip the pre-flight when the
    * labeling is known-bounded. Anchors with NO same-label partner
    * produce no triplets (inner join; singleton classes have nothing
    * to learn from).
    *
    * All scoring is the exact integer int8 cosine ([[quantizeInt8]]
    * — scales cancel per pair), so probe x115 mirrors positives,
    * exclusions, mining and both rank rules engine-for-engine.
    * Returns (qIdCol, pos_id, pos_sim, neg_id, neg_sim, neg_rank). */
  def mineTriplets(anchors: DataFrame, labeled: DataFrame, path: String,
                   negK: Int, nprobe: Int,
                   qIdCol: String = "q_id", idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   labelCol: String = "label",
                   maxClassSize: Long = 1000000L): DataFrame = {
    require(negK >= 1 && nprobe >= 1)
    require(maxClassSize >= 1, s"maxClassSize must be >= 1: $maxClassSize")
    // degenerate-label pre-flight (see Scaladoc): bounded
    // count-per-label agg, restricted to labels anchors touch
    if (maxClassSize != Long.MaxValue) {
      val worst = labeled.groupBy(col(labelCol))
        .agg(count(lit(1)).as("_n"))
        .join(anchors.select(col(labelCol)).distinct(), Seq(labelCol),
          "left_semi")
        .agg(max(col("_n")).as("_w")).head()
      val w = if (worst.isNullAt(0)) 0L else worst.getLong(0)
      require(w <= maxClassSize,
        s"degenerate labeling: an anchor-touched class has $w corpus " +
          s"rows > maxClassSize=$maxClassSize — the positives join and " +
          s"the same-label exclusion are quadratic in class size; fix " +
          s"the labeling or raise maxClassSize deliberately")
    }
    // hardest positive: label-keyed equi-join of quantized anchors ×
    // quantized corpus, argmax as max(struct(sim, −id)) — the
    // partial-aggregable argmax contract (ties to the LOWER id)
    val qa = quantizeInt8(anchors, qIdCol, vecCol)
      .join(anchors.select(col(qIdCol), col(labelCol)), Seq(qIdCol))
    val qc = quantizeInt8(labeled, idCol, vecCol)
      .join(labeled.select(col(idCol), col(labelCol)), Seq(idCol))
    val positives = qa.select(col(qIdCol), col(labelCol),
        col("q_codes").as("_ac"))
      .join(qc.select(col(idCol), col(labelCol), col("q_codes")),
        Seq(labelCol))
      .where(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol),
        int8Cosine(col("q_codes"), col("_ac")).as("sim"))
      .groupBy(col(qIdCol))
      .agg(max(struct(col("sim"), (-col(idCol)).as("_nid"),
        col(idCol).as("_pid"))).as("_best"))
      .select(col(qIdCol), col("_best._pid").as("pos_id"),
        col("_best.sim").as("pos_sim"))
    // hardest negatives: the batch ANN join with every same-label
    // (anchor, candidate) pair excluded before the shortlist
    val sameLabel = anchors.select(col(qIdCol), col(labelCol))
      .join(labeled.select(col(idCol), col(labelCol)), Seq(labelCol))
      .select(col(qIdCol), col(idCol))
    val negatives = annJoinInt8FromIndex(
      anchors.select(col(qIdCol), col(vecCol)), path, k = negK,
      nprobe = nprobe, excludePairs = Some(sameLabel),
      qIdCol = qIdCol, idCol = idCol, vecCol = vecCol)
    positives.join(negatives, Seq(qIdCol))
      .select(col(qIdCol), col("pos_id"), col("pos_sim"),
        col(idCol).as("neg_id"), col("sim").as("neg_sim"),
        col("rank").as("neg_rank"))
  }

  /** Left-to-right accumulated Σ aᵢ·bᵢ as a native codegen'd Catalyst
    * expression (graft.expressions.DotProduct) — measured much faster
    * than the interpreted `aggregate(zip_with(...))` HOF form, with
    * identical accumulation order/semantics. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dotProduct(a, b)

  /** The HOF formulation, kept as the semantic reference for `dot`. */
  def dotHof(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
    lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k by cosine similarity against one query id. */
  def cosineTopK(embs: DataFrame, queryId: Long, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val target = embs.where(col(idCol) === queryId).select(col(vecCol).as("q"))
    embs.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(target))
      .withColumn("sim", cosine(col(vecCol), col("q")))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane weight in [-1, 1):
    * md5("graft_plane_<i>_<j>") → 24 bits → scaled. Recomputable in
    * SQL, identical on every executor. */
  def planeWeight(plane: Column, dim: Column): Column =
    (conv(substring(md5(concat(lit("graft_plane_"), plane.cast("string"),
      lit("_"), dim.cast("string"))), 1, 6), 16, 10)
      .cast("long") % 2001L - 1000L).cast("double") / 1000.0

  /** Sign-bit signature under `planes` hyperplanes, as a long bitmask.
    * Pure column expression: for each plane, dot(v, w_plane) > 0. */
  def hyperplaneSignature(vec: Column, planes: Int): Column = {
    require(planes <= 62)
    (0 until planes).map { p =>
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") * planeWeight(lit(p), j)),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Driver-side twin of `planeWeight`: the same md5 derivation
    * evaluated in Scala, so a known-dimension dataset can bake the
    * weights into the plan as literals (see
    * `hyperplaneSignatureFixed`). */
  def planeWeightValue(p: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"graft_plane_${p}_${j}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    ((java.lang.Long.parseLong(hex.substring(0, 6), 16) % 2001L) - 1000L)
      .toDouble / 1000.0
  }

  /** `hyperplaneSignature` for a known embedding dimension: plane
    * weights become literal arrays and each plane dot runs through the
    * codegen'd DotProduct kernel instead of the interpreted HOF fold —
    * same left-to-right accumulation, same bits, ~10x cheaper per row.
    * This is the signature path the 100 TB scan wants (the map-only
    * stage is pure whole-stage codegen). */
  def hyperplaneSignatureFixed(vec: Column, planes: Int, dim: Int): Column = {
    require(planes <= 62)
    (0 until planes).map { p =>
      val w = array((0 until dim).map(j => lit(planeWeightValue(p, j))): _*)
      when(dot(vec, w) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** LSH-bucketed near-duplicate PAIRS: vectors sharing any signature
    * band are candidates; exact cosine rerank keeps pairs above the
    * threshold. The all-pairs twin of `lshTopK` — at scale the
    * quadratic work is confined to same-bucket collisions. */
  def lshNearDupPairs(embs: DataFrame, threshold: Double,
                      planes: Int = 16, bands: Int = 4,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      dim: Option[Int] = None): DataFrame = {
    require(planes % bands == 0)
    val rowsPer = planes / bands
    val mask = (1L << rowsPer) - 1
    val sigExpr = dim.map(hyperplaneSignatureFixed(col(vecCol), planes, _))
      .getOrElse(hyperplaneSignature(col(vecCol), planes))
    val sig = embs.withColumn("sig", sigExpr)
    val banded = sig.withColumn("band", explode(array(
      (0 until bands).map(b =>
        struct(lit(b).as("band_idx"),
          (shiftright(col("sig"), b * rowsPer).bitwiseAND(mask)).as("band_val"))): _*)))
      .select(col(idCol), col(vecCol), col("band.band_idx"), col("band.band_val"))
    val l = banded.select(col("band_idx"), col("band_val"),
      col(idCol).as("id_a"), col(vecCol).as("va"))
    val r = banded.select(col("band_idx"), col("band_val"),
      col(idCol).as("id_b"), col(vecCol).as("vb"))
    l.join(r, Seq("band_idx", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "va", "vb").distinct()
      .withColumn("sim", cosine(col("va"), col("vb")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** LSH-bucketed approximate top-k: band the signature, join on
    * shared (band, value) buckets with the query, rerank candidates
    * exactly. Returns ≤ k rows (fewer if the buckets miss). */
  def lshTopK(embs: DataFrame, queryId: Long, k: Int,
              planes: Int = 16, bands: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              dim: Option[Int] = None): DataFrame = {
    require(planes % bands == 0)
    val rowsPer = planes / bands
    val mask = (1L << rowsPer) - 1
    val sigExpr = dim.map(hyperplaneSignatureFixed(col(vecCol), planes, _))
      .getOrElse(hyperplaneSignature(col(vecCol), planes))
    val sig = embs.withColumn("sig", sigExpr)
    val banded = sig.withColumn("band", explode(array(
      (0 until bands).map(b =>
        struct(lit(b).as("band_idx"),
          (shiftright(col("sig"), b * rowsPer).bitwiseAND(mask)).as("band_val"))): _*)))
      .select(col(idCol), col(vecCol), col("band.band_idx"), col("band.band_val"))
    val qb = banded.where(col(idCol) === queryId)
      .select(col("band_idx"), col("band_val"), col(vecCol).as("q"))
    banded.where(col(idCol) =!= queryId)
      .join(broadcast(qb), Seq("band_idx", "band_val"))
      .select(col(idCol), col(vecCol), col("q")).distinct()
      .withColumn("sim", cosine(col(vecCol), col("q")))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}

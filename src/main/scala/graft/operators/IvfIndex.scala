package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Stage

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer partitions the vectors into `nlist` cells; a query scans
  * only the `nprobe` nearest cells. The third similarity path next to
  * brute force (exact) and hyperplane LSH:
  *
  *   - build: one KMeans fit (seeded, deterministic) + one assign pass,
  *     output persisted as an ordinary (cell, vec_id, embedding) table
  *     — at 100 TB this is the partitioning/bucketing column, so a
  *     query touches nprobe/nlist of the data.
  *   - query: rank cells by centroid distance, brute-force rerank
  *     within the selected cells.
  */
object IvfIndex {

  private val toVec = udf((a: Seq[Float]) =>
    Vectors.dense(a.map(_.toDouble).toArray))

  /** Fit the coarse quantizer and assign every vector to its cell. */
  def build(embs: DataFrame, nlist: Int, seed: Long = 42,
            idCol: String = "vec_id", vecCol: String = "embedding"):
      (KMeansModel, DataFrame) = {
    val featured = embs.withColumn("features", toVec(col(vecCol)))
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(featured)
    val assigned = model.transform(featured)
      .select(col(idCol), col(vecCol), col("cell"))
    (model, assigned)
  }

  // ---------------------------------------------------------------------
  // Deterministic quantizer path: md5-hash init cells → one Lloyd mean
  // step (centroids rounded to 6 decimals so partial-agg sum orders
  // can't flip them) → argmin re-assignment. Every step is a plain
  // relational plan, so an independent SQL engine can mirror the whole
  // index build and certify the IVF query machinery (cell ranking,
  // nprobe pruning, exact rerank) end-to-end — the KMeans quantizer
  // above keeps the same query path but trades mirrorability for
  // better cells.
  // ---------------------------------------------------------------------

  /** Deterministic data-independent initial cells: md5(vec_id) % nlist. */
  def hashCells(embs: DataFrame, nlist: Int,
                idCol: String = "vec_id"): DataFrame =
    embs.withColumn("cell0",
      conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10)
        .cast("long") % nlist)

  /** One Lloyd step: per-cell per-dimension mean, rounded to 6
    * decimals. Output (cell, centroid: array<double>). */
  def meanCentroids(withCells: DataFrame, cellCol: String = "cell0",
                    vecCol: String = "embedding"): DataFrame =
    withCells
      .select(col(cellCol).as("cell"), posexplode(col(vecCol)).as(Seq("j", "x")))
      .groupBy("cell", "j")
      .agg(round(avg(col("x").cast("double")), 6).as("cx"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cx")))),
        s => s("cx")).as("centroid"))

  /** Squared euclidean distance via three dot products, rounded to 6
    * decimals so cross-engine float-order noise can't flip an argmin
    * (exact ties then break on the smaller cell id). */
  private[graft] def sqDist(v: Column, c: Column): Column =
    round(Similarity.dot(v, v) - lit(2.0) * Similarity.dot(v, c) +
      Similarity.dot(c, c), 6)

  /** Assign every vector to its nearest centroid. Argmin as
    * min(struct(dist, cell, vec)): lexicographic struct order = min
    * distance, ties to the lower cell — the same contract as a
    * row_number window but PARTIAL-AGGREGABLE (map-side combine per
    * id, no per-id sort), the shape that survives corpus × nlist rows
    * at 100 TB. The vector rides in the struct's never-compared tail
    * slot ((dist, cell) is unique per id), avoiding a join-back. */
  def assign(embs: DataFrame, centroids: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embs.crossJoin(broadcast(centroids))
      .withColumn("dist", sqDist(col(vecCol), col("centroid")))
      .groupBy(col(idCol))
      .agg(min(struct(col("dist"), col("cell"), col(vecCol))).as("_best"))
      .select(col(idCol), col(s"_best.$vecCol").as(vecCol),
        col("_best.cell").as("cell"))

  /** FULL deterministic Lloyd: `rounds` alternations of
    * mean-centroids / argmin re-assignment from the md5-hash init —
    * the real k-means the one-step quantizer above approximates, with
    * every round engine-mirrorable (round-6 centroid means, round-6
    * argmin distances with ties to the lower cell — the x23/x73
    * machinery iterated; a SQL oracle unrolls rounds CTE-for-CTE,
    * the trained-trajectory certification pattern of the x81 GD and
    * x85 power-iteration heads). This is the clustering a
    * SemDeDup/D4-style curation stack actually runs before
    * per-cluster dedup/balancing.
    *
    * Scale shape per round: ONE broadcast of the nlist-row centroid
    * table + the partial-aggregable min(struct) argmin over
    * corpus × nlist rows + one bounded (cell, dim) aggregation —
    * nothing corpus-sized ever sorts or windows, and the loop count
    * is a constant. Each round's centroid table (bounded, ≤ nlist
    * rows) is truncated so downstream lineage does not replay prior
    * rounds' corpus passes.
    *
    * A cell that loses every member simply drops out of the next
    * centroid table (k can shrink — the standard behavior of Lloyd
    * without re-seeding, preserved for mirrorability). Returns
    * (centroids, assigned): `(cell, centroid)` + `(idCol, vecCol,
    * cell)`. `rounds = 1` is exactly `meanCentroids(hashCells) ∘
    * assign`. */
  def lloydIterate(embs: DataFrame, nlist: Int, rounds: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(nlist >= 1, s"nlist must be positive: $nlist")
    require(rounds >= 1, s"rounds must be positive: $rounds")
    var cents = Stage.truncate(meanCentroids(hashCells(embs, nlist, idCol), "cell0", vecCol))
    var assigned = assign(embs, cents, idCol, vecCol)
    var r = 1
    while (r < rounds) {
      cents = Stage.truncate(meanCentroids(assigned, "cell", vecCol))
      assigned = assign(embs, cents, idCol, vecCol)
      r += 1
    }
    (cents, assigned)
  }

  /** IVF top-k with the deterministic quantizer, fully DataFrame-native:
    * rank cells by centroid distance to the query, keep nprobe, exact
    * cosine rerank inside them. Same query semantics as `topK`. */
  def topKDeterministic(embs: DataFrame, queryId: Long, k: Int,
                        nlist: Int, nprobe: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val cents = meanCentroids(hashCells(embs, nlist, idCol), "cell0", vecCol)
    val assigned = assign(embs, cents, idCol, vecCol)
    val q = embs.where(col(idCol) === queryId).select(col(vecCol).as("q"))
    // nlist rows: the single-partition window is the point (tiny side)
    val cellRank = Window.orderBy(col("qdist").asc, col("cell").asc)
    val probeCells = cents.crossJoin(broadcast(q))
      .withColumn("qdist", sqDist(col("q"), col("centroid")))
      .withColumn("rn", row_number().over(cellRank))
      .where(col("rn") <= nprobe)
      .select("cell")
    assigned.join(broadcast(probeCells), "cell")
      .where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("sim", Similarity.cosine(col(vecCol), col("q")))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // On-disk index: at rest the index IS the partitioning. Vectors are
  // written partitioned by cell, so the nprobe cell selection of a
  // query becomes a file-level PARTITION FILTER — a 100 TB corpus at
  // nlist=1024, nprobe=8 physically reads ~0.8% of the data. The
  // centroid table (nlist rows) rides alongside and is broadcast at
  // query time.
  // ---------------------------------------------------------------------

  /** Persist an index: `<path>/vectors/cell=N/...` + `<path>/centroids`. */
  def writeIndex(assigned: DataFrame, centroids: DataFrame, path: String): Unit = {
    assigned.write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/vectors")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Top-k against an on-disk index for an explicit query vector: rank
    * the (tiny) centroid table, turn the nprobe nearest cells into a
    * partition-pruning filter on the vectors table, exact-rerank the
    * survivors. */
  def topKFromIndex(spark: SparkSession, path: String, query: Seq[Double],
                    k: Int, nprobe: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val qLit = array(query.map(lit): _*)
    val cells = spark.read.parquet(s"$path/centroids")
      .withColumn("qdist", sqDist(qLit, col("centroid")))
      .orderBy(col("qdist").asc, col("cell").asc)
      .limit(nprobe)
      .select(col("cell").cast("long")).collect().map(_.getLong(0))
    // literal IN-list on the partition column → PartitionFilters prune
    // directories before any file is opened
    val qF = array(query.map(v => lit(v.toFloat)): _*)
    spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(cells.toSeq: _*))
      .withColumn("sim", Similarity.cosine(col(vecCol), qF))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Approximate top-k by cosine for one query id: probe the nprobe
    * cells nearest (by euclidean centroid distance) to the query's
    * vector, exact-rerank inside them. */
  def topK(model: KMeansModel, assigned: DataFrame, queryId: Long,
           k: Int, nprobe: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val qRow = assigned.where(col(idCol) === queryId)
      .select(vecCol).head().getSeq[Float](0)
    val qVec = Vectors.dense(qRow.map(_.toDouble).toArray)
    val cells = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, Vectors.sqdist(c, qVec)) }
      .sortBy(_._2).take(nprobe).map(_._1)
    val target = assigned.where(col(idCol) === queryId)
      .select(col(vecCol).as("q"))
    assigned
      .where(col("cell").isin(cells.toSeq: _*) && col(idCol) =!= queryId)
      .crossJoin(broadcast(target))
      .withColumn("sim", Similarity.cosine(col(vecCol), col("q")))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent near-duplicate CLUSTER IDENTITY, updated incrementally —
  * the at-rest registry that turns the pair/ingest machinery (x06 LSH
  * candidates, x32 incremental near-dups, x105 connected components)
  * into durable state a recurring 100 TB pipeline can use: every
  * document carries a stable cluster id (= the minimum doc id of its
  * connected component), batches of new documents are ingested
  * O(batch), and a batch that BRIDGES two existing clusters merges
  * them WITHOUT rewriting either cluster's rows — union-find's
  * "pointer" move, expressed as an append-only ALIAS relation.
  *
  * Why this exists: one-shot `nearDupGroupsDF` answers "what are the
  * clusters of THIS corpus" but a daily ingest would re-run it over
  * the whole edge history. The registry persists the answer and pays
  * per ingest only:
  *   - a label LOOKUP for the corpus endpoints the batch's candidate
  *     edges touch — a partition-PRUNED scan (labels are bucketed by
  *     `lb = pmod(hash(id), n_buckets)`; the touched buckets travel as
  *     a partition filter), never a corpus-wide join;
  *   - the log-round hop+jump components of the MINI-graph: batch ids
  *     plus the touched clusters' canonical labels as supernodes —
  *     O(batch edges), independent of corpus size;
  *   - ≤ |batch| new label rows and ≤ |merged clusters| alias rows,
  *     committed together under the family's crash-atomic protocol
  *     ([[Compaction.appendWithMarker]]).
  *
  * Correctness invariant (spec- and oracle-pinned, probe x133):
  * after any sequence of ingests, [[readLabels]] equals the
  * from-scratch min-label connected components of the UNION of all
  * edges ever presented. The argument is union-find with union-by-min:
  * canonical labels only ever DECREASE (a merge's new label is the min
  * over member ids and labels), so the alias relation is a strictly
  * decreasing pointer forest — resolution (log-round pointer jumping
  * over the alias table alone, ≪ corpus) terminates at the global
  * component minimum.
  *
  * Replay semantics: labels and aliases are NOT idempotent under
  * re-landing (a replayed batch would duplicate label rows and could
  * re-alias through stale canonicals) — the `doneMarker` guards
  * values, the Count-Min side of the family contrast.
  *
  * Layout under `path`:
  *   labels/   (id, label, lb) partitioned by lb — one row per
  *             ingested doc, written once at its ingest, never updated
  *   aliases/  (old_label, new_label) — one row per cluster merge;
  *             new_label < old_label always
  *   meta/     (n_buckets, id_col)
  */
object ClusterRegistry {

  private def emptyAliases(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("old_label", "new_label").repartition(1)
  }

  /** Build the registry from an initial labeling — the (idCol,
    * group_id) shape [[Dedup.nearDupGroupsDF]] returns. */
  def write(labels: DataFrame, path: String, idCol: String = "doc_id",
            labelCol: String = "group_id", nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val spark = labels.sparkSession
    import spark.implicits._
    labels.select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("label"))
      .withColumn("lb", pmod(hash(col("id")), lit(nBuckets)))
      .write.partitionBy("lb").mode("overwrite").parquet(s"$path/labels")
    emptyAliases(spark).write.mode("overwrite").parquet(s"$path/aliases")
    Seq((nBuckets, idCol)).toDF("n_buckets", "id_col")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private def registryMeta(spark: SparkSession,
                           path: String): (Int, String) = {
    val r = spark.read.parquet(s"$path/meta")
      .select("n_buckets", "id_col").head()
    (r.getInt(0), r.getString(1))
  }

  /** The alias relation resolved to its transitive targets —
    * (old_label, canonical). Log-round pointer jumping over the alias
    * table ALONE (one row per historical merge — ≪ corpus); chains
    * are strictly decreasing so this terminates. */
  def resolvedAliases(spark: SparkSession, path: String,
                      maxRounds: Int = 50): DataFrame = {
    var a = spark.read.parquet(s"$path/aliases")
      .select(col("old_label"), col("new_label")).localCheckpoint()
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val jumped = a.as("x")
        .join(a.as("y"), col("x.new_label") === col("y.old_label"), "left")
        .select(col("x.old_label").as("old_label"),
          coalesce(col("y.new_label"), col("x.new_label")).as("new_label"),
          (col("y.new_label").isNotNull).as("moved"))
        .localCheckpoint()
      done = jumped.where(col("moved")).isEmpty
      a = jumped.select("old_label", "new_label")
      round += 1
    }
    require(done,
      s"alias resolution did not converge in $maxRounds rounds — " +
        "the alias forest is corrupt (a cycle means a merge INCREASED " +
        "a label, which write paths never do)")
    a
  }

  /** Every ingested document's CANONICAL cluster id — the persisted
    * labels resolved through the alias relation. One corpus-labels
    * scan + one join against the small resolved-alias side. */
  def readLabels(spark: SparkSession, path: String): DataFrame = {
    val (_, idCol) = registryMeta(spark, path)
    spark.read.parquet(s"$path/labels")
      .join(broadcast(resolvedAliases(spark, path)),
        col("label") === col("old_label"), "left")
      .select(col("id").as(idCol),
        coalesce(col("new_label"), col("label")).as("cluster_id"))
  }

  /** Canonical labels for a bounded id set — the O(batch) lookup: the
    * ids' hash buckets travel as a PARTITION filter on the labels
    * scan (plan-gated in ClusterRegistrySpec), so only the touched
    * bucket directories are listed or read. */
  def lookupLabels(spark: SparkSession, path: String,
                   ids: DataFrame): DataFrame = {
    val (nBuckets, _) = registryMeta(spark, path)
    val idsL = ids.select(col(ids.columns.head).cast("long").as("id"))
    val buckets = idsL
      .select(pmod(hash(col("id")), lit(nBuckets)).as("lb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    spark.read.parquet(s"$path/labels")
      .where(col("lb").isin(buckets: _*))
      .join(idsL, Seq("id"), "left_semi")
      .join(broadcast(resolvedAliases(spark, path)),
        col("label") === col("old_label"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("label")).as("label"))
  }

  /** Ingest one batch: `batchIds` are the new documents (never seen
    * before — the registry's disjoint-batch contract), `edges` the
    * candidate near-dup pairs INCIDENT to the batch (batch↔batch and
    * batch↔corpus, e.g. from [[Dedup.incrementalNearDups]]). Appends
    * ≤ |batch| label rows and ≤ |merged clusters| alias rows in one
    * crash-atomic marked commit. Batch docs with no edges become
    * singleton clusters (their own id). */
  def ingestBatch(batchIds: DataFrame, edges: DataFrame, path: String,
                  doneMarker: Option[String] = None,
                  aCol: String = "id_a", bCol: String = "id_b"): Unit = {
    val spark = batchIds.sparkSession
    Compaction.appendWithMarker(spark, path, doneMarker) { staging =>
      val (nBuckets, _) = registryMeta(spark, path)
      val bset = batchIds
        .select(col(batchIds.columns.head).cast("long").as("id"))
        .distinct().localCheckpoint()
      val e = edges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b")).distinct().localCheckpoint()
      val endpoints = e.select(col("a").as("id"))
        .union(e.select(col("b").as("id"))).distinct()
      val touched = endpoints.join(bset, Seq("id"), "left_anti")
      val corpusLabels = lookupLabels(spark, path, touched)
        .localCheckpoint()
      val missing = touched.join(corpusLabels, Seq("id"), "left_anti")
      require(missing.isEmpty,
        "ingest edges touch corpus ids the registry has never seen: " +
          missing.take(5).map(_.getLong(0)).mkString(", ") +
          " — every non-batch edge endpoint must already carry a label")
      // the mini-graph: batch ids as themselves, corpus endpoints as
      // their clusters' canonical labels (supernodes)
      val m = bset.select(col("id"), col("id").as("node"))
        .union(corpusLabels.select(col("id"), col("label").as("node")))
      val miniE = e
        .join(m.select(col("id").as("a"), col("node").as("na")), Seq("a"))
        .join(m.select(col("id").as("b"), col("node").as("nb")), Seq("b"))
        .where(col("na") =!= col("nb"))
        .select(col("na").as("id_a"), col("nb").as("id_b"))
      val miniNodes = bset.select(col("id"))
        .union(corpusLabels.select(col("label").as("id"))).distinct()
      val groups = Dedup.nearDupGroupsDF(miniE, miniNodes, "id")
        .select(col("id"), col("group_id")).localCheckpoint()
      groups.join(bset, Seq("id"))
        .select(col("id"), col("group_id").as("label"))
        .withColumn("lb", pmod(hash(col("id")), lit(nBuckets)))
        .write.partitionBy("lb").mode("overwrite")
        .parquet(s"$staging/labels")
      val aliasRows = groups
        .join(corpusLabels.select(col("label").as("id")).distinct(), Seq("id"))
        .where(col("group_id") =!= col("id"))
        .select(col("id").as("old_label"), col("group_id").as("new_label"))
      // repartition(1) keeps the empty-merge case a readable parquet
      // file (a zero-task write would leave aliases/ schema-less)
      aliasRows.repartition(1).write.mode("overwrite")
        .parquet(s"$staging/aliases")
    }
  }

  /** The KEEPER decision on the registry — the NeMo-Curator
    * fuzzy-dedup rule ([[Dedup.nearDupKeepBest]]) against the
    * PERSISTED clusters: per canonical cluster, keep the
    * highest-`qualityCol` member, ties to the smallest id. `quality`
    * is any (id, quality) relation the pipeline already maintains
    * (lengths, an x02 score, an x81 head, an x43 LM score) — at
    * 100 TB itself an at-rest table, so this is one table⋈table join
    * keyed on the id plus one partial-aggregable `max(struct)` per
    * cluster: the mega-cluster collapses map-side, nothing windows
    * or sorts corpus-wide. Returns (cluster_id, keeper_id,
    * keeper_quality, n_members). Docs missing from `quality` rank
    * below every scored member (null quality loses, ties fall to the
    * id). */
  def keepers(spark: SparkSession, path: String, quality: DataFrame,
              idCol: String = "doc_id",
              qualityCol: String = "quality"): DataFrame = {
    val (_, regIdCol) = registryMeta(spark, path)
    val q = quality.select(col(idCol).cast("long").as("__kid"),
      col(qualityCol).cast("double").as("__kq"))
    readLabels(spark, path)
      .join(q, col(regIdCol) === col("__kid"), "left")
      .groupBy(col("cluster_id"))
      .agg(max(struct(
          coalesce(col("__kq"), lit(Double.NegativeInfinity)).as("q"),
          (-col(regIdCol)).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("best.nid")).as("keeper_id"),
        col("best.q").as("keeper_quality"), col("n_members"))
  }

  /** Fold the alias relation into the label rows (compaction): labels
    * are rewritten with their canonical values (one file per bucket,
    * layout preserved), then the alias dir collapses to empty. Crash
    * between the two swaps is safe: resolving already-resolved labels
    * through the stale aliases is a no-op (the old labels no longer
    * appear on any row). Both swaps go through [[Compaction]], so a
    * crashed ingest's staging refuses the compaction before any label
    * is rewritten. */
  def compact(spark: SparkSession, path: String): Unit = {
    Compaction.compactPartitionedValueDir(spark, s"$path/labels", Seq("lb")) {
      spark.read.parquet(s"$path/labels")
        .join(broadcast(resolvedAliases(spark, path)),
          col("label") === col("old_label"), "left")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"),
          col("lb"))
    }
    Compaction.compactValueDir(spark, s"$path/aliases")(
      emptyAliases(spark))
  }
}

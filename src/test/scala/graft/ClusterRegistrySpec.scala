package graft

import graft.operators.ClusterRegistry

/** The persistent incremental dedup-cluster registry: after any
  * sequence of ingests, readLabels equals the from-scratch min-label
  * connected components of the union of all edges ever presented —
  * including ingests that BRIDGE existing clusters (alias merges) and
  * multi-step alias chains; replays are marker-gated; compaction folds
  * aliases and is read-equivalent; the label lookup is partition-
  * pruned. */
class ClusterRegistrySpec extends SparkTestBase {

  import spark.implicits._

  private def idsDF(ids: Seq[Long]) = ids.toDF("doc_id")
  private def edgesDF(es: Seq[(Long, Long)]) = es.toDF("id_a", "id_b")

  private def render(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("cluster_id")).toMap

  /** from-scratch truth: plain-Scala min-label components of the union
    * graph, independent of the DataFrame components code the registry
    * runs on each batch. */
  private def truth(all: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] =
    UnionFind.components(all, es)

  /** A registry seeded with the from-scratch labels of a first corpus. */
  private def writeSeed(all: Seq[Long], es: Seq[(Long, Long)], dir: String,
                        nBuckets: Int): Unit =
    ClusterRegistry.write(truth(all, es).toSeq.toDF("doc_id", "group_id"),
      dir, nBuckets = nBuckets)

  test("incremental ingests ≡ from-scratch components, including bridge " +
      "merges and multi-level alias chains") {
    val dir = java.nio.file.Files.createTempDirectory("creg").toString
    // initial corpus: three separate clusters {10,11}, {20,21}, {30,31}
    // plus singleton 40
    val initIds = Seq(10L, 11L, 20L, 21L, 30L, 31L, 40L)
    val initEdges = Seq((10L, 11L), (20L, 21L), (30L, 31L))
    writeSeed(initIds, initEdges, dir, nBuckets = 8)
    assert(render(ClusterRegistry.readLabels(spark, dir)) ===
      Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L,
        30L -> 30L, 31L -> 30L, 40L -> 40L))

    // batch 1: doc 50 bridges clusters 20 and 30 (merge: 30→20), doc
    // 51 is a singleton, doc 5 attaches to cluster 10 and RELABELS it
    // (5 < 10: the cluster's canonical must become 5 via an alias)
    val b1Ids = Seq(50L, 51L, 5L)
    val b1Edges = Seq((50L, 21L), (50L, 31L), (5L, 10L))
    ClusterRegistry.ingestBatch(idsDF(b1Ids), edgesDF(b1Edges), dir,
      Some("b1"))
    val afterB1 = render(ClusterRegistry.readLabels(spark, dir))
    val truthB1 = truth(initIds ++ b1Ids, initEdges ++ b1Edges)
    assert(afterB1 === truthB1)
    assert(afterB1(31L) === 20L && afterB1(50L) === 20L)
    assert(afterB1(10L) === 5L && afterB1(11L) === 5L)
    assert(afterB1(51L) === 51L)

    // batch 2: doc 1 bridges the merged {20,21,30,31,50} cluster with
    // {5,10,11} — canonical drops to 1, and resolving 30 must chase
    // the CHAIN 30→20→1 (and 10→5→1): the multi-level alias case
    val b2Ids = Seq(1L)
    val b2Edges = Seq((1L, 30L), (1L, 11L))
    ClusterRegistry.ingestBatch(idsDF(b2Ids), edgesDF(b2Edges), dir,
      Some("b2"))
    val allIds = initIds ++ b1Ids ++ b2Ids
    val allEdges = initEdges ++ b1Edges ++ b2Edges
    val afterB2 = render(ClusterRegistry.readLabels(spark, dir))
    assert(afterB2 === truth(allIds, allEdges))
    assert(Seq(30L, 31L, 20L, 21L, 50L, 10L, 11L, 5L, 1L)
      .forall(afterB2(_) == 1L))
    assert(afterB2(40L) === 40L && afterB2(51L) === 51L)

    // marked replay of batch 2: gated no-op (labels would duplicate
    // and aliases would re-land otherwise)
    val rowsBefore = spark.read.parquet(s"$dir/labels").count()
    ClusterRegistry.ingestBatch(idsDF(b2Ids), edgesDF(b2Edges), dir,
      Some("b2"))
    assert(spark.read.parquet(s"$dir/labels").count() === rowsBefore)
    assert(render(ClusterRegistry.readLabels(spark, dir)) === afterB2)

    // compaction folds the alias chains into the rows, read-equivalent,
    // and the registry stays ingestable afterwards
    ClusterRegistry.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/aliases").count() === 0L)
    assert(render(ClusterRegistry.readLabels(spark, dir)) === afterB2)
    ClusterRegistry.ingestBatch(idsDF(Seq(0L)), edgesDF(Seq((0L, 40L))),
      dir, Some("b3"))
    val afterB3 = render(ClusterRegistry.readLabels(spark, dir))
    assert(afterB3 === truth(allIds :+ 0L, allEdges :+ ((0L, 40L))))
    assert(afterB3(40L) === 0L)
  }

  test("keepers: per-cluster argmax quality, ties to the smallest id, " +
      "unscored docs lose to any scored member") {
    val dir = java.nio.file.Files.createTempDirectory("creg_keep").toString
    writeSeed(Seq(1L, 2L, 3L, 7L, 8L, 9L), Seq((1L, 2L), (2L, 3L), (7L, 8L)),
      dir, nBuckets = 4)
    // cluster {1,2,3}: 2 and 3 tie on quality 5.0 → keeper 2; cluster
    // {7,8}: 8 is unscored → keeper 7 despite lower id being absent;
    // singleton 9 keeps itself
    val quality = Seq((1L, 1.0), (2L, 5.0), (3L, 5.0), (7L, 0.5), (9L, 2.0))
      .toDF("doc_id", "quality")
    val got = ClusterRegistry.keepers(spark, dir, quality)
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Long]("n_members")))).toMap
    assert(got === Map(1L -> ((2L, 3L)), 7L -> ((7L, 2L)), 9L -> ((9L, 1L))))
  }

  test("an edge to an unknown corpus id is refused loudly") {
    val dir = java.nio.file.Files.createTempDirectory("creg_unk").toString
    ClusterRegistry.write(
      Seq((1L, 1L)).toDF("doc_id", "group_id"), dir, nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      ClusterRegistry.ingestBatch(idsDF(Seq(9L)),
        edgesDF(Seq((9L, 777L))), dir, Some("x"))
    }
    assert(e.getMessage.contains("777"))
  }

  test("plan gate: the ingest-time label lookup is partition-pruned to " +
      "the touched buckets") {
    val dir = java.nio.file.Files.createTempDirectory("creg_plan").toString
    ClusterRegistry.write(
      (0L until 256L).map(i => (i, i)).toDF("doc_id", "group_id"),
      dir, nBuckets = 16)
    val out = ClusterRegistry.lookupLabels(spark, dir, Seq(7L).toDF("id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lb#"),
      s"no partition filter on the labels scan:\n$plan")
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((7L, 7L)))
  }

  /** A registry over ids 0..k whose aliases/ holds `aliases` as
    * written, bypassing the ingest path's decreasing-label contract. */
  private def registryWithAliases(tag: String, k: Long,
                                  aliases: Seq[(Long, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"creg_$tag").toString
    ClusterRegistry.write((0L to k).map(i => (i, i)).toDF("doc_id", "group_id"),
      dir, nBuckets = 4)
    aliases.toDF("old_label", "new_label").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/aliases")
    dir
  }

  test("a cyclic alias relation fails resolution as a corrupt forest") {
    val dir = registryWithAliases("cycle", 3L, Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val e = intercept[IllegalArgumentException] {
      ClusterRegistry.readLabels(spark, dir).collect()
    }
    assert(e.getMessage.contains("the alias forest is corrupt"), e.getMessage)
  }

  test("job guard: alias resolution runs no job beyond its checkpoints") {
    // the chain k → k-1 → … → 0 resolves in ~log2(k) + 1 jumping rounds
    val k = 16L
    val dir = registryWithAliases("chain", k, (1L to k).map(i => (i, i - 1)))
    val (resolved, window, executions) =
      jobsBetweenMarks(ClusterRegistry.resolvedAliases(spark, dir))
    val ran = window.flatMap(j => Option(j._2)).distinct
      .map(id => executions.getOrElse(id, s"execution $id"))
    assert(ran.nonEmpty && ran.forall(_.startsWith("localCheckpoint")),
      s"resolution ran a job outside its checkpoints: $ran")
    // outside any SQL execution: at most the alias table's schema read
    assert(window.count(_._2 == null) <= 1, s"untracked jobs: $window")
    val rounds = ran.size - 1 // the first checkpoint holds the raw aliases
    assert(rounds >= 2 && rounds <= 6, s"a $k-level chain took $rounds rounds")
    assert(resolved.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (1L to k).map(_ -> 0L).toMap)
  }

  test("a 4096-level alias chain resolves with a bounded plan size estimate") {
    // each round self-joins the last checkpoint; an estimate carried
    // across rounds would square per round and stall planning
    val k = 4096L
    val dir = registryWithAliases("deep", k, (1L to k).map(i => (i, i - 1)))
    val resolved = ClusterRegistry.resolvedAliases(spark, dir)
    assert(resolved.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 256)
    assert(resolved.where($"new_label" =!= 0L).isEmpty)
    assert(resolved.count() === k)
  }

  test("randomized equivalence: 30 docs, arbitrary edges, three ingest " +
      "waves ≡ from-scratch") {
    // deterministic 'random' graph: edge (i, j) when (i*31 + j*17) % 7
    // == 0 over i<j in 0..29 — a messy mix of chains, triangles and
    // isolated nodes; waves split by id % 3 (wave k may only reference
    // ids from waves ≤ k, so filter edges accordingly)
    val all = (0L until 30L).toSeq
    val edges = for {
      i <- all; j <- all if i < j && (i * 31 + j * 17) % 7 == 0
    } yield (i, j)
    def wave(id: Long) = (id % 3).toInt
    val dir = java.nio.file.Files.createTempDirectory("creg_rand").toString
    val w0 = all.filter(wave(_) == 0)
    val e0 = edges.filter { case (a, b) => wave(a) == 0 && wave(b) == 0 }
    writeSeed(w0, e0, dir, nBuckets = 8)
    var seenIds = w0
    var seenEdges = e0
    for (k <- 1 to 2) {
      val wk = all.filter(wave(_) == k)
      val ek = edges.filter { case (a, b) =>
        (wave(a) == k && wave(b) <= k) || (wave(b) == k && wave(a) <= k) }
      ClusterRegistry.ingestBatch(idsDF(wk), edgesDF(ek), dir, Some(s"w$k"))
      seenIds ++= wk
      seenEdges ++= ek
      assert(render(ClusterRegistry.readLabels(spark, dir)) ===
        truth(seenIds, seenEdges), s"diverged after wave $k")
    }
  }
}

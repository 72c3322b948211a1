package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{ClusterRegistry, Dedup}

/** Both connected-components label loops against the plain-Scala
  * union-find oracle, under every combination of 1 vs 7 shuffle
  * partitions and AQE on vs off: `Dedup.nearDupGroupsDFWithRounds`
  * and a registry seeded from one wave and grown by two ingests (alias
  * merges, then alias chains through `resolvedAliases`). Labels must
  * equal the oracle's and the round count must not depend on the
  * configuration. Empty edge lists and empty id sets are in the matrix:
  * each loop reads its convergence from an observation on the round's
  * checkpoint, which must report even when that table is empty. */
class ComponentsMatrixSpec extends SparkTestBase {

  // a messy mix of triangles, stars and isolated ids from a fixed edge
  // rule, plus a 9-vertex path (several hop+jump rounds)
  private val ids: Seq[Long] = 0L until 40L
  private val edges: Seq[(Long, Long)] =
    (for { i <- 0L until 30L; j <- 0L until 30L if i < j && (i * 31 + j * 17) % 11 == 0 }
      yield (i, j)) ++ (30L until 38L).map(i => (i, i + 1))

  private def wave(id: Long) = (id % 3).toInt

  private def run(s: SparkSession, es: Seq[(Long, Long)],
                  vs: Seq[Long]): (Map[Long, Long], Int) = {
    import s.implicits._
    val (groups, rounds) = Dedup.nearDupGroupsDFWithRounds(
      es.toDF("id_a", "id_b"), vs.toDF("doc_id"))
    (groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  private lazy val referenceRounds = run(spark, edges, ids)._2

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  for (parts <- Seq(1, 7); aqe <- Seq(true, false)) {
    def session() = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      s
    }

    test(s"hop+jump components == union-find: partitions=$parts aqe=$aqe") {
      val s = session()
      val (got, rounds) = run(s, edges, ids)
      assert(got === UnionFind.components(ids, edges))
      assert(rounds === referenceRounds)
      assert(rounds >= 3, s"the path should take several rounds, took $rounds")
      assert(run(s, Nil, ids) === ((ids.map(i => i -> i).toMap, 1)))
      assert(run(s, Nil, Nil) === ((Map.empty[Long, Long], 1)))
    }

    test(s"registry waves == union-find: partitions=$parts aqe=$aqe") {
      val s = session()
      import s.implicits._
      val dir = Files.createTempDirectory(s"graft_ccmat_p${parts}_$aqe").toString
      val w0 = ids.filter(wave(_) == 0)
      val e0 = edges.filter { case (a, b) => wave(a) == 0 && wave(b) == 0 }
      ClusterRegistry.write(UnionFind.components(w0, e0).toSeq.toDF("doc_id", "group_id"),
        dir, nBuckets = 8)
      var (seenIds, seenEdges) = (w0, e0)
      for (k <- 1 to 2) {
        val wk = ids.filter(wave(_) == k)
        val ek = edges.filter { case (a, b) =>
          (wave(a) == k && wave(b) <= k) || (wave(b) == k && wave(a) <= k) }
        ClusterRegistry.ingestBatch(wk.toDF("doc_id"), ek.toDF("id_a", "id_b"), dir,
          Some(s"w$k"))
        seenIds ++= wk
        seenEdges ++= ek
        assert(labels(ClusterRegistry.readLabels(s, dir)) ===
          UnionFind.components(seenIds, seenEdges), s"diverged after wave $k")
      }
      assert(s.read.parquet(s"$dir/aliases").count() > 0, "the waves should merge clusters")
      // a batch with no edges lands as singletons
      ClusterRegistry.ingestBatch(Seq(100L, 101L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"), dir, Some("w3"))
      assert(labels(ClusterRegistry.readLabels(s, dir)) ===
        UnionFind.components(seenIds ++ Seq(100L, 101L), seenEdges))
    }
  }

  test("a 4097-vertex path takes 12+ rounds with a bounded plan size estimate") {
    // each round joins the last checkpoints; an estimate carried across
    // rounds would multiply per join and stall planning on deep components
    import spark.implicits._
    val n = 4096L
    val (groups, rounds) = Dedup.nearDupGroupsDFWithRounds(
      (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b"), (0L to n).toDF("doc_id"))
    assert(rounds >= 12, s"the path took $rounds rounds")
    assert(groups.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 256)
    assert(groups.where($"group_id" =!= 0L).isEmpty)
    assert(groups.count() === n + 1)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ClusterRegistry, IvfIndex, Ranking}
import graft.sources.Tables

/** The loops that read their own truncations round over round — the
  * IVF k-means rounds, the MMR greedy rounds and a cluster-registry
  * ingest — under every combination of 1 vs 7 shuffle partitions and
  * AQE on vs off. Measured statistics can change join strategies from
  * one configuration to the next; the outputs must not change. */
class TruncationMatrixSpec extends SparkTestBase {

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def kmeans(s: SparkSession): (Seq[Row], Seq[Row]) = {
    val (cents, assigned) =
      IvfIndex.lloydIterate(Tables.embeddings(s, sfDir), nlist = 8, rounds = 3)
    (sorted(cents), sorted(assigned.select("vec_id", "cell")))
  }

  // 12 queries × 25 candidates; codes from a fixed rule, so some
  // candidates are near-duplicates of each other
  private def mmr(s: SparkSession): Seq[Row] = {
    import s.implicits._
    val cands = for (q <- 0L until 12L; v <- 0L until 25L)
      yield (q, q * 100 + v, ((q * 7 + v * 13) % 29) / 29.0)
    val codes = for (q <- 0L until 12L; v <- 0L until 25L)
      yield (q * 100 + v, Seq(((v % 5) * 25).toByte, ((v % 3) * 40).toByte,
        (v * 3 % 7).toByte, (q % 4).toByte))
    sorted(Ranking.mmrSelect(cands.toDF("q_id", "vec_id", "rel"),
      codes.toDF("vec_id", "q_codes"), k = 5))
  }

  // a seeded registry grown by one batch whose edges merge corpus clusters
  private def ingest(s: SparkSession, tag: String): (Seq[Row], Seq[Row]) = {
    import s.implicits._
    val dir = Files.createTempDirectory(s"graft_truncmat_$tag").toString
    ClusterRegistry.write((0L until 30L).map(i => (i, i / 3 * 3)).toDF("doc_id", "group_id"),
      dir, nBuckets = 4)
    val edges = (30L until 40L).flatMap(b => Seq((b, (b - 30) * 3), (b, (b - 29) * 3 % 30)))
    ClusterRegistry.ingestBatch((30L until 45L).toDF("doc_id"), edges.toDF("id_a", "id_b"),
      dir, Some("b1"))
    (sorted(ClusterRegistry.readLabels(s, dir)), sorted(s.read.parquet(s"$dir/aliases")))
  }

  private lazy val reference = {
    GraftExtensions.register(spark)
    (kmeans(spark), mmr(spark), ingest(spark, "ref"))
  }

  for (parts <- Seq(1, 7); aqe <- Seq(true, false)) {
    def session() = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      GraftExtensions.register(s)
      s
    }

    test(s"k-means rounds, MMR rounds and a registry ingest: partitions=$parts aqe=$aqe") {
      val s = session()
      val (refKmeans, refMmr, refIngest) = reference
      assert(kmeans(s) === refKmeans)
      assert(mmr(s) === refMmr)
      val got = ingest(s, s"p${parts}_$aqe")
      assert(got === refIngest)
      assert(got._2.nonEmpty, "the batch should merge corpus clusters")
    }
  }
}

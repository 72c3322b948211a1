package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import graft.operators.{ClusterRegistry, CorpusArtifact, Dedup, HistogramSketch, IndexCache}
import graft.sources.Tables

/** Crash consistency of the at-rest families that commit through
  * [[graft.operators.Compaction]] outside the sketch specs: the
  * bucketed shingle index, the cleaned-corpus artifact, the cluster
  * registry, and the probe estates of [[IndexCache]]. A crash is
  * simulated by leaving the on-disk state a killed job leaves: a
  * marked append's staging directory plus one batch file already
  * moved into place under the `ap-<marker>__` prefix, or an estate
  * whose build died after its own marked append. */
class ArtifactCrashSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_crash_$tag").toString

  private def dataFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.toSeq

  /** relative path → content hash of every file under `dir`. */
  private def snapshot(dir: String): Map[String, Int] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => Paths.get(dir).relativize(p).toString ->
        java.util.Arrays.hashCode(Files.readAllBytes(p)))
      .toMap

  /** The state a marked append `mk` leaves when killed mid-move: its
    * staging dir, and `file` moved to `destDir` under the marker
    * prefix. */
  private def crashMidMove(root: String, mk: String, file: Path,
                           destDir: Path): Unit = {
    Files.createDirectories(Paths.get(root, s"_append_${mk}_staging"))
    Files.createDirectories(destDir)
    Files.move(file, destDir.resolve(s"ap-${mk}__${file.getFileName}"))
  }

  private def docs(): (DataFrame, DataFrame, DataFrame) = {
    GraftExtensions.register(spark)
    val all = Tables.documents(spark, sfDir).select("doc_id", "text")
    val train = all.where(col("doc_id") % 3 =!= 2)
    (train.where(col("doc_id") % 2 === 0), train.where(col("doc_id") % 2 === 1),
      all.where(col("doc_id") % 3 === 2)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
  }

  private def rows(table: String): Seq[(Long, Long)] =
    spark.table(table).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  /** A crashed marked append `b1` of `batch` into shingle index
    * `table` (location `loc`): one real bucket file of the batch
    * already moved into place. */
  private def crashShingleAppend(batch: DataFrame, table: String,
                                 loc: String, scratch: String): Unit = {
    Dedup.writeShingleIndex(batch, scratch, s"${table}_scratch", n = 3,
      buckets = 8)
    spark.sql(s"DROP TABLE ${table}_scratch")
    crashMidMove(loc, "b1", dataFiles(scratch).head, Paths.get(loc))
    spark.catalog.refreshTable(table)
  }

  test("shingle index: a retried marked append after a crash mid-move " +
      "equals a rebuild with the union") {
    val (a, b, eval) = docs()
    val dir = tmp("shidx")
    try {
      Dedup.writeShingleIndex(a, s"$dir/idx", "graft_crash_sh", n = 3,
        buckets = 8)
      val before = rows("graft_crash_sh").size
      crashShingleAppend(b, "graft_crash_sh", s"$dir/idx", s"$dir/scratch")
      assert(rows("graft_crash_sh").size > before,
        "sanity: the half-moved bucket file is visible")

      Dedup.appendToShingleIndex(b, "graft_crash_sh", doneMarker = Some("b1"))
      Dedup.writeShingleIndex(a.union(b), s"$dir/all", "graft_crash_sh_all",
        n = 3, buckets = 8)
      assert(rows("graft_crash_sh") === rows("graft_crash_sh_all"),
        "the retry must sweep the crashed attempt's file before re-landing")
      // the moved files keep their bucket ids behind the marker prefix
      val moved = dataFiles(s"$dir/idx").map(_.getFileName.toString)
        .filter(_.startsWith("ap-b1__"))
      assert(moved.nonEmpty)
      moved.foreach { n =>
        assert(BucketingUtils.getBucketId(n) ===
          BucketingUtils.getBucketId(n.stripPrefix("ap-b1__")))
        assert(BucketingUtils.getBucketId(n).isDefined, n)
      }
      // and the bucketed sweep over them counts no pair twice
      Dedup.writeShingleIndex(eval, s"$dir/ev", "graft_crash_sh_ev", n = 3,
        buckets = 8, outIdCol = "eval_id")
      def shared(t: String) = Dedup.contaminationFromShingleIndexes(
          Dedup.readShingleIndex(spark, t),
          Dedup.readShingleIndex(spark, "graft_crash_sh_ev"), minOverlap = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val sweep = shared("graft_crash_sh")
      assert(sweep.nonEmpty)
      assert(sweep === shared("graft_crash_sh_all"), "n_shared inflated")
      assert(!Files.exists(Paths.get(dir, "idx", "_append_b1_staging")))
      assert(Files.exists(Paths.get(dir, "idx", "_append_b1_ok")))
    } finally Seq("graft_crash_sh", "graft_crash_sh_all", "graft_crash_sh_ev")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("shingle index: compaction refuses while a crashed append's " +
      "staging exists and leaves the index untouched") {
    val (a, b, _) = docs()
    val dir = tmp("shcmp")
    try {
      Dedup.writeShingleIndex(a, s"$dir/idx", "graft_crash_shc", n = 3,
        buckets = 8)
      crashShingleAppend(b, "graft_crash_shc", s"$dir/idx", s"$dir/scratch")
      val files = snapshot(s"$dir/idx")
      val e = intercept[IllegalStateException] {
        Dedup.compactShingleIndex(spark, "graft_crash_shc")
      }
      assert(e.getMessage.contains("_append_b1_staging"))
      assert(snapshot(s"$dir/idx") === files)
    } finally spark.sql("DROP TABLE IF EXISTS graft_crash_shc")
  }

  test("corpus artifact: a retried marked append after a crash mid-move " +
      "equals a rebuild with the union") {
    val a = (1L to 20L).map(i => (i, s"doc $i.", i % 3 == 0))
      .toDF("doc_id", "text", "keep")
    val b = (21L to 30L).map(i => (i, s"doc $i.", i % 3 == 0))
      .toDF("doc_id", "text", "keep")
    val dir = tmp("art")
    try {
      CorpusArtifact.write(a, s"$dir/app", "graft_crash_art", nShards = 4)
      // the crashed attempt had registered its partitions (they are
      // added inside the stage) and moved one file into place
      b.withColumn("shard", CorpusArtifact.shardOf(col("doc_id"), 4))
        .write.partitionBy("keep", "shard").parquet(s"$dir/scratch")
      val f = dataFiles(s"$dir/scratch").head
      val rel = Paths.get(s"$dir/scratch").relativize(f.getParent)
      val Seq(keep, shard) = rel.iterator().asScala.map(_.toString
        .split("=")(1)).toSeq
      spark.sql("ALTER TABLE graft_crash_art ADD IF NOT EXISTS PARTITION " +
        s"(keep=$keep, shard=$shard)")
      crashMidMove(s"$dir/app", "b1", f, Paths.get(s"$dir/app").resolve(rel))
      spark.catalog.refreshTable("graft_crash_art")
      assert(spark.table("graft_crash_art").count() > 20L,
        "sanity: the half-moved file is visible")

      CorpusArtifact.append(b, s"$dir/app", "graft_crash_art",
        doneMarker = Some("b1"))
      CorpusArtifact.write(a.union(b), s"$dir/all", "graft_crash_art_all",
        nShards = 4)
      def snap(t: String) = spark.table(t)
        .select(col("doc_id"), col("text"), col("keep"),
          col("shard").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
          r.getLong(3))).toSeq.sortBy(_._1)
      assert(snap("graft_crash_art") === snap("graft_crash_art_all"),
        "the retry must sweep the crashed attempt's file before re-landing")
      // the marker landed: a replay is a no-op
      CorpusArtifact.append(b, s"$dir/app", "graft_crash_art",
        doneMarker = Some("b1"))
      assert(spark.table("graft_crash_art").count() === 30L)
    } finally Seq("graft_crash_art", "graft_crash_art_all")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("cluster registry: compaction refuses while a crashed ingest's " +
      "staging exists and leaves labels/ byte-identical") {
    val dir = tmp("creg")
    val ids = (1L to 12L).toDF("doc_id")
    val edges = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    ClusterRegistry.write(Dedup.nearDupGroupsDF(edges, ids)
      .select("doc_id", "group_id"), dir, nBuckets = 4)
    // a completed ingest that merges two clusters leaves an alias row,
    // so compaction has labels to rewrite
    ClusterRegistry.ingestBatch((13L to 13L).toDF("doc_id"),
      Seq((13L, 2L), (13L, 5L)).toDF("id_a", "id_b"), dir,
      doneMarker = Some("b0"))
    // a second ingest crashed mid-commit: staging left, one label file
    // already moved into its bucket directory
    Seq((14L, 14L, 0)).toDF("id", "label", "lb")
      .write.partitionBy("lb").parquet(s"$dir/scratch")
    val f = dataFiles(s"$dir/scratch").head
    crashMidMove(dir, "b1", f, Paths.get(dir, "labels", "lb=0"))
    val labels = snapshot(s"$dir/labels")
    val e = intercept[IllegalStateException] {
      ClusterRegistry.compact(spark, dir)
    }
    assert(e.getMessage.contains("_append_b1_staging"))
    assert(snapshot(s"$dir/labels") === labels,
      "labels were rewritten before the refusal")
  }

  test("IndexCache.built: a build that died after its marked append " +
      "reruns to full-corpus values") {
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("len"))
    val even = lens.where(col("doc_id") % 2 === 0)
    val odd = lens.where(col("doc_id") % 2 === 1)
    def build(dir: String): Unit = {
      HistogramSketch.writeSketch(even, "len", dir, lo = 0.0, hi = 4096.0)
      HistogramSketch.appendToSketch(odd, dir, doneMarker = Some("b1"))
    }
    def total(dir: String): Long =
      spark.read.parquet(s"$dir/bins").agg(sum("n")).head().getLong(0)
    val name = s"spec_crash_hist_${System.nanoTime()}"
    val died = IndexCache.dir(name)
    try {
      // the dead build: both steps landed, the estate marker did not;
      // rerun on top of it, the append would see its own old marker
      // and skip the odd half
      build(died)
      assert(Files.exists(Paths.get(died, "_append_b1_ok")))
      val dir = IndexCache.built(name)(build)
      assert(dir === died)
      assert(total(dir) === lens.where(col("len").isNotNull).count())
      // complete estates are reused, not rebuilt
      IndexCache.built(name)(_ => fail("a marked estate must not rebuild"))
    } finally {
      val p = new org.apache.hadoop.fs.Path(died)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }
}

package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Where probe estates live, and the build-once gate over them (x41/
  * x73/x100 family): one directory per estate under the JVM's
  * `java.io.tmpdir`, named by the caller with a VALUE-SENSITIVE corpus
  * fingerprint ([[corpusTag]]), a completion marker written only after
  * the whole build, and a per-(probe, dir) tag cache so repeat runs
  * skip even the fingerprint scan (measuring the pruned query path,
  * which is the at-rest consumer's reality).
  *
  * The fingerprint hashes the data CONTENT (sum of per-row
  * `hash(id, vector)` — order-independent), not just count+key-sum:
  * regenerated testdata with the same id set must never serve a stale
  * index. The marker gates every output of the build: parquet's own
  * `_SUCCESS` lands per-directory, so a crash between two writes would
  * otherwise leave a half-index that every later run trusts. An estate
  * without the marker is deleted before its build reruns, so a
  * half-built estate (say, one whose marked append already landed)
  * never leaks its leftovers into the rebuild. */
object IndexCache {
  private val tags = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Tag for (probeKey, dir): computed once per JVM per corpus dir.
    * ASSUMPTION (stated, not hidden): the data at `dir` is immutable
    * within one JVM — true for every bench/verify/test run, where the
    * corpus is read-only input. The fingerprint therefore protects
    * against CROSS-JVM staleness (regenerated testdata between runs);
    * a harness that rewrites data mid-JVM must call [[invalidate]]
    * first, or the cached tag will serve the pre-rewrite index. */
  def corpusTag(probeKey: String, dir: String, df: => DataFrame,
                cols: Seq[String]): String =
    tags.computeIfAbsent(s"$probeKey|$dir", { _ =>
      val d = df
      val r = d.agg(count(lit(1)),
        sum(hash(cols.map(col): _*).cast("long"))).collect()(0)
      s"${dir.replaceAll("[^A-Za-z0-9]", "_")}_${r.getLong(0)}_${r.getLong(1)}"
    })

  /** Drop all cached tags — for harnesses that rewrite corpus data
    * within one JVM (see the [[corpusTag]] assumption). */
  def invalidate(): Unit = { tags.clear(); counts.clear() }

  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** nlist for the SHARED batch-ANN probe indexes (x111's int8 dir,
    * x41/x112's IVF-PQ dir and every probe composed on them), derived
    * from corpus size: max(8, N/256). A FIXED nlist makes the honesty
    * runs quadratic by construction — query count grows with N and
    * each query scans nprobe/nlist of N — which would drown the very
    * regression signal those runs exist to produce; deriving it caps
    * per-query candidates at ~nprobe·256 rows at any scale. 8 at both
    * certified gate scales (N=500 → 8, N=2000 → 8), so every
    * certified oracle hash stands; the oracles derive the SAME value
    * in SQL — `GREATEST(8, COUNT(*) // 256)` — so certification holds
    * at EVERY scale, not just where the constant agrees. Cached per
    * corpus dir (same JVM-immutability assumption as [[corpusTag]]);
    * callers put the value in the index dir NAME so a regenerated
    * geometry can never serve a stale cached index. */
  def probeNlist(dir: String, df: => DataFrame): Int = {
    val n = counts.computeIfAbsent(s"embcount|$dir",
      _ => java.lang.Long.valueOf(df.count())).longValue()
    math.max(8L, n / 256L).toInt
  }

  private val Marker = "_graft_index_ok"

  /** The directory of estate `name`: `<java.io.tmpdir>/graft_<name>`.
    * Estates gated by a session's catalog table rather than by
    * [[built]] (the x42 shingle index, the x98 corpus artifact) take
    * their path from here. */
  def dir(name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid estate name: $name")
    s"${System.getProperty("java.io.tmpdir")}/graft_$name"
  }

  /** The directory of estate `name`, built once: unless it carries the
    * completion marker, the directory is deleted, `build(dir)` runs,
    * and the marker is written after it returns. The marker goes
    * through the Hadoop filesystem the build writes to. */
  def built(name: String)(build: String => Unit): String = {
    val d = dir(name)
    val root = new Path(d)
    val fs = root.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    val marker = new Path(root, Marker)
    if (!fs.exists(marker)) {
      fs.delete(root, true)
      build(d)
      fs.create(marker, true).close()
    }
    d
  }

  /** The x111 int8 IVF index over the embeddings (nlist from
    * [[probeNlist]]) that every batch-ANN probe composes on. */
  def annInt8Index(s: SparkSession, d: String): String = {
    val embs = Tables.embeddings(s, d)
    val tag = corpusTag("x111", d, embs, Seq("vec_id", "embedding"))
    val nlist = probeNlist(d, embs)
    built(s"x111_annjoin_${tag}_n$nlist")(
      Similarity.writeInt8Index(embs, _, nlist = nlist))
  }

  /** The x41 IVF-PQ index over the embeddings (m = 32, ksub = 16). */
  def annPqIndex(s: SparkSession, d: String): String = {
    val embs = Tables.embeddings(s, d)
    val tag = corpusTag("x41", d, embs, Seq("vec_id", "embedding"))
    val nlist = probeNlist(d, embs)
    built(s"x41_pq_index_${tag}_n$nlist")(
      PqIndex.writeIndex(embs, _, nlist = nlist, m = 32, ksub = 16, dim = 64))
  }

  /** The x130 document-length histogram: 256 bins over [0, 4096),
    * written from the even doc ids, the odd half marker-appended as
    * batch `b1`, plus a replay of that append that must no-op. */
  def lengthHistogram(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    val tag = corpusTag("x130", d, docs, Seq("doc_id", "text"))
    built(s"x130_hist_$tag") { dir =>
      val lens = docs.select(col("doc_id"), length(col("text")).as("len"))
      HistogramSketch.writeSketch(lens.where(col("doc_id") % 2 === 0),
        "len", dir, lo = 0.0, hi = 4096.0, nBins = 256)
      HistogramSketch.appendToSketch(lens.where(col("doc_id") % 2 === 1),
        dir, doneMarker = Some("b1"))
      HistogramSketch.appendToSketch(lens.where(col("doc_id") % 2 === 1),
        dir, doneMarker = Some("b1")) // replay — marker-gated no-op
    }
  }

  /** The x133 cluster registry over the chain graph doc_id ~ doc_id−1
    * (every 5th link cut): ids with doc_id % 3 ≠ 2 written first, the
    * rest ingested as batch `b1`, plus a replay that must no-op. */
  def clusterRegistry(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val tag = corpusTag("x133", d, docs, Seq("doc_id"))
    built(s"x133_creg_$tag") { dir =>
      val edges = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") > 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 1).as("id_b"))
      val initIds = docs.where(col("doc_id") % 3 =!= 2)
      val initEdges = edges
        .where(col("id_a") % 3 =!= 2 && col("id_b") % 3 =!= 2)
      ClusterRegistry.write(
        Dedup.nearDupGroupsDF(initEdges, initIds)
          .select(col("doc_id"), col("group_id")), dir, nBuckets = 16)
      val batch = docs.where(col("doc_id") % 3 === 2)
      val batchEdges = edges
        .where(col("id_a") % 3 === 2 || col("id_b") % 3 === 2)
      ClusterRegistry.ingestBatch(batch, batchEdges, dir,
        doneMarker = Some("b1"))
      ClusterRegistry.ingestBatch(batch, batchEdges, dir,
        doneMarker = Some("b1")) // replay — gated no-op
    }
  }
}

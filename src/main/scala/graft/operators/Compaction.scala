package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one commit path for every at-rest artifact: marked batch
  * appends ([[appendWithMarker]]) and compact-and-swap ([[swap]] and
  * its thin forms [[compactValueDir]], [[compactPartitionedValueDir]],
  * [[compactPartitionedDir]]). No other code knows the staging, marker
  * or swap names. The families on it:
  *   - sketches: Count-Min cells, Misra-Gries summaries, histogram bins
  *     (flat and grouped), HLL registers, bottom-k and stratified
  *     samples, keyed rollups;
  *   - indexes: int8 IVF codes, IVF-PQ vectors+codes, BM25
  *     postings+stats, constellation tokens+stats, the bucketed shingle
  *     index (`Dedup.appendToShingleIndex` / `compactShingleIndex`);
  *   - corpus state: the cleaned-corpus artifact (`CorpusArtifact`),
  *     the cluster registry (`ClusterRegistry`), the packed-stream
  *     ledger and the version manifest.
  *
  * Every O(batch) incremental append lands the batch as ADDITIONAL
  * files next to the existing ones — the right ingest-time trade (the
  * existing corpus is never read), but after thousands of
  * micro-batches each partition directory holds thousands of tiny
  * parquet files, and at 100 TB the scan's file-listing + per-file
  * open overhead starts to dominate the very partition pruning the
  * layout exists for. Compaction is the LSM-style maintenance pass
  * that pays one keyed rewrite to restore few-large-files reads:
  * VALUE-PRESERVING (rows are read as-is and rewritten — centroids,
  * codebooks, quantized codes, curation decisions and shard hashes
  * are never recomputed, so queries are bit-identical before/after),
  * layout-preserving (the same partition directories come back, so
  * `PartitionFilters` pruning and catalog partition registrations
  * survive), and O(artifact) with exactly one shuffle keyed on the
  * partition columns — each reducer holds whole partition values, so
  * every directory ends up with one file (plus `maxRecordsPerFile`
  * re-splits for jumbo cells).
  *
  * Crash stance: the rewrite lands in a `__compact_tmp` sibling and is
  * swapped in with two renames, so the artifact is never truncated
  * before its replacement is fully committed. A crash between the
  * renames leaves `dir` absent with BOTH `dir__compact_old` (the
  * original) and `dir__compact_tmp` (the complete rewrite) on disk —
  * rename either back to recover; a later compaction refuses to run
  * (loudly) until the leftover is cleared rather than guessing.
  * Top-level underscore metadata files at the compacted root (append
  * `_append_*_ok` replay markers, `_graft_nshards`) are carried across
  * the swap, so marker-gated replay semantics survive compaction.
  *
  * Concurrency stance: compaction and appends on one artifact must be
  * mutually excluded. Every compaction REFUSES loudly when a marked
  * `_append_<id>_staging` directory exists at the compacted directory
  * or its parent (the artifact root) — folding a crashed marked
  * append's partially-moved `ap-<id>__` files into unprefixed part
  * files would defeat that append's retry sweep and double-count every
  * SUM-merged artifact on redelivery. An UNMARKED `_appendtmp_staging`
  * leftover has no retry semantics (its contents were never committed),
  * so compaction and the next unmarked append delete it silently;
  * concurrent unmarked appends to one artifact are not supported.
  *
  * Filesystem requirement: every guarantee above rests on
  * `FileSystem.rename` being ATOMIC (and cheap). That holds for HDFS
  * and local/POSIX filesystems — the deployment targets — but NOT for
  * object stores whose Hadoop connectors emulate rename as
  * copy+delete (s3a, swift, oss, classic wasb): there a crash
  * mid-"rename" can leave both halves, and the two-rename swap is no
  * longer a safe swap. Running against such a scheme logs a loud
  * warning; point the artifact at HDFS/local (or an HDFS-semantics
  * layer such as a consistent rename-capable store) for the stated
  * crash guarantees.
  */
object Compaction {

  /** Schemes whose Hadoop connectors implement rename as
    * non-atomic copy+delete — the crash guarantees do not hold there. */
  private val nonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "swift", "oss", "cos", "wasb", "wasbs")

  private def warnIfNonAtomicRename(p: Path): Unit = {
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (nonAtomicRenameSchemes.contains(scheme.toLowerCase))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"artifact at $p lives on '$scheme', whose rename is " +
          "copy+delete (non-atomic): the append/compaction crash " +
          "guarantees documented on graft.operators.Compaction do NOT " +
          "hold — use HDFS/local or an atomic-rename store")
  }

  /** Name of the shared staging directory for UNMARKED appends —
    * deterministic so a crashed predecessor's leftover is found and
    * swept (by the next unmarked append or by compaction) instead of
    * leaking forever under a fresh random name. */
  private[operators] val unmarkedStaging = "_appendtmp_staging"

  private def isMarkedStaging(name: String): Boolean =
    name.startsWith("_append_") && name.endsWith("_staging")

  /** Pre-compaction gate: refuse on marked in-flight/crashed append
    * staging (its retry sweep is load-bearing), sweep unmarked
    * leftovers (garbage by construction — never committed, no retry). */
  private def checkNoInFlightAppends(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path): Unit = {
    val roots = (Option(dir.getParent).toSeq :+ dir).distinct
    roots.filter(fs.exists).foreach { d =>
      fs.listStatus(d).foreach { s =>
        val name = s.getPath.getName
        if (s.isDirectory && isMarkedStaging(name))
          throw new IllegalStateException(
            s"${s.getPath} is a marked append's staging directory — " +
              "that append is in flight or crashed mid-commit, and " +
              "compacting now would fold its partially-moved " +
              "prefixed files into unprefixed part files and defeat " +
              "the retry sweep (double-counting SUM-merged rows on " +
              "redelivery). Retry the append to completion (its " +
              "marker gates the replay) or delete the staging " +
              "directory AND its ap-<marker>__ files before compacting")
        if (s.isDirectory && name == unmarkedStaging)
          fs.delete(s.getPath, true) // unmarked: never committed, no retry
      }
    }
  }

  /** Marker-gated, CRASH-ATOMIC batch append — the one shared commit
    * protocol behind every at-rest artifact family (see the object
    * Scaladoc). `stage(stagingDir)`
    * writes the batch's output under `stagingDir` mirroring the
    * artifact layout (e.g. `$staging/cells`, `$staging/postings` with
    * the same partitionBy); the helper then moves every staged data
    * file into place under `root` and only afterwards creates the
    * replay marker.
    *
    * Replay semantics, per family: with `doneMarker` (e.g. the
    * micro-batch id) a replay after the marker landed is a NO-OP.
    * The window the naive append-then-mark protocol left open — a
    * crash between the data commit and the marker write re-lands the
    * batch on redelivery and double-counts every SUM-merged artifact —
    * is CLOSED here: moved files carry a marker-derived name prefix
    * (`ap-<marker>__`), a crash mid-commit leaves the staging
    * directory behind, and the retry first deletes every file wearing
    * that prefix before re-staging, so at-least-once redelivery lands
    * each marked batch exactly once. Without `doneMarker` there is no
    * replay guard (same files land twice — the documented failure
    * mode the artifact specs pin); concurrent appends under the SAME
    * marker id are not supported (they would race on one staging dir).
    *
    * The staging directory name starts with `_`, so a reader listing
    * the artifact mid-append never sees half a batch: files become
    * visible only through the per-file renames, each atomic, and a
    * SUM-merged read is only transiently short, never double.
    *
    * Unmarked appends stage under the shared deterministic
    * [[unmarkedStaging]] name; a leftover from a crashed unmarked
    * predecessor is swept here (it was never committed and has no
    * retry semantics), which is also why concurrent UNMARKED appends
    * to one artifact are not supported — serialize them or use
    * markers. */
  def appendWithMarker(spark: SparkSession, root: String,
                       doneMarker: Option[String])
                      (stage: String => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath0 = new Path(root)
    val fs = rootPath0.getFileSystem(conf)
    val rootPath = fs.makeQualified(rootPath0)
    warnIfNonAtomicRename(rootPath)
    val marker = doneMarker.map { mk =>
      require(mk.matches("[A-Za-z0-9._-]+"), s"invalid marker id: $mk")
      new Path(rootPath, s"_append_${mk}_ok")
    }
    val prefix = doneMarker.map(mk => s"ap-${mk}__")
    val staging = fs.makeQualified(new Path(rootPath, doneMarker match {
      case Some(mk) => s"_append_${mk}_staging"
      case None     => unmarkedStaging
    }))
    if (marker.exists(fs.exists)) { fs.delete(staging, true); return }
    if (fs.exists(staging)) {
      // a prior attempt died mid-commit (staging is only removed AFTER
      // the marker lands): sweep any files it already moved — they all
      // wear the marker prefix — then restage from scratch
      prefix.foreach { pre =>
        val it = fs.listFiles(rootPath, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.startsWith(pre) &&
              !f.getPath.toString.startsWith(staging.toString))
            fs.delete(f.getPath, false)
        }
      }
      fs.delete(staging, true)
    }
    stage(staging.toString)
    val base = staging.toString + "/"
    val it = fs.listFiles(staging, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val full = fs.makeQualified(f.getPath).toString
        require(full.startsWith(base), s"staged file $full escapes $base")
        val rel = full.substring(base.length)
        val destDir = rel.lastIndexOf('/') match {
          case -1 => rootPath
          case i  => new Path(rootPath, rel.substring(0, i))
        }
        fs.mkdirs(destDir)
        val dest = new Path(destDir, prefix.getOrElse("") + name)
        require(fs.rename(f.getPath, dest), s"could not move $full to $dest")
      }
    }
    marker.foreach(m => fs.create(m, true).close())
    fs.delete(staging, true)
  }

  /** Compact-and-swap for a FLAT (unpartitioned) artifact directory:
    * rewrite `dir` as `rewrite`'s rows (the artifact's value-merge —
    * summed cells, max-merged registers, re-pruned summaries) through
    * [[swap]]. The partitioned analogue is [[compactPartitionedDir]]. */
  def compactValueDir(spark: SparkSession, dir: String)
                     (rewrite: => DataFrame): Unit =
    swap(spark, dir)(tmp => rewrite.write.mode("overwrite").parquet(tmp))

  /** Rewrite the partitioned parquet directory `dir` with identical
    * rows in one file per partition directory (re-split at
    * `maxRecordsPerFile` rows when > 0). See the object Scaladoc for
    * the value/layout/crash guarantees. */
  def compactPartitionedDir(spark: SparkSession, dir: String,
                            partitionCols: Seq[String],
                            maxRecordsPerFile: Long = 0L): Unit =
    compactPartitionedValueDir(spark, dir, partitionCols,
      maxRecordsPerFile)(spark.read.parquet(dir))

  /** The partitioned analogue of [[compactValueDir]]: swap `dir` for
    * `rewrite`'s rows written under the SAME partition layout — for
    * artifacts whose compaction MERGES values (e.g. the keyed rollup's
    * per-batch rows folding to one row per key) while their reads
    * still partition-prune on `partitionCols`. Same crash stance and
    * in-flight-append gate as the row-preserving form. */
  def compactPartitionedValueDir(spark: SparkSession, dir: String,
                                 partitionCols: Seq[String],
                                 maxRecordsPerFile: Long = 0L)
                                (rewrite: => DataFrame): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    swap(spark, dir) { tmp =>
      val data = rewrite
      val missing = partitionCols.filterNot(data.columns.contains)
      require(missing.isEmpty,
        s"$dir has no partition column(s) ${missing.mkString(", ")} — " +
          s"columns: ${data.columns.mkString(", ")}")
      // ONE shuffle keyed on the partition columns: a reducer holds
      // whole partition values, so each directory is rewritten as one file
      val writer = data.repartition(partitionCols.map(col): _*)
        .write.partitionBy(partitionCols: _*).mode("overwrite")
      (if (maxRecordsPerFile > 0L)
         writer.option("maxRecordsPerFile", maxRecordsPerFile)
       else writer).parquet(tmp)
    }
  }

  /** The one compact-and-swap protocol: `write(tmp)` lands the full
    * rewrite of `dir` in its `__compact_tmp` sibling, which is then
    * swapped in with two renames ([[swapInto]]). Refuses a leftover
    * `__compact_old` from an interrupted earlier swap and a marked
    * append's in-flight/crashed staging directory (see the object
    * Scaladoc); a half-written tmp from a crashed rewrite is dropped. */
  private[operators] def swap(spark: SparkSession, dir: String)
                             (write: String => Unit): Unit = {
    val target0 = new Path(dir)
    val fs = target0.getFileSystem(spark.sessionState.newHadoopConf())
    val target = fs.makeQualified(target0)
    require(fs.exists(target), s"no artifact directory at $dir")
    warnIfNonAtomicRename(target)
    checkNoInFlightAppends(fs, target)
    val tmp = new Path(target.toString + "__compact_tmp")
    val old = new Path(target.toString + "__compact_old")
    require(!fs.exists(old),
      s"$old left by an interrupted compaction — rename it back over " +
        s"$dir (or delete it if $dir is intact) before compacting again")
    fs.delete(tmp, true)
    write(tmp.toString)
    swapInto(fs, target, tmp, old)
  }

  /** Two-rename swap of a fully-committed rewrite into place: the
    * original is never truncated before its replacement exists, and
    * top-level underscore metadata files (append replay markers,
    * `_graft_nshards`) are carried across (files the rewrite already
    * produced, e.g. `_SUCCESS`, win). Callers must have pre-checked
    * that `old` does not exist. */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem,
                                  target: Path, tmp: Path, old: Path): Unit = {
    require(fs.rename(target, old), s"could not move $target aside to $old")
    require(fs.rename(tmp, target),
      s"could not move $tmp into place at $target — the original data " +
        s"is intact at $old; rename it back to recover")
    fs.listStatus(old).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("_"))
      .foreach { s =>
        val dst = new Path(target, s.getPath.getName)
        if (!fs.exists(dst)) fs.rename(s.getPath, dst)
      }
    fs.delete(old, true)
  }
}

package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The corpus and evaluation set plus the persisted shingle indexes a
  * daily curation batch appends to and reads from. `baseFiles` is the
  * corpus index as set-up left it, so every cycle starts from the same
  * store. */
final case class CurationStatic(corpus: DataFrame, eval: DataFrame, corpusIndex: Path,
                                baseFiles: Set[Path])

final case class CurationOutputs(digestParts: Seq[String], problems: Seq[String],
                                 counters: Map[String, Double])

object CurationCycle {

  val CorpusTable = "perfbench_corpus_shingles"
  val EvalTable = "perfbench_eval_shingles"

  private def readDocs(spark: SparkSession, p: Path): DataFrame =
    spark.read.option("header", "true").option("sep", "\t")
      .schema("doc_id LONG, text STRING").csv(p.toString)

  private def files(dir: Path): Set[Path] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSet

  /** Build the corpus and evaluation shingle indexes (the persisted
    * store every daily batch is appended to and scanned against). */
  def setup(spark: SparkSession, in: Path, work: Path, span: Spans): CurationStatic =
    span("operators.index_build") {
      val corpus = readDocs(spark, in.resolve("corpus.tsv")).cache()
      val eval = readDocs(spark, in.resolve("eval.tsv")).cache()
      val corpusIndex = work.resolve("corpus_index")
      Dedup.writeShingleIndex(corpus, corpusIndex.toString, CorpusTable, buckets = 8)
      Dedup.writeShingleIndex(eval, work.resolve("eval_index").toString, EvalTable,
        buckets = 8, outIdCol = "eval_id")
      CurationStatic(corpus, eval, corpusIndex, files(corpusIndex))
    }

  /** One daily batch: exact dedup, MinHash, LSH, connected components,
    * the append to the corpus index, then the contamination scan and
    * decontamination through the indexes. Returns the collection of the
    * outputs for the check, to be called once the cycle's spans are
    * done, and the cleanup. */
  def run(spark: SparkSession, st: CurationStatic, in: Path, span: Spans,
          planted: Inputs.Corpus): (() => CurationOutputs, () => Unit) = {
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df.cache(); df.count(); df }

    val (batch, exact, survivors) = span("operators.exact") {
      val batch = keep(readDocs(spark, in.resolve("batch.tsv")))
      val exact = keep(Dedup.exactDedup(batch))
      (batch, exact, keep(batch.join(exact.select(col("keep_id").as("doc_id")), "doc_id")))
    }
    val sigs = span("operators.minhash") {
      keep(Dedup.minhashSignaturesOnePass(survivors, n = 5, numPerm = 64))
    }
    val pairs = span("operators.lsh") {
      keep(Dedup.lshCandidatePairs(Dedup.lshBuckets(sigs, bands = 16, rowsPer = 4)))
    }
    val (groups, kept, rounds) = span("operators.components") {
      val (g, rounds) = Dedup.nearDupGroupsDFWithRounds(pairs, survivors.select("doc_id"))
      val groups = keep(g)
      (groups, keep(survivors.join(groups.where(col("keep")).select("doc_id"), "doc_id")), rounds)
    }
    span("operators.index_append") { Dedup.appendToShingleIndex(kept, CorpusTable) }
    val (contam, cleaned) = span("operators.contamination") {
      val trainIdx = Dedup.readShingleIndex(spark, CorpusTable)
      val contam = Dedup.contaminationFromShingleIndexes(trainIdx,
        Dedup.readShingleIndex(spark, EvalTable)).collect().toSeq
      val cleaned = Dedup.decontaminateFromShingles(trainIdx,
        st.corpus.unionByName(kept.select("doc_id", "text")), st.eval).count()
      (contam, cleaned)
    }

    // ---- outputs for the check ------------------------------------------
    val outputs = () => {
      val nBatch = batch.count()
      val nKept = kept.count()
      val nPairs = pairs.count()
      val exactRows = exact.where(col("n_copies") > 1).collect()
        .map(r => s"exact|${r.getAs[Long]("keep_id")}|${r.getAs[Long]("n_copies")}").sorted.toSeq
      val pairRows = pairs.collect().map(r => s"pair|${r.get(0)}|${r.get(1)}").sorted.toSeq
      val groupRows = groups.where(!col("keep")).collect()
        .map(r => s"group|${r.get(0)}|${r.get(1)}").sorted.toSeq
      val contamRows = contam.map(r => s"contam|${r.get(0)}|${r.get(1)}|${r.get(2)}").sorted
      val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet

      val problems = Seq.newBuilder[String]
      // exact groups re-derived in plain Scala from the batch text
      val plainExact = planted.batch.groupBy(_._2).values.filter(_.size > 1)
        .map(g => s"exact|${g.map(_._1).min}|${g.size}").toSeq.sorted
      if (plainExact != exactRows) problems += s"exact dedup groups differ (${exactRows.size} vs ${plainExact.size})"
      if (nBatch != planted.batch.size) problems += s"batch read $nBatch of ${planted.batch.size} rows"
      // every planted quote that survived dedup is found by the scan
      val hits = contam.map(_.getAs[Long]("train_id")).toSet
      val missed = planted.plantedContaminated.intersect(keptIds) -- hits
      if (missed.nonEmpty) problems += s"contamination scan missed planted documents $missed"
      if (cleaned != planted.corpus.size + nKept - hits.size)
        problems += s"decontaminated corpus has $cleaned rows, expected ${planted.corpus.size + nKept - hits.size}"
      val parts = exactRows ++ pairRows ++ groupRows ++ contamRows :+ s"cleaned|$cleaned"
      CurationOutputs(parts, problems.result(), Map(
        "operators.candidate_pairs" -> nPairs.toDouble,
        "operators.dup_frac" -> (1.0 - nKept.toDouble / nBatch),
        "operators.cc_rounds" -> rounds.toDouble))
    }

    val cleanup = () => {
      cached.foreach(_.unpersist(blocking = true))
      // restore the corpus index to its set-up state
      (files(st.corpusIndex) -- st.baseFiles).foreach(Files.delete)
      spark.catalog.refreshTable(CorpusTable)
    }
    (outputs, cleanup)
  }
}

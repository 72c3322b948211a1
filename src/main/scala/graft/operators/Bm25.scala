package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.{TopKStruct, WordCounts}

/** BM25 keyword retrieval (Robertson/Spärck Jones; the Lucene
  * always-positive idf variant) — the "pull every document matching
  * this query" primitive of corpus audit tooling: find contaminated
  * docs by benchmark keywords, inspect what the crawl says about a
  * topic, build weak-supervision seed sets. No reference analogue —
  * an LLM-pipeline extension operator (SURVEY.md §2.15).
  *
  *   idf(t)     = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
  *   score(d)   = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
  *
  * Scale shape: the per-document work (tokenize, count, keep only the
  * query's terms) is ONE map-only pass over the corpus — the
  * `word_counts` codegen kernel yields `map<word,tf>` per row, `dl` is
  * a lambda fold over its values, and `map_filter` drops every
  * non-query term BEFORE anything leaves the scan, so the only rows
  * that reach a shuffle are (doc, query-term) hits: ≤ |terms| rows per
  * matching document, zero for the (at 100 TB, overwhelming) majority
  * of documents that match nothing. df is a ≤|terms|-row aggregate of
  * those hits, broadcast back; the final per-doc score is one grouped
  * sum over the hit rows. Corpus-level N/avgdl ride a 1-row broadcast.
  * Top-k is `TakeOrderedAndProject` — per-partition heaps, no global
  * sort.
  */
object Bm25 {

  /** (id, dl, word, tf) hit rows: one per (document, query term) with
    * the document's total token length alongside — a single map-only
    * projection off the `word_counts` kernel. Documents containing no
    * query term emit nothing. */
  def termHits(docs: DataFrame, terms: Seq[String],
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val termLits = array(terms.distinct.map(t => lit(t.toLowerCase)): _*)
    docs
      .select(col(idCol), column(WordCounts(expression(col(textCol)))).as("_wc"))
      .select(col(idCol),
        aggregate(map_values(col("_wc")), lit(0L), (acc, x) => acc + x).as("dl"),
        explode(map_filter(col("_wc"),
          (k, _) => array_contains(termLits, k))).as(Seq("word", "tf")))
  }

  /** (id, bm25, n_hit) for every document matching ≥1 query term.
    * `bm25` is rounded to 6 decimals (the float sum over a document's
    * matched terms is order-sensitive; same policy as lmScore). */
  def scores(docs: DataFrame, terms: Seq[String],
             k1: Double = 1.2, b: Double = 0.75,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hits = termHits(docs, terms, idCol, textCol)
    // Corpus stats: N and avgdl over ALL documents (not just matches).
    // One aggregate-only scan, 1 row, broadcast — the idiom x22/x43
    // use for corpus-level scalars.
    val stats = docs
      .select(TextOps.wsTokenCount(col(textCol)).as("_dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("_dl")).as("avgdl"))
    // df per query term from the hit rows ((id, word)-unique by
    // construction, so a plain COUNT) — ≤ |terms| rows, broadcast.
    val df = hits.groupBy("word").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    hits
      .join(broadcast(df), "word")
      .crossJoin(broadcast(stats))
      .withColumn("_contrib", idf * tfNorm)
      .groupBy(col(idCol))
      .agg(round(sum("_contrib"), 6).as("bm25"), count(lit(1)).as("n_hit"))
  }

  /** Top-k documents by BM25 (deterministic tie-break on the id):
    * `orderBy.limit` → TakeOrderedAndProject, the distributed top-k
    * physical op — no single-partition window, no global sort. */
  def topK(docs: DataFrame, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    scores(docs, terms, k1, b, idCol, textCol)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)

  /** Batch BM25 top-k JOIN — the lexical sibling of the dense batch
    * ANN joins (`Similarity.annJoinInt8FromIndex`): for EVERY query
    * row (qIdCol, termsCol: array<string>), the top-k documents by
    * BM25 over that query's terms. The hybrid-retrieval building
    * block: run the query log against the corpus once, fuse with a
    * dense retriever via [[Ranking.rrfFuse]].
    *
    * Scale shape: the corpus pays ONE map-only pass — `termHits`
    * against the UNION vocabulary of all queries (distinct lowercased
    * terms, driver-collected under a loud `maxVocab` bound — the
    * bounded-model-artifact contract), so `map_filter` still drops
    * every non-query term inside the scan and only (doc, any-query-
    * term) hits ever shuffle. df per term is a ≤|vocab|-row broadcast
    * (document frequency is query-independent, so batch scores equal
    * the single-query [[scores]] per query — spec-pinned). Attaching
    * queries is a broadcast join on the term; the per-(query, doc)
    * sum is one grouped agg (round-6, the [[scores]] policy — ranks
    * compare ROUNDED values, so ties and order are engine-stable);
    * the per-query top-k is the `top_k_struct` partial-aggregable
    * bounded heap — candidates never hit a window or a second
    * shuffle. Returns (qIdCol, idCol, bm25, n_hit, rank), rank 1..k
    * by (bm25 DESC, id ASC). */
  def topKJoin(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               qIdCol: String = "q_id", termsCol: String = "terms",
               maxVocab: Int = 100000): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (qterms, vocab) = collectVocab(queries, qIdCol, termsCol, maxVocab)
    val hits = termHits(docs, vocab, idCol, textCol)
    val stats = docs
      .select(TextOps.wsTokenCount(col(textCol)).as("_dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("_dl")).as("avgdl"))
    scoreHitsTopK(hits, stats, qterms, k, k1, b, idCol, qIdCol)
  }

  /** The distinct (qIdCol, word) pairs plus the union vocabulary,
    * driver-collected under a loud `maxVocab` bound — the
    * bounded-model-artifact contract every batch lexical query
    * shares. */
  private def collectVocab(queries: DataFrame, qIdCol: String,
                           termsCol: String,
                           maxVocab: Int): (DataFrame, Seq[String]) = {
    val qterms = queries
      .select(col(qIdCol), explode(col(termsCol)).as("_t"))
      .select(col(qIdCol), lower(col("_t")).as("word"))
      .distinct()
    val vocabRows = qterms.select("word").distinct()
      .limit(maxVocab + 1).collect()
    require(vocabRows.length <= maxVocab,
      s"query vocabulary exceeds maxVocab=$maxVocab — the union term " +
        s"set is the broadcast model artifact and must stay bounded; " +
        s"split the query batch or raise maxVocab deliberately")
    (qterms, vocabRows.map(_.getString(0)).toSeq)
  }

  /** The shared scoring tail of [[topKJoin]] and
    * [[topKJoinFromIndex]]: df from the hit rows (≤ |vocab| rows,
    * broadcast), idf·tfNorm per hit, per-(query, doc) round-6 sum,
    * per-query top-k via the `top_k_struct` bounded heap. `hits` must
    * carry (idCol, dl, word, tf); `stats` one row (n_docs, avgdl). */
  private def scoreHitsTopK(hits: DataFrame, stats: DataFrame,
                            qterms: DataFrame, k: Int, k1: Double,
                            b: Double, idCol: String,
                            qIdCol: String): DataFrame = {
    val df = hits.groupBy("word").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val pair = hits
      .join(broadcast(df), "word")
      .crossJoin(broadcast(stats))
      .withColumn("_contrib", idf * tfNorm)
      .join(broadcast(qterms), "word")
      .groupBy(col(qIdCol), col(idCol))
      .agg(round(sum("_contrib"), 6).as("bm25"), count(lit(1)).as("n_hit"))
    pair.groupBy(col(qIdCol))
      .agg(TopKStruct.of(struct(col("bm25"), col(idCol), col("n_hit")), k, true).as("_tk"))
      .select(col(qIdCol), posexplode(col("_tk")).as(Seq("_p", "_r")))
      .select(col(qIdCol),
        col("_r").getField(idCol).as(idCol),
        col("_r.bm25").as("bm25"),
        col("_r.n_hit").as("n_hit"),
        (col("_p") + 1).cast("int").as("rank"))
  }

  // ---------------------------------------------------------------
  // The at-rest lexical index — the BM25 sibling of
  // Similarity.writeInt8Index / PqIndex.writeIndex / the shingle
  // index: build once, append O(batch), query without ever scanning
  // the corpus again. Layout under `path`:
  //   postings/tb=<bucket>/  (idCol, dl, word, tf) — the full inverted
  //                          index, term-hash-partitioned so a query
  //                          reads ONLY its terms' buckets
  //   stats/                 (n_docs, sum_dl) one row per build/append
  //                          batch — exact long arithmetic, so the
  //                          merged corpus stats equal a from-scratch
  //                          rebuild after any append schedule
  //   meta/                  (n_buckets) — the partition geometry,
  //                          persisted so append can never bucket a
  //                          batch differently from the corpus
  // ---------------------------------------------------------------

  /** The term-hash partition id — ONE definition shared by build,
    * append and query, so the three can never disagree on where a
    * term's postings live. */
  private def termBucket(word: Column, nBuckets: Int): Column =
    pmod(xxhash64(word), lit(nBuckets.toLong)).cast("int")

  /** (idCol, dl, word, tf) posting rows for EVERY term of every
    * document — one map-only `word_counts` kernel pass; documents with
    * no tokens emit nothing (they still count in the stats rows). */
  private def fullPostings(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    docs
      .select(col(idCol), column(WordCounts(expression(col(textCol)))).as("_wc"))
      .select(col(idCol),
        aggregate(map_values(col("_wc")), lit(0L), (acc, x) => acc + x).as("dl"),
        explode(col("_wc")).as(Seq("word", "tf")))
  }

  /** One (n_docs, sum_dl) row for a document set — EXACT long
    * arithmetic so per-batch rows merge additively: Σ over stats rows
    * ≡ the same aggregate over the unioned raw corpus, which is why
    * append ≡ rebuild holds for N and avgdl (avgdl = sum_dl / n_docs;
    * both sums are exact integers ≤ 2^53, so the one division equals
    * `avg()` over the raw corpus bit-for-bit). */
  private def statsRow(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(TextOps.wsTokenCount(col(textCol))), lit(0L)).as("sum_dl"))

  /** Build the at-rest BM25 index: one corpus pass for the postings
    * (term-hash-partitioned on `tb`), one aggregate-only pass for the
    * (n_docs, sum_dl) stats row, a one-row meta table pinning the
    * bucket count. At 100 TB the build is the expensive step a
    * recurring retrieval workload pays ONCE — [[topKJoin]] re-scans
    * the whole corpus per query batch, [[topKJoinFromIndex]] reads
    * ~|query terms| / n_buckets of a postings table that is itself
    * far smaller than the raw text. Size `nBuckets` so one bucket's
    * postings fit a scan task comfortably (buckets are the unit of
    * both pruning and compaction parallelism). */
  def writeIndex(docs: DataFrame, path: String, nBuckets: Int = 64,
                 idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    fullPostings(docs, idCol, textCol)
      .withColumn("tb", termBucket(col("word"), nBuckets))
      .write.partitionBy("tb").mode("overwrite").parquet(s"$path/postings")
    statsRow(docs, textCol).write.mode("overwrite").parquet(s"$path/stats")
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The index's persisted geometry and id column name — geometry
    * derives from the ARTIFACT, never from a caller (an n_buckets
    * mismatch would silently append postings into the wrong buckets
    * and the pruned query would stop seeing them). */
  private def indexMeta(spark: org.apache.spark.sql.SparkSession,
                        path: String): (Int, String) = {
    val nBuckets = spark.read.parquet(s"$path/meta")
      .select("n_buckets").head().getInt(0)
    val idName = spark.read.parquet(s"$path/postings").schema.fieldNames
      .filterNot(Set("dl", "word", "tf", "tb")) match {
      case Array(one) => one
      case other => throw new IllegalArgumentException(
        s"$path/postings schema (${other.mkString(", ")} + dl/word/tf/tb) " +
          "is not the BM25 index shape written by Bm25.writeIndex")
    }
    (nBuckets, idName)
  }

  /** Append a BATCH of documents to the persisted index — O(batch):
    * only the new documents are tokenized (one map-only kernel pass),
    * their postings land as additional files under the existing
    * bucket directories, and one new (n_docs, sum_dl) stats row lands
    * beside the old ones; the existing corpus is never read. Because
    * a posting is a pure per-row function of its document and df/N/
    * avgdl are derived at QUERY time from the merged postings and
    * stats, append ≡ rebuild-with-union exactly (Bm25IndexSpec pins
    * it). Replay semantics (the artifact-family stance): with
    * `doneMarker` (e.g. the micro-batch id) a replay after the marker
    * landed is a no-op, and the commit runs the family's crash-atomic
    * staged protocol ([[Compaction.appendWithMarker]]) — postings and
    * the stats row move into place together and a crashed attempt's
    * partial move is swept on retry, so at-least-once redelivery can
    * neither duplicate the batch nor land postings without stats. */
  def appendToIndex(batch: DataFrame, path: String,
                    idCol: String = "doc_id", textCol: String = "text",
                    doneMarker: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    Compaction.appendWithMarker(spark, path, doneMarker) { staging =>
      val (nBuckets, idName) = indexMeta(spark, path)
      fullPostings(batch, idCol, textCol)
        .withColumnRenamed(idCol, idName)
        .withColumn("tb", termBucket(col("word"), nBuckets))
        .write.partitionBy("tb").mode("overwrite")
        .parquet(s"$staging/postings")
      statsRow(batch, textCol).write.mode("overwrite")
        .parquet(s"$staging/stats")
    }
  }

  /** Compact the postings table after an append schedule: appends
    * land per-batch files under each bucket directory, and after
    * thousands of micro-batches query cost is open()-bound. Value-
    * and layout-preserving (rows rewritten as-is, one file per
    * bucket); stats, meta and replay markers live OUTSIDE postings/
    * and are untouched. See [[Compaction]] for the crash stance. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   maxRecordsPerFile: Long = 0L): Unit =
    Compaction.compactPartitionedDir(
      spark, s"$path/postings", Seq("tb"), maxRecordsPerFile)

  /** Batch BM25 top-k join against the AT-REST index — result-
    * identical to [[topKJoin]] over the corpus the index persists
    * (probe x122 certifies it against a DuckDB re-derivation from the
    * raw corpus), but the query-time plan never touches the corpus:
    *
    *   - the union query vocabulary (driver-collected, loud
    *     `maxVocab` bound) maps to its term buckets through the SAME
    *     [[termBucket]] hash the writer used, and the postings scan
    *     carries `tb IN (...)` as a PARTITION filter — only the query
    *     terms' bucket directories are listed or read, ~|terms| /
    *     n_buckets of the postings table (plan-gated);
    *   - `word IN vocab` prunes within a bucket as a pushed parquet
    *     filter;
    *   - df per term is exact from the pruned scan (every posting for
    *     a term lives in its one bucket), ≤ |vocab| rows, broadcast;
    *   - N and avgdl come off the ≤ #appends stats rows — exact long
    *     sums, one row, broadcast;
    *   - scoring and the per-query `top_k_struct` heap are the
    *     [[topKJoin]] tail, so values and tie-breaks match it
    *     run-for-run (Bm25IndexSpec pins batch ≡ direct).
    *
    * Returns (qIdCol, idCol-as-persisted, bm25, n_hit, rank). */
  def topKJoinFromIndex(queries: DataFrame, path: String, k: Int,
                        k1: Double = 1.2, b: Double = 0.75,
                        qIdCol: String = "q_id", termsCol: String = "terms",
                        maxVocab: Int = 100000): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = queries.sparkSession
    val (qterms, vocab) = collectVocab(queries, qIdCol, termsCol, maxVocab)
    val (nBuckets, idName) = indexMeta(spark, path)
    import spark.implicits._
    // vocab → bucket ids through the one shared hash definition (a
    // tiny local job — |vocab| rows, driver-bounded)
    val buckets = vocab.toDF("word")
      .select(termBucket(col("word"), nBuckets).as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // pruning hierarchy, stated: `tb IN` is the LOAD-BEARING prune — a
    // partition filter applied at file listing, so only the query
    // terms' bucket directories are ever opened (plan-gated in
    // Bm25IndexSpec). `word IN vocab` prunes WITHIN a bucket as a
    // pushed parquet filter, but that pushdown degrades quietly for
    // large vocabularies: past spark.sql.parquet.pushdown.
    // inFilterThreshold (default 10) Spark rewrites the In-list to a
    // min/max range predicate over the word column's row-group
    // statistics, which keeps skipping only when a bucket's words are
    // clustered. The partition prune is unaffected (bucket ids travel
    // as a ≤64-element isin over the partition column), so bucket scan
    // cost is bounded either way; if profiling ever shows big-vocab
    // bucket scans dominating, a broadcast semi-join on word is the
    // escape hatch — it trades the pushdown for an exact hash filter.
    val hits = spark.read.parquet(s"$path/postings")
      .where(col("tb").isin(buckets: _*) && col("word").isin(vocab: _*))
      .select(col(idName), col("dl"), col("word"), col("tf"))
    val stats = spark.read.parquet(s"$path/stats")
      .agg(sum(col("n_docs")).as("_n"), sum(col("sum_dl")).as("_s"))
      .select(col("_n").as("n_docs"),
        (col("_s").cast("double") / col("_n").cast("double")).as("avgdl"))
    scoreHitsTopK(hits, stats, qterms, k, k1, b, idName, qIdCol)
  }

  /** BM25 model of a reference corpus, collected to the driver:
    * per-term idf (≤ |terms| entries) plus (nDocs, avgdl). Bounded by
    * construction — the at-rest artifact for [[scoreWithModel]]. */
  def collectModel(docs: DataFrame, terms: Seq[String],
                   idCol: String = "doc_id",
                   textCol: String = "text"): (Map[String, Double], Double) = {
    val hits = termHits(docs, terms, idCol, textCol)
    val stats = docs.select(TextOps.wsTokenCount(col(textCol)).as("_dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("_dl")).as("avgdl"))
      .collect()(0)
    val n = stats.getLong(0)
    val avgdl = stats.getDouble(1)
    val idfs = hits.groupBy("word").agg(count(lit(1)).as("df")).collect()
      .map { r =>
        val df = r.getLong(1).toDouble
        r.getString(0) -> math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      }.toMap
    (idfs, avgdl)
  }

  /** ZERO-shuffle scoring against a trained model: the idf map and
    * avgdl ride as literals, the per-row work is one `word_counts`
    * kernel pass plus |terms| map lookups — a pure projection, so it
    * runs UNCHANGED on a structured stream (score arrivals against a
    * reference-corpus model; StreamingSpec pins batch≡stream). Emits
    * EVERY input row (n_hit 0, bm25 0.0 for non-matches — a stream
    * cannot drop rows retroactively, and the caller filters); on the
    * matching rows values equal [[scores]] when the model came from
    * the same corpus (spec-pinned). */
  def scoreWithModel(docs: DataFrame, idfs: Map[String, Double],
                     avgdl: Double, k1: Double = 1.2, b: Double = 0.75,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(idfs.nonEmpty, "BM25 model has no terms")
    val scored = TextOps.bindOnce(column(WordCounts(expression(col(textCol))))) { wc =>
      TextOps.bindOnce(
        aggregate(map_values(wc), lit(0L), (acc, x) => acc + x)) { dl =>
        val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / lit(avgdl))
        val contribs = idfs.toSeq.sortBy(_._1).map { case (t, idf) =>
          val tf = element_at(wc, lit(t.toLowerCase))
          struct(
            coalesce(when(tf.isNotNull,
              lit(idf) * tf * (lit(k1) + 1.0) / (tf + norm)), lit(0.0)).as("c"),
            tf.isNotNull.cast("long").as("hit"))
        }
        val total = contribs.reduce((a, b2) => struct(
          (a.getField("c") + b2.getField("c")).as("c"),
          (a.getField("hit") + b2.getField("hit")).as("hit")))
        struct(round(total.getField("c"), 6).as("bm25"),
          total.getField("hit").as("n_hit"))
      }
    }
    docs.select(col(idCol), scored.as("_s"))
      .select(col(idCol),
        coalesce(col("_s.bm25"), lit(0.0)).as("bm25"),
        coalesce(col("_s.n_hit"), lit(0L)).as("n_hit"))
  }
}

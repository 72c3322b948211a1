package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Stage

/** Certification probes for the AT-REST sketch artifacts — the
  * frequency members of the at-rest family (the HLL distinct-count
  * artifact is x124 in ExtensionProbes). Both probes exercise the full
  * persisted chain: build on half the corpus, marker-gated append of
  * the other half, a deliberate REPLAY of the same append (must be a
  * no-op — sum-merge is not idempotent, so if the replay landed the
  * counts double and the hash diverges), then the read/estimate path.
  * The oracles re-derive everything from the RAW corpus, so equality
  * certifies persisted-merged ≡ from-raw end to end.
  *
  * Both reuse the x34/x40 salting (20 copies of a per-doc unique
  * token) so the vocabulary genuinely exceeds the sketch size and the
  * artifacts actually compress/collide.
  */
object SketchProbes {

  /** How long one overlapped fan-out may run: a branch still running
    * after this is hung, not slow. */
  private val BranchTimeoutMin = 30L

  /** Run a probe's INDEPENDENT artifact branches concurrently (guide
    * §2.6: actions are only sequential because the driver calls them
    * sequentially; concurrent jobs back-fill the tail of each other's
    * stages) and return their results in order. The pool is sized to
    * the branches and made per call, so its daemon threads inherit the
    * caller's Spark local properties. The first failure, or
    * [[BranchTimeoutMin]] minutes, cancels the branches still running
    * and is rethrown. */
  private def overlap[T](branches: (() => T)*): Seq[T] = {
    import java.util.concurrent._
    val pool = Executors.newFixedThreadPool(branches.size,
      (r: Runnable) => {
        val t = new Thread(r, "graft-branch")
        t.setDaemon(true)
        t
      })
    val done = new ExecutorCompletionService[T](pool)
    val futures = branches.map(b =>
      done.submit(new Callable[T] { def call(): T = b() }))
    val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(BranchTimeoutMin)
    try {
      futures.foreach { _ =>
        val f = done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (f == null) throw new TimeoutException(
          s"overlapped branches still running after $BranchTimeoutMin min")
        f.get()
      }
      futures.map(_.get())
    } catch {
      case e: ExecutionException => throw e.getCause
    } finally {
      futures.foreach(_.cancel(true))
      pool.shutdownNow()
    }
  }

  private val augSql =
    "SELECT doc_id, text || repeat(' u' || doc_id, 20) AS aug FROM documents"

  /** DuckDB mirror of [[CountMin.cellIndex]]: first 15 md5 hex digits
    * of "d_token" (60 bits, non-negative) mod width. */
  private def cellSql(dExpr: String, wExpr: String, width: Int): String =
    s"CAST(('0x' || substring(md5($dExpr || '_' || $wExpr), 1, 15)) " +
      s"AS BIGINT) % $width"

  val probes: Seq[Probe] = Seq(

    // CountMin.writeSketch/appendToSketch/estimateFromSketch: the
    // at-rest point-frequency artifact. Estimates for the corpus's
    // heavy tokens (cnt·256 > N — the same bounded query set as x34)
    // are read off the PERSISTED artifact only; the oracle re-derives
    // every cell sum from raw text via the same md5 arithmetic and
    // takes the same min-over-depth. Exact integers throughout — a
    // replayed append landing, a lost batch, or a hash mismatch in
    // any of the 4 rows diverges the hash -----------------------------
    Probe("x125_countmin_at_rest",
      (s, d) => {
        val aug = Tables.documents(s, d).withColumn("aug",
          concat(col("text"), expr("repeat(concat(' u', doc_id), 20)")))
        val tag = IndexCache.corpusTag("x125", d, aug, Seq("doc_id", "text"))
        val dir = IndexCache.built(s"x125_cms_$tag") { dir =>
          CountMin.writeSketch(aug.where(col("doc_id") % 2 === 0), "aug",
            dir, width = 8192, depth = 4)
          CountMin.appendToSketch(aug.where(col("doc_id") % 2 === 1), dir,
            doneMarker = Some("b1"))
          // the at-least-once scheduler's replay: marker-gated no-op
          CountMin.appendToSketch(aug.where(col("doc_id") % 2 === 1), dir,
            doneMarker = Some("b1"))
        }
        val toks = aug.select(
          explode(split(trim(col("aug")), "\\s+")).as("w"))
        val counts = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        val heavy = counts.crossJoin(broadcast(total))
          .where(col("cnt") * 256 > col("n_total"))
          .select(col("w"), col("cnt"))
        CountMin.estimateFromSketch(s, dir, heavy, "w")
          .join(broadcast(heavy), Seq("w"))
          .select(col("w"), col("cnt"), col("estimate"))
          .orderBy("w")
      },
      Some(s"""WITH a AS ($augSql),
              |toks AS (
              |  SELECT unnest(regexp_split_to_array(trim(aug), '\\s+')) AS w
              |  FROM a),
              |c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1),
              |t AS (SELECT COUNT(*) AS n_total FROM toks),
              |ds AS (SELECT unnest(generate_series(0, 3)) AS d),
              |cells AS (
              |  SELECT d, ${cellSql("d", "w", 8192)} AS cell, COUNT(*) AS n
              |  FROM toks, ds GROUP BY 1, 2),
              |heavy AS (SELECT w, cnt FROM c, t WHERE cnt * 256 > n_total),
              |qc AS (
              |  SELECT w, cnt, d, ${cellSql("d", "w", 8192)} AS cell
              |  FROM heavy, ds)
              |SELECT w, ANY_VALUE(cnt) AS cnt,
              |  MIN(COALESCE(n, 0)) AS estimate
              |FROM qc LEFT JOIN cells USING (d, cell)
              |GROUP BY w ORDER BY w""".stripMargin)),

    // HeavyHitters.writeSummary/appendToSummary/readSummary: the
    // at-rest mergeable MG summary. Unlike the in-memory aggregator
    // (whose sub-threshold contents are partitioning-dependent, so
    // x34 certifies only the guarantee), the at-rest form is the
    // DETERMINISTIC Agarwal et al. prune — exact batch counts minus
    // the (capacity+1)-th largest, keep-positive — so the oracle can
    // replay the exact two-batch prune-merge schedule in SQL and the
    // summary rows hash-match VALUE-for-value ------------------------
    Probe("x126_mg_summary_at_rest",
      (s, d) => {
        val aug = Tables.documents(s, d).withColumn("aug",
          concat(col("text"), expr("repeat(concat(' u', doc_id), 20)")))
        val tag = IndexCache.corpusTag("x126", d, aug, Seq("doc_id", "text"))
        val dir = IndexCache.built(s"x126_mg_$tag") { dir =>
          HeavyHitters.writeSummary(aug.where(col("doc_id") % 2 === 0),
            "aug", dir, capacity = 64)
          HeavyHitters.appendToSummary(aug.where(col("doc_id") % 2 === 1),
            dir, doneMarker = Some("b1"))
          // replay — must be gated or the merged counts double
          HeavyHitters.appendToSummary(aug.where(col("doc_id") % 2 === 1),
            dir, doneMarker = Some("b1"))
        }
        HeavyHitters.readSummary(s, dir).orderBy("token")
      },
      Some(s"""WITH a AS ($augSql),
              |tk AS (
              |  SELECT doc_id,
              |    unnest(regexp_split_to_array(trim(aug), '\\s+')) AS token
              |  FROM a),
              |ca AS (SELECT token, COUNT(*) AS cnt FROM tk
              |       WHERE doc_id % 2 = 0 GROUP BY 1),
              |offa AS (SELECT CASE WHEN (SELECT COUNT(*) FROM ca) >= 65
              |  THEN (SELECT MIN(cnt) FROM
              |        (SELECT cnt FROM ca ORDER BY cnt DESC LIMIT 65))
              |  ELSE 0 END AS o),
              |sa AS (SELECT token, cnt - o AS cnt FROM ca, offa WHERE cnt > o),
              |cb AS (SELECT token, COUNT(*) AS cnt FROM tk
              |       WHERE doc_id % 2 = 1 GROUP BY 1),
              |offb AS (SELECT CASE WHEN (SELECT COUNT(*) FROM cb) >= 65
              |  THEN (SELECT MIN(cnt) FROM
              |        (SELECT cnt FROM cb ORDER BY cnt DESC LIMIT 65))
              |  ELSE 0 END AS o),
              |sb AS (SELECT token, cnt - o AS cnt FROM cb, offb WHERE cnt > o),
              |m AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS cnt FROM
              |      (SELECT * FROM sa UNION ALL SELECT * FROM sb) GROUP BY 1),
              |offm AS (SELECT CASE WHEN (SELECT COUNT(*) FROM m) >= 65
              |  THEN (SELECT MIN(cnt) FROM
              |        (SELECT cnt FROM m ORDER BY cnt DESC LIMIT 65))
              |  ELSE 0 END AS o)
              |SELECT token, cnt - o AS cnt FROM m, offm WHERE cnt > o
              |ORDER BY token""".stripMargin)),

    // HistogramSketch: the at-rest QUANTILE member of the sketch
    // family — fixed geometry [0, 4096)/256 over document text
    // lengths (width 16, a power of two, so every double step is
    // exact), built on half the corpus, marker-gated append of the
    // other half plus a replay that must be a no-op, quantiles read
    // off the PERSISTED bins only; the oracle re-derives every bin
    // count from raw text and replays the same ceil(q·N) cumulative
    // selection — exact integers plus exact doubles ------------------
    Probe("x130_histogram_quantile_at_rest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = IndexCache.lengthHistogram(s, d)
        HistogramSketch.quantilesFromSketch(s, dir,
            Seq(0.25, 0.5, 0.75, 0.9, 0.99))
          .orderBy("q")
      },
      Some("""WITH v AS (
             |  SELECT LEAST(GREATEST(CAST(FLOOR(
             |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
             |    AS bin
             |  FROM documents WHERE text IS NOT NULL),
             |b AS (SELECT bin, COUNT(*) AS n FROM v GROUP BY 1),
             |c AS (SELECT bin, n, SUM(n) OVER (ORDER BY bin) AS cum FROM b),
             |t AS (SELECT MAX(cum) AS n_total FROM c),
             |qs(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
             |  (CAST(0.75 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
             |  (CAST(0.99 AS DOUBLE))),
             |sel AS (
             |  SELECT q, n_total, MIN(bin) AS bin
             |  FROM qs, t JOIN c ON cum >= CEIL(q * n_total)
             |  GROUP BY 1, 2)
             |SELECT sel.q, CAST(sel.bin AS INT) AS bin,
             |  CAST(c.cum AS BIGINT) AS cum_n,
             |  CAST(sel.n_total AS BIGINT) AS n_total,
             |  CAST(sel.bin AS DOUBLE) * 16.0 AS bin_lo,
             |  (CAST(sel.bin AS DOUBLE) + 1.0) * 16.0 AS bin_hi
             |FROM sel JOIN c ON c.bin = sel.bin
             |ORDER BY q""".stripMargin)),

    // The SKETCH-FAMILY FLAGSHIP (the x38/x72/x92/x123 composed-
    // certification precedent applied to the at-rest sketches): ONE
    // daily corpus-stats job builds and appends all four artifacts —
    // grouped HLL, Count-Min, Misra-Gries, histogram — then serves
    // ONE profile relation from the PERSISTED artifacts only:
    // per-lang distinct-text estimates, the heavy tokens with their
    // MG weight AND their Count-Min frequency estimate side by side,
    // and length quantiles. The oracle re-derives all four chains
    // from raw text and unions them — certifying that the artifacts
    // COMPOSE (the CM estimates are read for exactly the MG summary's
    // token set) and that every number a profile consumer sees traces
    // to raw data ----------------------------------------------------
    Probe("x131_corpus_profile_flagship",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val aug = docs.withColumn("aug",
          concat(col("text"), expr("repeat(concat(' u', doc_id), 20)")))
        val lens = docs.select(col("doc_id"), length(col("text")).as("len"))
        val tag = IndexCache.corpusTag("x131", d, docs, Seq("doc_id", "text"))
        val even = col("doc_id") % 2 === 0
        val odd = col("doc_id") % 2 === 1
        val root = IndexCache.built(s"x131_profile_$tag") { root =>
          Hll.writeSketch(docs.where(even), "text", Seq("lang"),
            s"$root/hll", p = 8)
          Hll.appendToSketch(docs.where(odd), s"$root/hll", Some("b1"))
          CountMin.writeSketch(aug.where(even), "aug", s"$root/cm",
            width = 8192, depth = 4)
          CountMin.appendToSketch(aug.where(odd), s"$root/cm", Some("b1"))
          CountMin.appendToSketch(aug.where(odd), s"$root/cm", Some("b1"))
          HeavyHitters.writeSummary(aug.where(even), "aug", s"$root/mg", 64)
          HeavyHitters.appendToSummary(aug.where(odd), s"$root/mg",
            Some("b1"))
          HistogramSketch.writeSketch(lens.where(even), "len",
            s"$root/hist", lo = 0.0, hi = 4096.0, nBins = 256)
          HistogramSketch.appendToSketch(lens.where(odd), s"$root/hist",
            Some("b1"))
        }
        val hll = Hll.estimateFromSketch(s, s"$root/hll")
          .select(lit("distinct_texts").as("metric"), col("lang").as("key"),
            col("estimate").cast("double").as("v1"),
            lit(0.0).as("v2"))
        val mg = HeavyHitters.readSummary(s, s"$root/mg")
        val cm = CountMin.estimateFromSketch(s, s"$root/cm",
          mg.select(col("token")), "token")
        val heavy = mg.join(cm, mg("token") === cm("w"))
          .select(lit("heavy_token").as("metric"), col("token").as("key"),
            col("cnt").cast("double").as("v1"),
            col("estimate").cast("double").as("v2"))
        val labels = Seq((0.5, "q50"), (0.9, "q90"), (0.99, "q99"))
          .toDF("q", "key")
        val quant = HistogramSketch.quantilesFromSketch(s, s"$root/hist",
            Seq(0.5, 0.9, 0.99))
          .join(broadcast(labels), "q")
          .select(lit("len_q").as("metric"), col("key"),
            col("bin_lo").as("v1"), col("cum_n").cast("double").as("v2"))
        hll.unionByName(heavy).unionByName(quant).orderBy("metric", "key")
      },
      Some {
        val m = 256
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val scale = java.lang.Double.toString(
          alpha * m * m * math.pow(2.0, 49))
        s"""WITH hv AS (
           |  SELECT lang, md5(text) AS h FROM documents
           |  WHERE text IS NOT NULL),
           |hp AS (
           |  SELECT lang, h,
           |    length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) AS zeros,
           |    substring(substring(h, 3, 12),
           |      CAST(length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) + 1 AS INT),
           |      1) AS fnz
           |  FROM hv),
           |hr AS (
           |  SELECT lang, CAST(('0x' || substring(h, 1, 2)) AS INT) AS bucket,
           |    CASE WHEN zeros = 12 THEN 49
           |         ELSE zeros * 4 + CASE WHEN fnz = '1' THEN 3
           |                               WHEN fnz IN ('2', '3') THEN 2
           |                               WHEN fnz IN ('4', '5', '6', '7') THEN 1
           |                               ELSE 0 END + 1 END AS rho
           |  FROM hp),
           |hagg AS (SELECT lang, bucket, MAX(rho) AS rho FROM hr GROUP BY 1, 2),
           |hsums AS (
           |  SELECT lang,
           |    CAST(SUM(CAST(2 ** (49 - rho) AS BIGINT))
           |      + (256 - COUNT(*)) * CAST(2 ** 49 AS BIGINT) AS BIGINT) AS s_scaled,
           |    CAST(256 - COUNT(*) AS BIGINT) AS v_zero
           |  FROM hagg GROUP BY 1),
           |hest AS (
           |  SELECT lang,
           |    ROUND(CASE WHEN v_zero > 0 AND $scale / s_scaled <= 640.0
           |          THEN 256.0 * ln(256.0 / v_zero)
           |          ELSE $scale / s_scaled END, 6) AS estimate
           |  FROM hsums),
           |a AS ($augSql),
           |tk AS (
           |  SELECT doc_id,
           |    unnest(regexp_split_to_array(trim(aug), '\\s+')) AS w
           |  FROM a),
           |ca AS (SELECT w AS token, COUNT(*) AS cnt FROM tk
           |       WHERE doc_id % 2 = 0 GROUP BY 1),
           |offa AS (SELECT CASE WHEN (SELECT COUNT(*) FROM ca) >= 65
           |  THEN (SELECT MIN(cnt) FROM
           |        (SELECT cnt FROM ca ORDER BY cnt DESC LIMIT 65))
           |  ELSE 0 END AS o),
           |sa AS (SELECT token, cnt - o AS cnt FROM ca, offa WHERE cnt > o),
           |cb AS (SELECT w AS token, COUNT(*) AS cnt FROM tk
           |       WHERE doc_id % 2 = 1 GROUP BY 1),
           |offb AS (SELECT CASE WHEN (SELECT COUNT(*) FROM cb) >= 65
           |  THEN (SELECT MIN(cnt) FROM
           |        (SELECT cnt FROM cb ORDER BY cnt DESC LIMIT 65))
           |  ELSE 0 END AS o),
           |sb AS (SELECT token, cnt - o AS cnt FROM cb, offb WHERE cnt > o),
           |mm AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS cnt FROM
           |      (SELECT * FROM sa UNION ALL SELECT * FROM sb) GROUP BY 1),
           |offm AS (SELECT CASE WHEN (SELECT COUNT(*) FROM mm) >= 65
           |  THEN (SELECT MIN(cnt) FROM
           |        (SELECT cnt FROM mm ORDER BY cnt DESC LIMIT 65))
           |  ELSE 0 END AS o),
           |msum AS (SELECT token, cnt - o AS cnt FROM mm, offm WHERE cnt > o),
           |ds AS (SELECT unnest(generate_series(0, 3)) AS d),
           |cells AS (
           |  SELECT d, ${cellSql("d", "w", 8192)} AS cell, COUNT(*) AS n
           |  FROM tk, ds GROUP BY 1, 2),
           |qc AS (
           |  SELECT token, cnt, d, ${cellSql("d", "token", 8192)} AS cell
           |  FROM msum, ds),
           |cest AS (
           |  SELECT token, ANY_VALUE(cnt) AS cnt,
           |    MIN(COALESCE(n, 0)) AS est
           |  FROM qc LEFT JOIN cells USING (d, cell) GROUP BY token),
           |hbv AS (
           |  SELECT LEAST(GREATEST(CAST(FLOOR(
           |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
           |    AS bin
           |  FROM documents WHERE text IS NOT NULL),
           |hbb AS (SELECT bin, COUNT(*) AS n FROM hbv GROUP BY 1),
           |hbc AS (SELECT bin, n, SUM(n) OVER (ORDER BY bin) AS cum FROM hbb),
           |hbt AS (SELECT MAX(cum) AS n_total FROM hbc),
           |hqs(q, label) AS (VALUES (CAST(0.5 AS DOUBLE), 'q50'),
           |  (CAST(0.9 AS DOUBLE), 'q90'), (CAST(0.99 AS DOUBLE), 'q99')),
           |hsel AS (
           |  SELECT q, label, n_total, MIN(bin) AS bin
           |  FROM hqs, hbt JOIN hbc ON cum >= CEIL(q * n_total)
           |  GROUP BY 1, 2, 3)
           |SELECT 'distinct_texts' AS metric, lang AS key,
           |  estimate AS v1, CAST(0.0 AS DOUBLE) AS v2 FROM hest
           |UNION ALL
           |SELECT 'heavy_token', token, CAST(cnt AS DOUBLE),
           |  CAST(est AS DOUBLE) FROM cest
           |UNION ALL
           |SELECT 'len_q', label, CAST(bin AS DOUBLE) * CAST(16.0 AS DOUBLE),
           |  CAST((SELECT cum FROM hbc WHERE hbc.bin = hsel.bin) AS DOUBLE)
           |FROM hsel
           |ORDER BY metric, key""".stripMargin
      }),

    // BottomKSample.writeSample/appendToSample/readSample: the at-rest
    // uniform SAMPLE artifact — bottom-k by a deterministic md5 key.
    // Build on even ids, marker-gated append of the odd half, a
    // deliberate replayed append (value-harmless here — min-k ignores
    // multiplicity, the artifact's idempotent contrast to the
    // SUM-merged sketches — but still gated). The read is the exact
    // global bottom-k of the WHOLE corpus (the merge identity
    // bottomK(A∪B) = bottomK(bottomK(A)∪bottomK(B))), which the oracle
    // re-derives from the raw table with the same md5 arithmetic and
    // the same (skey, id) tie-break — a single displaced sample member
    // diverges the hash --------------------------------------------------
    Probe("x132_bottomk_sample_at_rest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tag = IndexCache.corpusTag("x132", d, docs, Seq("doc_id"))
        val dir = IndexCache.built(s"x132_bks_$tag") { dir =>
          BottomKSample.writeSample(docs.where(col("doc_id") % 2 === 0),
            dir, k = 200, idCol = "doc_id", payloadCols = Seq("lang"))
          BottomKSample.appendToSample(docs.where(col("doc_id") % 2 === 1),
            dir, doneMarker = Some("b1"))
          BottomKSample.appendToSample(docs.where(col("doc_id") % 2 === 1),
            dir, doneMarker = Some("b1")) // replay — gated no-op
        }
        BottomKSample.readSample(s, dir)
          .select(col("doc_id"), col("lang"), col("skey"))
          .orderBy("doc_id")
      },
      Some("""WITH keyed AS (
             |  SELECT doc_id, lang,
             |    CAST(('0x' || substring(md5('bksample_' || CAST(doc_id AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS skey
             |  FROM documents),
             |samp AS (SELECT * FROM keyed ORDER BY skey, doc_id LIMIT 200)
             |SELECT doc_id, lang, skey FROM samp
             |ORDER BY doc_id""".stripMargin)),

    // Rollup.writeRollup/appendToRollup/readRollup/lookup: the at-rest
    // EXACT keyed rollup — the materialized-aggregate member of the
    // family (per-key count/sum/min/max of n_chars by lang). Build on
    // even ids, marker-gated append of the odd half, a replayed append
    // (must be a no-op — n/sum are SUM-merged, NOT idempotent). Two
    // certified readouts: the full merged rollup AND a bounded-key
    // `lookup` through the kb partition-pruned path. Exact integers
    // end to end; one double-counted or lost batch diverges the hash --
    Probe("x136_rollup_at_rest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tag = IndexCache.corpusTag("x136", d, docs, Seq("doc_id"))
        val dir = IndexCache.built(s"x136_ro_$tag") { dir =>
          Rollup.writeRollup(docs.where(col("doc_id") % 2 === 0), dir,
            Seq("lang"), "n_chars", nBuckets = 16)
          Rollup.appendToRollup(docs.where(col("doc_id") % 2 === 1), dir,
            doneMarker = Some("b1"))
          Rollup.appendToRollup(docs.where(col("doc_id") % 2 === 1), dir,
            doneMarker = Some("b1")) // replay — gated no-op
        }
        import s.implicits._
        val full = Rollup.readRollup(s, dir)
          .select(lit("full").as("metric"), col("lang"), col("n"),
            col("sum_v"), col("min_v"), col("max_v"))
        val looked = Rollup.lookup(s, dir, Seq("en", "zh").toDF("lang"))
          .select(lit("lookup").as("metric"), col("lang"), col("n"),
            col("sum_v"), col("min_v"), col("max_v"))
        full.unionAll(looked).orderBy("metric", "lang")
      },
      Some("""WITH agg AS (
             |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(n_chars) AS BIGINT) AS sum_v,
             |    MIN(n_chars) AS min_v, MAX(n_chars) AS max_v
             |  FROM documents GROUP BY 1)
             |SELECT 'full' AS metric, lang, n, sum_v, min_v, max_v FROM agg
             |UNION ALL
             |SELECT 'lookup', lang, n, sum_v, min_v, max_v FROM agg
             |WHERE lang IN ('en', 'zh')
             |ORDER BY metric, lang""".stripMargin)),

    // StratifiedSample.writeSample/appendToSample/readSample: the
    // at-rest per-stratum bottom-k sample (k = 60 per lang, payload =
    // source). Build on even ids, marker-gated append of the odd half,
    // a replayed append (value-harmless — min-k ignores multiplicity —
    // but still gated). The oracle re-derives the per-stratum
    // smallest-60 sets from the raw table with the same md5 keys and
    // (skey, id) tie-break — one displaced member in any stratum
    // diverges the hash -----------------------------------------------
    Probe("x137_stratified_sample_at_rest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tag = IndexCache.corpusTag("x137", d, docs, Seq("doc_id"))
        val dir = IndexCache.built(s"x137_sts_$tag") { dir =>
          StratifiedSample.writeSample(docs.where(col("doc_id") % 2 === 0),
            dir, k = 60, strataCol = "lang", payloadCols = Seq("source"))
          StratifiedSample.appendToSample(
            docs.where(col("doc_id") % 2 === 1), dir, Some("b1"))
          StratifiedSample.appendToSample(
            docs.where(col("doc_id") % 2 === 1), dir, Some("b1")) // replay
        }
        StratifiedSample.readSample(s, dir)
          .select(col("lang"), col("skey"), col("doc_id"), col("source"))
          .orderBy("lang", "doc_id")
      },
      Some("""WITH keyed AS (
             |  SELECT lang, doc_id, source,
             |    CAST(('0x' || substring(md5('stsample_' || CAST(doc_id AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS skey
             |  FROM documents),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
             |        ORDER BY skey, doc_id) AS rk FROM keyed)
             |SELECT lang, skey, doc_id, source FROM r WHERE rk <= 60
             |ORDER BY lang, doc_id""".stripMargin)),

    // MixturePlan.planAndSelect: the mixture FLAGSHIP — temperature
    // quotas (x79's sqrt/round-6/floor math) computed off the PERSISTED
    // x136-style rollup, members taken as the per-stratum smallest
    // sample keys off the PERSISTED x137-style stratified sample: the
    // daily 100 TB mixture decision with ZERO corpus passes (the spec
    // gates that every file scan in the plan reads one of the two
    // artifacts). The oracle re-derives BOTH stages from raw data —
    // counts, IEEE-sqrt weights, the round-6-then-floor quotas, and
    // each stratum's smallest-quota key set ---------------------------
    Probe("x138_mixture_from_artifacts",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tag = IndexCache.corpusTag("x138", d, docs, Seq("doc_id"))
        val roDir = IndexCache.built(s"x138_ro_$tag") { roDir =>
          Rollup.writeRollup(docs.where(col("doc_id") % 2 === 0), roDir,
            Seq("lang"), "n_chars")
          Rollup.appendToRollup(docs.where(col("doc_id") % 2 === 1),
            roDir, Some("b1"))
        }
        val stDir = IndexCache.built(s"x138_st_$tag") { stDir =>
          StratifiedSample.writeSample(docs.where(col("doc_id") % 2 === 0),
            stDir, k = 150, strataCol = "lang")
          StratifiedSample.appendToSample(
            docs.where(col("doc_id") % 2 === 1), stDir, Some("b1"))
        }
        MixturePlan.planAndSelect(s, roDir, stDir, targetTotal = 120)
          .select(col("doc_id"), col("lang"),
            col("rank_in_stratum").cast("int").as("rank_in_stratum"))
          .orderBy("doc_id")
      },
      Some("""WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
             |w AS (SELECT lang, SQRT(CAST(n AS DOUBLE)) AS w FROM cnt),
             |tot AS (SELECT SUM(w) AS tw FROM w),
             |q AS (
             |  SELECT lang,
             |    CAST(FLOOR(ROUND(120.0 * w.w / tot.tw, 6)) AS BIGINT) AS quota
             |  FROM w CROSS JOIN tot),
             |r AS (
             |  SELECT doc_id, lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
             |      CAST(('0x' || substring(md5('stsample_' || CAST(doc_id AS VARCHAR)), 1, 15))
             |        AS BIGINT) ASC, doc_id ASC) AS rk
             |  FROM documents)
             |SELECT r.doc_id, r.lang, CAST(rk AS INT) AS rank_in_stratum
             |FROM r JOIN q USING (lang) WHERE rk <= quota
             |ORDER BY doc_id""".stripMargin)),

    // RETRACTION across the SUM-merged at-rest family (CountMin.
    // retractFromSketch / HistogramSketch.retractFromSketch /
    // Rollup.retractFromRollup): the "forget this source" operation —
    // a contaminated slice ingested yesterday must leave today's
    // stats WITHOUT a rebuild. SUM-merge is a group, so the negated
    // batch is an exact inverse: all three artifacts are built on the
    // even half, marker-appended with the odd half, then the odd half
    // is RETRACTED (marked, plus a replayed retraction that must
    // no-op) — and every readout must hash-match an oracle that
    // derives from the EVEN half alone, as if the odd half had never
    // been ingested ---------------------------------------------------
    Probe("x143_sketch_retraction",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val even = docs.where(col("doc_id") % 2 === 0)
        val odd = docs.where(col("doc_id") % 2 === 1)
        val tag = IndexCache.corpusTag("x143", d, docs, Seq("doc_id"))
        val cmDir = IndexCache.built(s"x143_cm_$tag") { cmDir =>
          CountMin.writeSketch(even, "text", cmDir,
            width = 8192, depth = 4)
          CountMin.appendToSketch(odd, cmDir, doneMarker = Some("b1"))
          CountMin.retractFromSketch(odd, cmDir, doneMarker = Some("rt1"))
          CountMin.retractFromSketch(odd, cmDir, doneMarker = Some("rt1"))
        }
        val hDir = IndexCache.built(s"x143_h_$tag") { hDir =>
          val lens = docs.select(col("doc_id"),
            length(col("text")).as("len"))
          HistogramSketch.writeSketch(lens.where(col("doc_id") % 2 === 0),
            "len", hDir, lo = 0.0, hi = 4096.0, nBins = 256)
          HistogramSketch.appendToSketch(
            lens.where(col("doc_id") % 2 === 1), hDir, Some("b1"))
          HistogramSketch.retractFromSketch(
            lens.where(col("doc_id") % 2 === 1), hDir, Some("rt1"))
        }
        val roDir = IndexCache.built(s"x143_ro_$tag") { roDir =>
          Rollup.writeRollup(even, roDir, Seq("lang"), "n_chars")
          Rollup.appendToRollup(odd, roDir, Some("b1"))
          Rollup.retractFromRollup(odd, roDir, Some("rt1"))
          Rollup.retractFromRollup(odd, roDir, Some("rt1")) // replay
        }
        // heavy tokens OF THE SURVIVING CORPUS (the even half) — the
        // bounded query set, derived identically by the oracle
        val toks = even.select(
          explode(split(trim(col("text")), "\\s+")).as("w"))
        val counts = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        val heavy = counts.crossJoin(broadcast(total))
          .where(col("cnt") * 256 > col("n_total")).select("w")
        val cm = CountMin.estimateFromSketch(s, cmDir, heavy, "w")
          .select(lit("cm_heavy").as("metric"), col("w").as("key"),
            col("estimate").cast("double").as("v1"),
            lit(0.0).as("v2"))
        val hq = HistogramSketch.quantilesFromSketch(s, hDir,
            Seq(0.5, 0.9, 0.99))
          .select(lit("len_q").as("metric"),
            concat(lit("q"), (col("q") * 100).cast("int")).as("key"),
            col("bin_lo").as("v1"), col("cum_n").cast("double").as("v2"))
        val ro = Rollup.readRollup(s, roDir)
          .select(lit("lang_stats").as("metric"), col("lang").as("key"),
            col("n").cast("double").as("v1"),
            col("sum_v").cast("double").as("v2"))
        cm.unionAll(hq).unionAll(ro).orderBy("metric", "key")
      },
      Some(s"""WITH ev AS (
              |  SELECT * FROM documents WHERE doc_id % 2 = 0),
              |toks AS (
              |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
              |  FROM ev),
              |c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1),
              |t AS (SELECT COUNT(*) AS n_total FROM toks),
              |ds AS (SELECT unnest(generate_series(0, 3)) AS d),
              |cells AS (
              |  SELECT d, ${cellSql("d", "w", 8192)} AS cell, COUNT(*) AS n
              |  FROM toks, ds GROUP BY 1, 2),
              |heavy AS (SELECT w FROM c, t WHERE cnt * 256 > n_total),
              |qc AS (
              |  SELECT w, d, ${cellSql("d", "w", 8192)} AS cell
              |  FROM heavy, ds),
              |cm AS (
              |  SELECT 'cm_heavy' AS metric, w AS key,
              |    CAST(MIN(COALESCE(n, 0)) AS DOUBLE) AS v1,
              |    CAST(0.0 AS DOUBLE) AS v2
              |  FROM qc LEFT JOIN cells USING (d, cell) GROUP BY w),
              |hbv AS (
              |  SELECT LEAST(GREATEST(CAST(FLOOR(
              |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
              |    AS bin
              |  FROM ev WHERE text IS NOT NULL),
              |hbb AS (SELECT bin, COUNT(*) AS n FROM hbv GROUP BY 1),
              |hbc AS (SELECT bin, n, SUM(n) OVER (ORDER BY bin) AS cum FROM hbb),
              |hbt AS (SELECT MAX(cum) AS n_total FROM hbc),
              |hqs(q, label) AS (VALUES (CAST(0.5 AS DOUBLE), 'q50'),
              |  (CAST(0.9 AS DOUBLE), 'q90'), (CAST(0.99 AS DOUBLE), 'q99')),
              |hsel AS (
              |  SELECT q, label, n_total, MIN(bin) AS bin
              |  FROM hqs, hbt JOIN hbc ON cum >= CEIL(q * n_total)
              |  GROUP BY 1, 2, 3),
              |hq AS (
              |  SELECT 'len_q' AS metric, label AS key,
              |    CAST(bin AS DOUBLE) * 16.0 AS v1,
              |    CAST((SELECT cum FROM hbc WHERE hbc.bin = hsel.bin) AS DOUBLE)
              |      AS v2
              |  FROM hsel),
              |ro AS (
              |  SELECT 'lang_stats' AS metric, lang AS key,
              |    CAST(COUNT(*) AS DOUBLE) AS v1,
              |    CAST(SUM(n_chars) AS DOUBLE) AS v2
              |  FROM ev GROUP BY lang)
              |SELECT * FROM cm
              |UNION ALL SELECT * FROM hq
              |UNION ALL SELECT * FROM ro
              |ORDER BY metric, key""".stripMargin)),

    // THE DAILY-DECISIONS FLAGSHIP (the x131/x123/x38 composed-
    // certification precedent applied to the r15 decision family):
    // ONE day-1 ingest job over the at-rest estate — drift-gate the
    // batch against the persisted day-0 histogram BEFORE ingest, then
    // marker-append the batch into rollup + stratified sample +
    // histogram and the manifest, then serve the day's decisions off
    // the PERSISTED artifacts alone: the temperature-mixture plan
    // (rollup counts → quotas → sample members), the quality
    // threshold (q50 bin edge) applied to the new batch, the post-
    // ingest corpus stats, and the version audit (manifest diff = the
    // batch's ids, all 'added'). ONE DuckDB mirror re-derives every
    // stage from raw text — the drift arithmetic, the quota math, the
    // per-stratum selected ID SETS (as exact id-sums), the threshold
    // and kept counts, and the diff count ----------------------------
    Probe("x144_daily_decisions_flagship",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .where(col("text").isNotNull)
        val day0 = docs.where(col("doc_id") % 3 =!= 2)
        val batch = docs.where(col("doc_id") % 3 === 2)
        val tag = IndexCache.corpusTag("x144", d, docs, Seq("doc_id"))
        val lens = (df: org.apache.spark.sql.DataFrame) => df.select(
          col("doc_id"), col("lang"), length(col("text")).as("len"))
        val roDir = IndexCache.built(s"x144_ro_$tag")(
          Rollup.writeRollup(day0, _, Seq("lang"), "n_chars"))
        val stDir = IndexCache.built(s"x144_st_$tag")(
          StratifiedSample.writeSample(day0, _, k = 150, strataCol = "lang"))
        val hDir = IndexCache.built(s"x144_h_$tag")(
          HistogramSketch.writeSketch(lens(day0), "len", _,
            lo = 0.0, hi = 4096.0, nBins = 256))
        // the FROZEN day-0 snapshot the drift gate compares against
        // (ingest never touches it — so the gate's answer is stable
        // under re-runs and marker-gated replay of the ingest)
        val h0Dir = IndexCache.built(s"x144_h0_$tag")(
          HistogramSketch.writeSketch(lens(day0), "len", _,
            lo = 0.0, hi = 4096.0, nBins = 256))
        val maDir = IndexCache.built(s"x144_ma_$tag")(
          Manifest.writeManifest(day0, _))
        val mbDir = IndexCache.built(s"x144_mb_$tag")(
          Manifest.writeManifest(day0, _))
        // the drift GATE runs against the day-0 snapshot, before
        // anything lands (check-then-ingest)
        val drift = HistogramSketch.driftFromSketch(h0Dir,
            lens(batch).select(col("len")), threshold = 0.05)
          .select(lit("drift").as("metric"), lit("batch").as("key"),
            col("tvd").as("v1"), col("l1_num").cast("double").as("v2"))
        // marker-gated ingest of the day's batch into the estate —
        // four INDEPENDENT artifacts, so the appends overlap (guide
        // §2.6); each is marker-gated, so values are unaffected and a
        // replay stays a no-op. The barrier below keeps check-then-
        // ingest ordering: no decision reads an artifact mid-append.
        overlap(
          () => Rollup.appendToRollup(batch, roDir, Some("day1")),
          () => StratifiedSample.appendToSample(batch, stDir, Some("day1")),
          () => HistogramSketch.appendToSketch(lens(batch), hDir,
            Some("day1")),
          () => Manifest.appendToManifest(batch, mbDir, Some("day1")))
        // decisions off the PERSISTED estate: five independent
        // branches over five frozen artifacts — each was a sequential
        // run of bounded AQE stages (59 jobs end to end), so they run
        // CONCURRENTLY and each materializes its bounded result rows
        // (≤ |langs| + a few); the union of the materialized branches
        // is row-identical to the sequential union it replaces.
        val fSel = () => Stage.truncate(MixturePlan.planAndSelect(s, roDir, stDir,
            targetTotal = 120)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sel"),
            sum("doc_id").as("id_sum"))
          .select(lit("mixture").as("metric"), col("lang").as("key"),
            col("n_sel").cast("double").as("v1"),
            col("id_sum").cast("double").as("v2")))
        val fKept = () => {
          val thr = HistogramSketch.thresholdFromSketch(s, hDir, 0.5)
          Stage.truncate(HistogramSketch.curateByQuantile(lens(batch), hDir,
              q = 0.5, precomputedThr = Some(thr))
            .groupBy("lang").agg(count(lit(1)).as("n_kept"))
            .select(lit("curate").as("metric"), col("lang").as("key"),
              col("n_kept").cast("double").as("v1"), lit(thr).as("v2")))
        }
        val fStats = () => Stage.truncate(Rollup.readRollup(s, roDir)
          .select(lit("corpus").as("metric"), col("lang").as("key"),
            col("n").cast("double").as("v1"),
            col("sum_v").cast("double").as("v2")))
        val fAudit = () => Stage.truncate(Manifest.diff(s, maDir, mbDir)
          .groupBy("status").agg(count(lit(1)).as("n"))
          .select(lit("audit").as("metric"), col("status").as("key"),
            col("n").cast("double").as("v1"), lit(0.0).as("v2")))
        overlap(() => Stage.truncate(drift), fSel, fKept, fStats, fAudit)
          .reduce(_.unionAll(_)).orderBy("metric", "key")
      },
      Some("""WITH d0 AS (
             |  SELECT * FROM documents
             |  WHERE text IS NOT NULL AND doc_id % 3 <> 2),
             |bat AS (
             |  SELECT * FROM documents
             |  WHERE text IS NOT NULL AND doc_id % 3 = 2),
             |allc AS (SELECT * FROM documents WHERE text IS NOT NULL),
             |rbin AS (
             |  SELECT LEAST(GREATEST(CAST(FLOOR(
             |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
             |    AS bin, COUNT(*) AS rn
             |  FROM d0 GROUP BY 1),
             |bbin AS (
             |  SELECT LEAST(GREATEST(CAST(FLOOR(
             |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
             |    AS bin, COUNT(*) AS bn
             |  FROM bat GROUP BY 1),
             |dj AS (
             |  SELECT COALESCE(rn, 0) AS rn, COALESCE(bn, 0) AS bn
             |  FROM rbin FULL OUTER JOIN bbin ON rbin.bin = bbin.bin),
             |dtot AS (SELECT CAST(SUM(bn) AS BIGINT) AS nb,
             |                CAST(SUM(rn) AS BIGINT) AS mr FROM dj),
             |dnum AS (
             |  SELECT CAST(SUM(ABS(bn * mr - rn * nb)) AS BIGINT) AS l1
             |  FROM dj CROSS JOIN dtot),
             |drift AS (
             |  SELECT 'drift' AS metric, 'batch' AS key,
             |    CAST(l1 AS DOUBLE) / (2.0 * nb * mr) AS v1,
             |    CAST(l1 AS DOUBLE) AS v2
             |  FROM dtot CROSS JOIN dnum),
             |cnt AS (SELECT lang, COUNT(*) AS n FROM allc GROUP BY 1),
             |w AS (SELECT lang, SQRT(CAST(n AS DOUBLE)) AS w FROM cnt),
             |tot AS (SELECT SUM(w) AS tw FROM w),
             |q AS (
             |  SELECT lang,
             |    CAST(FLOOR(ROUND(120.0 * w.w / tot.tw, 6)) AS BIGINT) AS quota
             |  FROM w CROSS JOIN tot),
             |rk AS (
             |  SELECT doc_id, lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
             |      CAST(('0x' || substring(md5('stsample_' || CAST(doc_id AS VARCHAR)), 1, 15))
             |        AS BIGINT) ASC, doc_id ASC) AS rk
             |  FROM allc),
             |mix AS (
             |  SELECT 'mixture' AS metric, rk.lang AS key,
             |    CAST(COUNT(*) AS DOUBLE) AS v1,
             |    CAST(SUM(doc_id) AS DOUBLE) AS v2
             |  FROM rk JOIN q USING (lang) WHERE rk <= quota
             |  GROUP BY rk.lang),
             |abin AS (
             |  SELECT LEAST(GREATEST(CAST(FLOOR(
             |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
             |    AS bin, COUNT(*) AS n
             |  FROM allc GROUP BY 1),
             |acum AS (SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum FROM abin),
             |atot AS (SELECT MAX(cum) AS n_total FROM acum),
             |asel AS (
             |  SELECT MIN(bin) AS bin
             |  FROM atot JOIN acum ON cum >= CEIL(0.5 * n_total)),
             |thr AS (SELECT CAST(bin AS DOUBLE) * 16.0 AS thr FROM asel),
             |cur AS (
             |  SELECT 'curate' AS metric, lang AS key,
             |    CAST(COUNT(*) AS DOUBLE) AS v1, ANY_VALUE(thr) AS v2
             |  FROM bat CROSS JOIN thr
             |  WHERE CAST(length(text) AS DOUBLE) >= thr
             |  GROUP BY lang),
             |stats AS (
             |  SELECT 'corpus' AS metric, lang AS key,
             |    CAST(COUNT(*) AS DOUBLE) AS v1,
             |    CAST(SUM(n_chars) AS DOUBLE) AS v2
             |  FROM allc GROUP BY lang),
             |audit AS (
             |  SELECT 'audit' AS metric, 'added' AS key,
             |    CAST(COUNT(*) AS DOUBLE) AS v1, CAST(0.0 AS DOUBLE) AS v2
             |  FROM bat)
             |SELECT * FROM drift
             |UNION ALL SELECT * FROM mix
             |UNION ALL SELECT * FROM cur
             |UNION ALL SELECT * FROM stats
             |UNION ALL SELECT * FROM audit
             |ORDER BY metric, key""".stripMargin)),

    // HistogramSketch grouped form: one distribution PER SOURCE from
    // one artifact — per-group quantile thresholds and the per-source
    // drift REPORT ("which sources moved?"), the monitoring table of
    // a multi-source pipeline. Build even / marked append odd /
    // replay; the drift batch shifts every 7th doc's length by +256
    // (same sources) and adds an UNSEEN source 'zz' (every 101st doc)
    // that must read tvd = 1.0 — the m = 0 case pinned, not NaN. The
    // oracle re-derives per-lang bins, the per-lang cumulative
    // selection, and the exact per-lang drift arithmetic -------------
    Probe("x145_grouped_histogram_drift",
      (s, d) => {
        val docs = Tables.documents(s, d).where(col("text").isNotNull)
        val lens = docs.select(col("doc_id"), col("lang"),
          length(col("text")).as("len"))
        val tag = IndexCache.corpusTag("x145", d, docs, Seq("doc_id"))
        val dir = IndexCache.built(s"x145_gh_$tag") { dir =>
          HistogramSketch.writeGroupedSketch(
            lens.where(col("doc_id") % 2 === 0), "len", "lang", dir,
            lo = 0.0, hi = 4096.0, nBins = 256)
          HistogramSketch.appendToGroupedSketch(
            lens.where(col("doc_id") % 2 === 1), dir, Some("b1"))
          HistogramSketch.appendToGroupedSketch(
            lens.where(col("doc_id") % 2 === 1), dir, Some("b1")) // replay
        }
        val q = HistogramSketch.groupedQuantiles(s, dir, Seq(0.5, 0.9))
          .select(lit("q").as("metric"),
            concat(col("lang"), lit("_q"),
              (col("q") * 100).cast("int")).as("key"),
            col("bin_lo").as("v1"), col("cum_n").cast("double").as("v2"))
        val batch = lens.where(col("doc_id") % 7 === 0)
          .select(col("lang"), (col("len") + 256).as("len"))
          .unionAll(lens.where(col("doc_id") % 101 === 0)
            .select(lit("zz").as("lang"), col("len")))
        val dr = HistogramSketch.groupedDriftFromSketch(dir, batch,
            threshold = 0.1)
          .select(lit("drift").as("metric"), col("lang").as("key"),
            col("tvd").as("v1"), col("l1_num").cast("double").as("v2"))
        q.unionAll(dr).orderBy("metric", "key")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, length(text) AS len
             |  FROM documents WHERE text IS NOT NULL),
             |rb AS (
             |  SELECT lang, LEAST(GREATEST(CAST(FLOOR(
             |      CAST(len AS DOUBLE) / 16.0) AS BIGINT), 0), 255) AS bin,
             |    COUNT(*) AS n
             |  FROM base GROUP BY 1, 2),
             |cum AS (
             |  SELECT lang, bin, n,
             |    SUM(n) OVER (PARTITION BY lang ORDER BY bin) AS cum
             |  FROM rb),
             |tot AS (SELECT lang, MAX(cum) AS n_total FROM cum GROUP BY 1),
             |qs(q, lbl) AS (VALUES (CAST(0.5 AS DOUBLE), 'q50'),
             |  (CAST(0.9 AS DOUBLE), 'q90')),
             |sel AS (
             |  SELECT t.lang, q, lbl, t.n_total, MIN(bin) AS bin
             |  FROM qs, tot t JOIN cum ON cum.lang = t.lang
             |    AND cum.cum >= CEIL(q * t.n_total)
             |  GROUP BY 1, 2, 3, 4),
             |qrows AS (
             |  SELECT 'q' AS metric, sel.lang || '_' || lbl AS key,
             |    CAST(bin AS DOUBLE) * 16.0 AS v1,
             |    CAST((SELECT cum FROM cum c
             |          WHERE c.lang = sel.lang AND c.bin = sel.bin) AS DOUBLE)
             |      AS v2
             |  FROM sel),
             |batr AS (
             |  SELECT lang, len + 256 AS bv FROM base WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT 'zz' AS lang, len AS bv FROM base
             |  WHERE doc_id % 101 = 0),
             |bb AS (
             |  SELECT lang, LEAST(GREATEST(CAST(FLOOR(
             |      CAST(bv AS DOUBLE) / 16.0) AS BIGINT), 0), 255) AS bin,
             |    COUNT(*) AS bn
             |  FROM batr GROUP BY 1, 2),
             |j AS (
             |  SELECT COALESCE(bb.lang, rb.lang) AS lang,
             |    COALESCE(bn, 0) AS bn, COALESCE(n, 0) AS rn
             |  FROM bb FULL OUTER JOIN rb
             |    ON bb.lang = rb.lang AND bb.bin = rb.bin),
             |gt AS (
             |  SELECT lang, CAST(SUM(bn) AS BIGINT) AS nb,
             |    CAST(SUM(rn) AS BIGINT) AS mr
             |  FROM j GROUP BY 1),
             |gk AS (SELECT lang, nb, mr FROM gt WHERE nb > 0),
             |gl AS (
             |  SELECT j.lang,
             |    CAST(SUM(ABS(bn * gk.mr - rn * gk.nb)) AS BIGINT) AS l1
             |  FROM j JOIN gk ON j.lang = gk.lang GROUP BY 1),
             |drows AS (
             |  SELECT 'drift' AS metric, gk.lang AS key,
             |    CASE WHEN mr = 0 THEN CAST(1.0 AS DOUBLE)
             |         ELSE CAST(l1 AS DOUBLE) / (2.0 * nb * mr) END AS v1,
             |    CAST(l1 AS DOUBLE) AS v2
             |  FROM gk JOIN gl ON gk.lang = gl.lang)
             |SELECT * FROM qrows
             |UNION ALL SELECT * FROM drows
             |ORDER BY metric, key""".stripMargin)),

    // HistogramSketch.driftFromSketch: the distribution-drift DECISION
    // served off the PERSISTED histogram (x130's artifact, shared —
    // one build, three certified readouts with x130/x140): a
    // deliberately shifted batch (every 7th doc's length + 256) bins
    // under the persisted geometry and compares by exact-integer
    // total variation — l1_num = Σ|n_b·M − m_b·N| in decimal cross
    // products, tvd = one IEEE division (never rounded: pure
    // arithmetic). The oracle re-derives BOTH distributions from raw
    // text and the identical statistic --------------------------------
    Probe("x139_drift_from_histogram",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = IndexCache.lengthHistogram(s, d)
        val batch = docs.where(col("doc_id") % 7 === 0)
          .select((length(col("text")) + 256).as("len"))
        HistogramSketch.driftFromSketch(dir, batch, threshold = 0.1)
          .select(col("n_batch"), col("m_ref"),
            col("l1_num").cast("long").as("l1_num"), col("tvd"),
            col("drifted"))
      },
      Some("""WITH ref AS (
             |  SELECT LEAST(GREATEST(CAST(FLOOR(
             |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
             |    AS bin, COUNT(*) AS rn
             |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
             |bat AS (
             |  SELECT LEAST(GREATEST(CAST(FLOOR(
             |      CAST(length(text) + 256 AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
             |    AS bin, COUNT(*) AS bn
             |  FROM documents
             |  WHERE text IS NOT NULL AND doc_id % 7 = 0 GROUP BY 1),
             |j AS (
             |  SELECT COALESCE(rn, 0) AS rn, COALESCE(bn, 0) AS bn
             |  FROM ref FULL OUTER JOIN bat ON ref.bin = bat.bin),
             |tot AS (SELECT CAST(SUM(bn) AS BIGINT) AS n_batch,
             |               CAST(SUM(rn) AS BIGINT) AS m_ref FROM j),
             |num AS (
             |  SELECT CAST(SUM(ABS(bn * m_ref - rn * n_batch)) AS BIGINT)
             |    AS l1_num
             |  FROM j CROSS JOIN tot)
             |SELECT n_batch, m_ref, l1_num,
             |  CAST(l1_num AS DOUBLE) / (2.0 * n_batch * m_ref) AS tvd,
             |  CAST(l1_num AS DOUBLE) / (2.0 * n_batch * m_ref) > 0.1
             |    AS drifted
             |FROM tot CROSS JOIN num""".stripMargin)),

    // HistogramSketch.curateByQuantile: quantile-threshold CURATION
    // off the same persisted histogram — "keep the top half by
    // length" as ONE broadcast-scalar map pass (the threshold is the
    // q-bin's lower edge; no stat pass, no sort, no window at
    // decision time). The oracle re-derives the bins, the cumulative
    // selection, the edge, and the kept set ---------------------------
    Probe("x140_curate_by_quantile",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = IndexCache.lengthHistogram(s, d)
        HistogramSketch.curateByQuantile(
            docs.select(col("doc_id"),
              length(col("text")).cast("long").as("len")),
            dir, q = 0.5)
          .orderBy("doc_id")
      },
      Some("""WITH v AS (
             |  SELECT doc_id, length(text) AS len,
             |    LEAST(GREATEST(CAST(FLOOR(
             |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
             |      AS bin
             |  FROM documents WHERE text IS NOT NULL),
             |b AS (SELECT bin, COUNT(*) AS n FROM v GROUP BY 1),
             |c AS (SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum FROM b),
             |t AS (SELECT MAX(cum) AS n_total FROM c),
             |sel AS (
             |  SELECT MIN(bin) AS bin
             |  FROM t JOIN c ON cum >= CEIL(0.5 * n_total)),
             |thr AS (SELECT CAST(bin AS DOUBLE) * 16.0 AS thr FROM sel)
             |SELECT doc_id, len FROM v CROSS JOIN thr
             |WHERE CAST(len AS DOUBLE) >= thr
             |ORDER BY doc_id""".stripMargin)),
  )
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Certification probes for the retrieval/selection operators
  * (x74–x76): BM25 keyword retrieval, DSIR importance resampling,
  * cluster-balanced sampling. Each oracle re-derives the operator's
  * full semantics in SQL — tokenization, hashing, smoothing, ranking —
  * so the hash compare certifies the math end-to-end, not just row
  * counts.
  */
object SelectionProbes {

  /** Per-corpus trained DSIR ratio arrays (x75) — the x27/x73
    * trained-artifact amortization: deterministic values, so caching
    * only skips recomputation; bounded at numBuckets doubles per
    * corpus dir. */
  private[operators] val dsirRatioCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** Per-corpus trained langid models (x93) — same precedent; bounded
    * at numBuckets·L doubles per corpus dir. */
  private[operators] val langIdModelCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      graft.expressions.LangIdScoreOps.Model]()

  /** The tok0 CTE shared by x74/x75: (doc_id, pos, w) lowercased
    * whitespace tokens — the same derivation x43/x57 certify against
    * the `word_counts` kernel / termArray. */
  private val tokSql =
    """SELECT doc_id, g.i AS pos, parts[g.i] AS w
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS parts
      |        FROM documents),
      |       (SELECT unnest(generate_series(1, 100000)) AS i) g
      |  WHERE g.i <= len(parts) AND parts[g.i] <> ''""".stripMargin

  val probes: Seq[Probe] = Seq(

    // Bm25.scores: corpus keyword retrieval — Lucene-variant idf,
    // k1/b length normalization. The oracle recomputes dl, df, N,
    // avgdl and the per-term contributions independently. "zzz"
    // exercises the absent-term path (no hits → no df row → no
    // contribution on either engine) --------------------------------
    Probe("x74_bm25",
      (s, d) => {
        graft.GraftExtensions.register(s)   // word_counts resolution
        Bm25.scores(Tables.documents(s, d),
            Seq("spark", "vector", "customer", "zzz"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok0 AS ($tokSql),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok0 GROUP BY 1),
              |stats AS (
              |  SELECT COUNT(*) AS n_docs, AVG(t.dl) AS avgdl FROM (
              |    SELECT d.doc_id, COALESCE(dl.dl, 0) AS dl
              |    FROM documents d LEFT JOIN dl USING (doc_id)) t),
              |hits AS (
              |  SELECT doc_id, w AS word, COUNT(*) AS tf FROM tok0
              |  WHERE w IN ('spark', 'vector', 'customer', 'zzz')
              |  GROUP BY 1, 2),
              |df AS (SELECT word, COUNT(*) AS df FROM hits GROUP BY 1),
              |s AS (
              |  SELECT h.doc_id,
              |    ROUND(SUM(
              |      LN(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
              |      h.tf * (1.2 + 1) /
              |      (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6)
              |      AS bm25,
              |    COUNT(*) AS n_hit
              |  FROM hits h JOIN df USING (word) JOIN dl USING (doc_id)
              |  CROSS JOIN stats GROUP BY 1)
              |SELECT doc_id, bm25, n_hit FROM s ORDER BY doc_id""".stripMargin)),

    // DSIR (Xie et al. 2023): target = doc_id%5=0, raw = the rest.
    // The oracle re-derives hashed word+bigram features (salt
    // 'dsir_'), both smoothed bucket distributions DENSE over all
    // 4096 buckets, the per-doc log importance weight, the
    // deterministic Gumbel perturbation, and the top-100 selection —
    // the whole resampling pipeline certified end-to-end ------------
    Probe("x75_dsir_select",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val raw = docs.where(col("doc_id") % 5 =!= 0)
        // the certified path IS the 100 TB path (r9): the bounded
        // ratio table collects ONCE PER CORPUS (the x27/x73
        // trained-artifact amortization precedent — a real pipeline
        // trains the DSIR models once and scores every ingest against
        // them; repeat runs measure the scoring path) and scoring is
        // the zero-shuffle lookup-array projection — SelectionSpec
        // pins it equal to the join-shaped reference scorer
        val ratios = SelectionProbes.dsirRatioCache.computeIfAbsent(d, _ => {
          // one featurize pass counts both distributions (the splits
          // share the table); values identical to two bucketCounts
          val (tc, rc) = Dsir.bucketCountsSplit(docs,
            col("doc_id") % 5 === 0, numBuckets = 4096)
          Dsir.collectRatios(Dsir.logRatios(tc, rc, numBuckets = 4096), 4096)
        })
        val w = Dsir.importanceWeightsMapOnly(raw, ratios, numBuckets = 4096)
        Dsir.gumbelTopK(w, k = 100).orderBy("doc_id")
      },
      Some(s"""WITH tok0 AS ($tokSql),
              |bg AS (
              |  SELECT doc_id, w1 || ' ' || w2 AS term FROM (
              |    SELECT doc_id, w AS w1,
              |      LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              |    FROM tok0) WHERE w2 IS NOT NULL),
              |terms AS (
              |  SELECT doc_id, w AS term FROM tok0
              |  UNION ALL SELECT doc_id, term FROM bg),
              |feat AS (
              |  SELECT doc_id,
              |    CAST('0x' || substring(md5('dsir_' || term), 1, 7) AS BIGINT)
              |      % 4096 AS f
              |  FROM terms),
              |tcnt AS (SELECT f, COUNT(*) AS c FROM feat WHERE doc_id % 5 = 0 GROUP BY 1),
              |rcnt AS (SELECT f, COUNT(*) AS c FROM feat WHERE doc_id % 5 <> 0 GROUP BY 1),
              |tot AS (SELECT (SELECT SUM(c) FROM tcnt) AS t_tot,
              |               (SELECT SUM(c) FROM rcnt) AS r_tot),
              |lr AS (
              |  SELECT r.range AS f,
              |    LN((COALESCE(tc.c, 0) + 1.0) / (tot.t_tot + 4096.0)) -
              |    LN((COALESCE(rc.c, 0) + 1.0) / (tot.r_tot + 4096.0)) AS lr
              |  FROM range(4096) r
              |  LEFT JOIN tcnt tc ON tc.f = r.range
              |  LEFT JOIN rcnt rc ON rc.f = r.range
              |  CROSS JOIN tot),
              |s AS (
              |  SELECT fe.doc_id, ROUND(SUM(lr.lr), 6) AS logw, COUNT(*) AS n_terms
              |  FROM feat fe JOIN lr USING (f)
              |  WHERE fe.doc_id % 5 <> 0 GROUP BY 1),
              |w AS (
              |  SELECT d.doc_id, COALESCE(s.logw, 0.0) AS logw,
              |    COALESCE(s.n_terms, 0) AS n_terms
              |  FROM documents d LEFT JOIN s USING (doc_id)
              |  WHERE d.doc_id % 5 <> 0),
              |g AS (
              |  SELECT doc_id, logw, n_terms,
              |    ROUND(logw - LN(-LN(
              |      (CAST('0x' || substring(md5('dsir_g_' || CAST(doc_id AS VARCHAR)), 1, 7)
              |        AS BIGINT) + 0.5) / 268435456.0)), 6) AS gumbel_key
              |  FROM w),
              |sel AS (
              |  SELECT * FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 100)
              |SELECT doc_id, logw, n_terms, gumbel_key
              |FROM sel ORDER BY doc_id""".stripMargin)),

    // Sampling.clusterBalancedSample: per-cluster cap over the
    // deterministic IVF cells (the x23 quantizer: md5 init cells, one
    // round-6 Lloyd mean step, round-6 argmin with ties to the lower
    // cell), keeper = lowest salted-md5 rank. perCell=40 of ~62/cell
    // is a real cut. The oracle rebuilds the quantizer and the
    // single-window rank the two-phase implementation must match ----
    Probe("x76_cluster_sample",
      (s, d) => {
        graft.GraftExtensions.register(s)   // graft_dot_product resolution
        Sampling.clusterBalancedSample(Tables.embeddings(s, d),
            nlist = 8, perCell = 40)
          .select(col("vec_id"), col("cell"), col("rank_in_cell"))
          .orderBy("vec_id")
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % 8 AS cell0
             |  FROM embeddings),
             |dims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM dims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |ranked AS (
             |  SELECT vec_id, cell,
             |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
             |      CAST('0x' || substring(md5('cbs_' || CAST(vec_id AS VARCHAR)), 1, 7)
             |        AS BIGINT) ASC, vec_id ASC) AS rk
             |  FROM assigned)
             |SELECT vec_id, cell, CAST(rk AS INT) AS rank_in_cell
             |FROM ranked WHERE rk <= 40 ORDER BY vec_id""".stripMargin)),

    // TextOps.knScore: interpolated Kneser-Ney bigram LM (D = 0.75,
    // add-one/V continuation floor), model trained on the even docs,
    // ALL docs scored. The oracle re-derives the bigram table, the
    // per-context totals and type counts, the continuation counts,
    // the piecewise discount/backoff probability and the per-doc mean
    // log-prob independently — the whole smoothing math certified,
    // including unseen-context and OOV-word rows ---------------------
    Probe("x77_kneser_ney",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val (_, bigrams, vocab) =
          TextOps.bigramCounts(docs.where(col("doc_id") % 2 === 0))
        TextOps.knScore(docs, bigrams, vocab, discount = 0.75)
          .orderBy("doc_id")
      },
      Some(s"""WITH tok0 AS ($tokSql),
              |bg AS (
              |  SELECT doc_id, w1, w2 FROM (
              |    SELECT doc_id, w AS w1,
              |      LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              |    FROM tok0) WHERE w2 IS NOT NULL),
              |ref AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
              |b AS (SELECT w1, w2, COUNT(*) AS c12 FROM ref GROUP BY 1, 2),
              |ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM b GROUP BY 1),
              |cont AS (SELECT w2, COUNT(*) AS nleft FROM b GROUP BY 1),
              |tot AS (SELECT COUNT(*) AS t FROM b),
              |v AS (SELECT COUNT(DISTINCT w) AS v FROM tok0 WHERE doc_id % 2 = 0),
              |s AS (
              |  SELECT bg.doc_id,
              |    ROUND(AVG(LN(CASE WHEN ctx.c1 IS NOT NULL THEN
              |        GREATEST(COALESCE(b.c12, 0) - 0.75, 0) / ctx.c1
              |        + 0.75 * ctx.n1p / ctx.c1 *
              |          ((COALESCE(cont.nleft, 0) + 1.0) / (tot.t + GREATEST(v.v, 1)))
              |      ELSE (COALESCE(cont.nleft, 0) + 1.0) / (tot.t + GREATEST(v.v, 1))
              |      END)), 6) AS kn_score,
              |    COUNT(*) AS n_bigrams
              |  FROM bg LEFT JOIN b USING (w1, w2) LEFT JOIN ctx USING (w1)
              |    LEFT JOIN cont USING (w2) CROSS JOIN tot CROSS JOIN v
              |  GROUP BY 1)
              |SELECT d.doc_id, s.kn_score, COALESCE(s.n_bigrams, 0) AS n_bigrams
              |FROM documents d LEFT JOIN s USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    // Dedup.contaminationFraction: the GPT-3/PaLM fractional
    // decontamination rule — flag (eval, train) pairs where the
    // shared distinct trigrams cover >= 10% of the eval doc's own
    // trigram set. The oracle mirrors the pair counts of x16 plus
    // the per-eval-doc totals and the quotient threshold -------------
    Probe("x78_contamination_frac",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val eval = docs.where(col("doc_id") % 2 === 1)
        Dedup.contaminationFraction(train, eval, n = 3, minFrac = 0.1)
          .orderBy("eval_id", "train_id")
      },
      Some("""WITH sh AS (
             |  SELECT DISTINCT doc_id,
             |    array_to_string(words[g.i:g.i + 2], ' ') AS shingle
             |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
             |        FROM documents) w,
             |    (SELECT unnest(generate_series(1, 10000)) AS i) g
             |  WHERE g.i <= greatest(1, len(words) - 2)),
             |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 0),
             |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 2 = 1),
             |tot AS (SELECT eval_id, COUNT(*) AS eval_total FROM ev GROUP BY 1),
             |p AS (
             |  SELECT eval_id, train_id, COUNT(*) AS n_shared
             |  FROM ev JOIN tr USING (shingle) GROUP BY 1, 2)
             |SELECT p.eval_id, p.train_id, p.n_shared, tot.eval_total,
             |  ROUND(CAST(p.n_shared AS DOUBLE) / tot.eval_total, 6) AS overlap_frac
             |FROM p JOIN tot USING (eval_id)
             |WHERE CAST(p.n_shared AS DOUBLE) / tot.eval_total >= 0.1
             |ORDER BY eval_id, train_id""".stripMargin)),

    // Sampling.temperatureMixture: n_i^0.5-proportional source
    // rebalancing at a 200-doc budget. The oracle re-derives the
    // per-source counts, sqrt weights, floor quotas, and the salted
    // per-source rank the two-phase window must reproduce ------------
    Probe("x79_temperature_mixture",
      (s, d) => Sampling.temperatureMixture(Tables.documents(s, d),
          targetTotal = 200, alpha = 0.5)
        .select(col("doc_id"), col("source"), col("rank_in_source"))
        .orderBy("doc_id"),
      Some("""WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
             |w AS (SELECT source, SQRT(CAST(n AS DOUBLE)) AS w FROM cnt),
             |tot AS (SELECT SUM(w) AS tw FROM w),
             |q AS (
             |  SELECT source,
             |    CAST(FLOOR(ROUND(200.0 * w.w / tot.tw, 6)) AS BIGINT) AS quota
             |  FROM w CROSS JOIN tot),
             |r AS (
             |  SELECT doc_id, source,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
             |      CAST('0x' || substring(md5('tmix_' || CAST(doc_id AS VARCHAR)), 1, 7)
             |        AS BIGINT) ASC, doc_id ASC) AS rk
             |  FROM documents)
             |SELECT r.doc_id, r.source, CAST(rk AS INT) AS rank_in_source
             |FROM r JOIN q USING (source) WHERE rk <= quota
             |ORDER BY doc_id""".stripMargin)),

    // Dedup.noveltyScore: per-doc fraction of trigrams NOT present in
    // the reference corpus (selection-by-novelty). The oracle
    // re-derives the reference distinct set, the per-doc totals, the
    // matched counts and the quotient. No ROUND on novelty: the
    // quotient is pure deterministic per-row arithmetic ---------------
    Probe("x80_novelty",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        Dedup.noveltyScore(docs.where(col("doc_id") % 2 === 1),
            docs.where(col("doc_id") % 2 === 0), n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
             |  SELECT DISTINCT doc_id,
             |    array_to_string(words[g.i:g.i + 2], ' ') AS shingle
             |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
             |        FROM documents) w,
             |    (SELECT unnest(generate_series(1, 10000)) AS i) g
             |  WHERE g.i <= greatest(1, len(words) - 2)),
             |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
             |ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1),
             |t AS (
             |  SELECT ev.doc_id, COUNT(*) AS n_shingles,
             |    CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_matched
             |  FROM ev LEFT JOIN tr ON ev.shingle = tr.shingle
             |  GROUP BY 1)
             |SELECT d.doc_id, COALESCE(t.n_matched, 0) AS n_matched,
             |  COALESCE(t.n_shingles, 0) AS n_shingles,
             |  CASE WHEN t.n_shingles > 0 THEN
             |    1.0 - CAST(t.n_matched AS DOUBLE) / t.n_shingles END AS novelty
             |FROM documents d LEFT JOIN t USING (doc_id)
             |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin)),

    // LogisticQuality: trained LR curation head — 5 rounds of
    // full-batch gradient descent over rational features, then score.
    // The oracle unrolls the ENTIRE training trajectory CTE-for-CTE
    // (per-round round-6 gradient averages pin the only
    // order-sensitive doubles), so the hash compare certifies the
    // trained weights AND the scoring pass end-to-end ----------------
    Probe("x81_logistic_quality",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w = LogisticQuality.train(docs.where(col("doc_id") % 2 === 0),
          col("doc_id") % 4 === 0, lr = 0.5, iters = 5)
        LogisticQuality.score(docs, w).orderBy("doc_id")
      },
      Some {
        val iters = (1 to 5).map { k =>
          s"""g$k AS (
             |  SELECT ROUND(AVG(p - y), 6) AS d0, ROUND(AVG((p - y) * x1), 6) AS d1,
             |         ROUND(AVG((p - y) * x2), 6) AS d2, ROUND(AVG((p - y) * x3), 6) AS d3
             |  FROM (SELECT tr.*, 1.0e0/(1.0e0 + EXP(-(b0 + b1*x1 + b2*x2 + b3*x3))) AS p
             |        FROM tr CROSS JOIN w${k - 1})),
             |w$k AS (
             |  SELECT b0 - 0.5e0*d0 AS b0, b1 - 0.5e0*d1 AS b1,
             |         b2 - 0.5e0*d2 AS b2, b3 - 0.5e0*d3 AS b3
             |  FROM w${k - 1} CROSS JOIN g$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (
           |  SELECT doc_id, n_chars,
           |    CAST(length(text) AS DOUBLE) AS len,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS spaces,
           |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok
           |  FROM documents),
           |feat AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 4 = 0 THEN 1.0e0 ELSE 0.0e0 END AS y,
           |    GREATEST(0.0e0, LEAST(1.0e0,
           |      (CASE WHEN len > 0 THEN alpha / len ELSE 0.0e0 END) * 0.5e0 +
           |      GREATEST(0.0e0, 1.0e0 - ABS((CASE WHEN len > 0 THEN spaces / len
           |        ELSE 0.0e0 END) - 1.0e0/6.0e0) * 3.0e0) * 0.3e0 +
           |      (1.0e0 - (CASE WHEN len > 0 THEN punct / len ELSE 0.0e0 END)) * 0.2e0))
           |      AS x1,
           |    CAST(tok AS DOUBLE) / (CAST(tok AS DOUBLE) + 100.0e0) AS x2,
           |    CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 1000.0e0) AS x3
           |  FROM q),
           |tr AS (SELECT y, x1, x2, x3 FROM feat WHERE doc_id % 2 = 0),
           |w0 AS (SELECT 0.0e0 AS b0, 0.0e0 AS b1, 0.0e0 AS b2, 0.0e0 AS b3),
           |$iters
           |SELECT f.doc_id,
           |  ROUND(1.0e0/(1.0e0 + EXP(-(b0 + b1*f.x1 + b2*f.x2 + b3*f.x3))), 6)
           |    AS p_quality
           |FROM feat f CROSS JOIN w5 ORDER BY f.doc_id""".stripMargin
      }),

    // LangId: trained multiclass NB language ID over hashed char
    // trigrams — trained on the even-id half (labels = the corpus
    // lang column), every document scored for all five languages,
    // argmax with the score-then-lang tie-break. The oracle
    // re-derives normalization, trigram extraction, the md5 bucket
    // hash, per-(feature, lang) counts, add-1 smoothing, the
    // document-count prior, and the deterministic argmax ------------
    Probe("x93_langid_classifier",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // the certified path IS the 100 TB path (r9): the bounded
        // model trains and collects ONCE PER CORPUS (the x27/x73
        // trained-artifact amortization precedent) and scoring is the
        // zero-shuffle codegen kernel — LangIdSpec pins it row-for-row
        // equal to the join-shaped reference scorer LangId.predict
        val model = SelectionProbes.langIdModelCache.computeIfAbsent(d, _ => {
          val (counts, totals) = LangId.train(
            docs.where(col("doc_id") % 2 === 0), numBuckets = 4096)
          LangId.collectModel(counts, totals, numBuckets = 4096)
        })
        LangId.predictMapOnly(docs, model, numBuckets = 4096)
          .orderBy("doc_id")
      },
      Some("""WITH norm AS (
             |  SELECT doc_id, lang,
             |    lower(trim(regexp_replace(regexp_replace(text,
             |      '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))) AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, substr(t, gg.i, 3) AS gram
             |  FROM norm, (SELECT unnest(generate_series(1, 100000)) AS i) gg
             |  WHERE gg.i <= length(t) - 2),
             |feat AS (
             |  SELECT doc_id,
             |    CAST('0x' || substring(md5('lid_' || gram), 1, 7) AS BIGINT)
             |      % 4096 AS f
             |  FROM g),
             |fcnt AS (
             |  SELECT doc_id, f, COUNT(*) AS m FROM feat GROUP BY 1, 2),
             |tr AS (
             |  SELECT f.f, n.lang FROM feat f JOIN norm n USING (doc_id)
             |  WHERE f.doc_id % 2 = 0),
             |cnt AS (SELECT f, lang, COUNT(*) AS c FROM tr GROUP BY 1, 2),
             |lt AS (
             |  SELECT tg.lang, tg.t_grams, nd.n_docs FROM
             |    (SELECT lang, COUNT(*) AS t_grams FROM tr GROUP BY 1) tg
             |    JOIN (SELECT lang, COUNT(*) AS n_docs FROM documents
             |          WHERE doc_id % 2 = 0 GROUP BY 1) nd USING (lang)),
             |tot AS (SELECT SUM(n_docs) AS total FROM lt),
             |pl AS (
             |  SELECT fc.doc_id, l.lang,
             |    ROUND(LN(CAST(l.n_docs AS DOUBLE) /
             |             (SELECT CAST(total AS DOUBLE) FROM tot)) +
             |      SUM(fc.m * LN((COALESCE(cnt.c, 0) + 1.0) /
             |              (l.t_grams + 1.0 * 4096))), 6) AS score,
             |    CAST(SUM(fc.m) AS BIGINT) AS n_grams
             |  FROM fcnt fc CROSS JOIN lt l
             |  LEFT JOIN cnt ON cnt.f = fc.f AND cnt.lang = l.lang
             |  GROUP BY fc.doc_id, l.lang, l.t_grams, l.n_docs),
             |best AS (
             |  SELECT doc_id, lang, score, n_grams,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY score DESC, lang DESC) AS rn
             |  FROM pl)
             |SELECT d.doc_id, b.lang AS lang_pred, b.score AS lid_score,
             |  COALESCE(b.n_grams, 0) AS n_grams
             |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
             |  USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Dedup.decontaminateSpans: SPAN-level benchmark excision — the
    // eval set is a 12-word window (words 5..16) of every 10th
    // document, so those documents (and any doc sharing one of the
    // five 8-gram windows) lose exactly the matching spans while the
    // rest of their text survives. The oracle re-derives eval
    // windows, 8-gram hashes, the semi join, the gaps-and-islands
    // interval merge, and the positional rebuild --------------------
    Probe("x94_decontaminate_spans",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val evalDf = docs.where(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("eval_id"),
            array_join(slice(
              filter(split(trim(col("text")), "\\s+"), w => w =!= ""),
              5, 12), " ").as("text"))
        Dedup.decontaminateSpans(docs, evalDf, k = 8).orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    regexp_split_to_array(trim(text), '\s+'),
             |    x -> x <> '') AS parts
             |  FROM documents),
             |ev AS (
             |  SELECT doc_id, list_slice(parts, 5, 16) AS parts
             |  FROM w WHERE doc_id % 10 = 0),
             |eh AS (
             |  SELECT DISTINCT
             |    CAST('0x' || substring(md5('sd_' ||
             |      array_to_string(list_transform(
             |        list_slice(parts, gg.i, gg.i + 7), x -> lower(x)), ' ')),
             |      1, 15) AS BIGINT) AS h
             |  FROM ev, (SELECT unnest(generate_series(1, 100000)) AS i) gg
             |  WHERE gg.i <= len(parts) - 7),
             |g AS (
             |  SELECT doc_id, gg.i - 1 AS s,
             |    CAST('0x' || substring(md5('sd_' ||
             |      array_to_string(list_transform(
             |        list_slice(parts, gg.i, gg.i + 7), x -> lower(x)), ' ')),
             |      1, 15) AS BIGINT) AS h
             |  FROM w, (SELECT unnest(generate_series(1, 100000)) AS i) gg
             |  WHERE gg.i <= len(parts) - 7),
             |dup AS (
             |  SELECT g.doc_id, g.s, g.s + 8 AS e
             |  FROM g JOIN eh ON g.h = eh.h),
             |iv AS (
             |  SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM (
             |    SELECT doc_id, s, e,
             |      SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
             |        OVER (PARTITION BY doc_id ORDER BY s
             |              ROWS UNBOUNDED PRECEDING) AS grp
             |    FROM (SELECT doc_id, s, e,
             |            MAX(e) OVER (PARTITION BY doc_id ORDER BY s
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |          FROM dup))
             |  GROUP BY doc_id, grp),
             |cov AS (SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos FROM iv),
             |rem AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS n_removed
             |        FROM iv GROUP BY doc_id),
             |tok AS (
             |  SELECT doc_id, gg.i - 1 AS pos, parts[gg.i] AS w
             |  FROM w, (SELECT unnest(generate_series(1, 100000)) AS i) gg
             |  WHERE gg.i <= len(parts)),
             |kept AS (
             |  SELECT t.doc_id, string_agg(t.w, ' ' ORDER BY t.pos) AS text_clean
             |  FROM tok t LEFT JOIN cov c
             |    ON t.doc_id = c.doc_id AND t.pos = c.pos
             |  WHERE c.doc_id IS NULL
             |  GROUP BY t.doc_id)
             |SELECT d.doc_id,
             |  COALESCE(kept.text_clean, '') AS text_clean,
             |  COALESCE(rem.n_removed, 0) AS n_removed
             |FROM documents d
             |LEFT JOIN kept USING (doc_id) LEFT JOIN rem USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Bm25.topKJoin: the BATCH BM25 top-k join — the lexical sibling
    // of the dense batch ANN joins (x111/x112): every query row gets
    // its top-5 documents by BM25 over ITS term list, from ONE
    // map-only corpus pass against the union vocabulary. df is
    // query-independent (spec-pinned equal to per-query x74 runs);
    // ranks compare the round-6 scores, ties to the lower doc_id.
    // The oracle re-derives dl/df/N/avgdl, the per-(query, doc)
    // contribution sums, and the per-query rank ---------------------
    Probe("x120_bm25_join",
      (s, d) => {
        graft.GraftExtensions.register(s)
        import s.implicits._
        val queries = Seq(
          (1L, Seq("spark", "vector")),
          (2L, Seq("customer", "zzz", "spark")),
          (3L, Seq("vector", "supplier", "region", "order")))
          .toDF("q_id", "terms")
        Bm25.topKJoin(Tables.documents(s, d), queries, k = 5)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH tok0 AS ($tokSql),
              |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, word FROM (VALUES
              |  (1, 'spark'), (1, 'vector'),
              |  (2, 'customer'), (2, 'zzz'), (2, 'spark'),
              |  (3, 'vector'), (3, 'supplier'), (3, 'region'), (3, 'order'))
              |  AS t(q_id, word)),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok0 GROUP BY 1),
              |stats AS (
              |  SELECT COUNT(*) AS n_docs, AVG(t.dl) AS avgdl FROM (
              |    SELECT d.doc_id, COALESCE(dl.dl, 0) AS dl
              |    FROM documents d LEFT JOIN dl USING (doc_id)) t),
              |hits AS (
              |  SELECT doc_id, w AS word, COUNT(*) AS tf FROM tok0
              |  WHERE w IN (SELECT DISTINCT word FROM q)
              |  GROUP BY 1, 2),
              |df AS (SELECT word, COUNT(*) AS df FROM hits GROUP BY 1),
              |pair AS (
              |  SELECT qq.q_id, h.doc_id,
              |    ROUND(SUM(
              |      LN(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
              |      h.tf * (1.2 + 1) /
              |      (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6)
              |      AS bm25,
              |    COUNT(*) AS n_hit
              |  FROM hits h JOIN df USING (word) JOIN dl USING (doc_id)
              |  JOIN q qq USING (word)
              |  CROSS JOIN stats GROUP BY 1, 2)
              |SELECT q_id, doc_id, bm25, n_hit, CAST(rn AS INT) AS rank FROM (
              |  SELECT q_id, doc_id, bm25, n_hit,
              |    ROW_NUMBER() OVER (PARTITION BY q_id
              |                       ORDER BY bm25 DESC, doc_id) AS rn
              |  FROM pair) WHERE rn <= 5
              |ORDER BY q_id, rank""".stripMargin)),

    // Bm25.topKJoinFromIndex: the AT-REST lexical index — the x120
    // join answered from persisted term-bucketed postings instead of
    // a corpus scan. The index is built on HALF the corpus and
    // APPENDED with the other half (marker-gated), so the certified
    // artifact is an appended one: the oracle re-derives postings,
    // df, N/avgdl and scores from the RAW corpus, certifying both
    // the at-rest layout and append ≡ rebuild cross-engine. "qqq"
    // exercises the absent-term path through the pruned scan --------
    Probe("x122_bm25_index_at_rest",
      (s, d) => {
        graft.GraftExtensions.register(s)
        import s.implicits._
        val docs = Tables.documents(s, d)
        val tag = IndexCache.corpusTag("x122", d, docs, Seq("doc_id", "text"))
        val dir = IndexCache.built(s"x122_bm25_index_$tag") { dir =>
          Bm25.writeIndex(docs.where(col("doc_id") % 2 === 0), dir,
            nBuckets = 16)
          Bm25.appendToIndex(docs.where(col("doc_id") % 2 === 1), dir,
            doneMarker = Some("b1"))
        }
        val queries = Seq(
          (1L, Seq("region", "spark")),
          (2L, Seq("vector", "nation", "qqq")),
          (3L, Seq("supplier", "order", "customer"))).toDF("q_id", "terms")
        Bm25.topKJoinFromIndex(queries, dir, k = 4)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH tok0 AS ($tokSql),
              |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, word FROM (VALUES
              |  (1, 'region'), (1, 'spark'),
              |  (2, 'vector'), (2, 'nation'), (2, 'qqq'),
              |  (3, 'supplier'), (3, 'order'), (3, 'customer'))
              |  AS t(q_id, word)),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok0 GROUP BY 1),
              |stats AS (
              |  SELECT COUNT(*) AS n_docs, AVG(t.dl) AS avgdl FROM (
              |    SELECT d.doc_id, COALESCE(dl.dl, 0) AS dl
              |    FROM documents d LEFT JOIN dl USING (doc_id)) t),
              |hits AS (
              |  SELECT doc_id, w AS word, COUNT(*) AS tf FROM tok0
              |  WHERE w IN (SELECT DISTINCT word FROM q)
              |  GROUP BY 1, 2),
              |df AS (SELECT word, COUNT(*) AS df FROM hits GROUP BY 1),
              |pair AS (
              |  SELECT qq.q_id, h.doc_id,
              |    ROUND(SUM(
              |      LN(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
              |      h.tf * (1.2 + 1) /
              |      (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6)
              |      AS bm25,
              |    COUNT(*) AS n_hit
              |  FROM hits h JOIN df USING (word) JOIN dl USING (doc_id)
              |  JOIN q qq USING (word)
              |  CROSS JOIN stats GROUP BY 1, 2)
              |SELECT q_id, doc_id, bm25, n_hit, CAST(rn AS INT) AS rank FROM (
              |  SELECT q_id, doc_id, bm25, n_hit,
              |    ROW_NUMBER() OVER (PARTITION BY q_id
              |                       ORDER BY bm25 DESC, doc_id) AS rn
              |  FROM pair) WHERE rn <= 4
              |ORDER BY q_id, rank""".stripMargin)),
  )
}

package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}

import graft.expressions.UnicodeNormalize
import graft.sources.Tables
import graft.util.Stage

/** Certification probes for the URL-curation and corpus-assembly
  * operators (x60–x64). URLs are synthesized from `doc_id` arithmetic
  * (the documents table carries none), so the x60/x61/x62 oracles can
  * state the EXPECTED answer by the same arithmetic — ground truth by
  * construction, independent of the Scala parsing path under test.
  * x63/x64 oracles re-derive the operator's semantics in SQL
  * (regexp character counting; the global window cumsum rule the
  * bucketed implementation must match row-for-row).
  */
object CurationProbes {

  /** The messy-URL synthesis shared by x60's Spark side: every
    * canonicalization feature keyed off doc_id residues, including a
    * malformed (scheme-less) subset at id%13=0. */
  private def messyUrl = {
    val id = col("doc_id")
    val scheme = when(id % 2 === 0, "https").otherwise("http")
    val port = when(id % 6 === 0,
      when(id % 2 === 0, ":443").otherwise(":80")).otherwise("")
    val query = when(id % 5 === 1, "?b=2&a=1")
      .when(id % 5 === 2, "?utm_source=feed&a=1")
      .when(id % 5 === 3, "?utm_campaign=x")
      .when(id % 5 === 4, "?fbclid=abc&z=9&gclid=g")
      .otherwise("")
    when(id % 13 === 0, concat(lit("not a url "), id.cast("string")))
      .otherwise(concat(
        scheme, lit("://"),
        when(id % 4 === 0, "www.").otherwise(""),
        lit("site"), (id % 10).cast("string"), lit(".example.com"), port,
        lit("/Page/"), (id % 7).cast("string"),
        when(id % 3 === 0, "/").otherwise(""),
        query,
        when(id % 2 === 0, "#frag").otherwise("")))
  }

  val probes: Seq[Probe] = Seq(

    // UrlOps.canonicalizeUrl: scheme/host lowercasing, default-port,
    // www., trailing-slash and fragment stripping, tracking-param
    // removal, param sorting, malformed → NULL. The oracle states the
    // canonical form directly from the id arithmetic that built the
    // messy URL — ground truth by construction ----------------------
    Probe("x60_url_canonical",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          UrlOps.canonicalizeUrl(messyUrl).as("canonical_url"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 13 = 0 THEN NULL
             |       ELSE (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
             |         || '://site' || CAST(doc_id % 10 AS VARCHAR)
             |         || '.example.com/Page/' || CAST(doc_id % 7 AS VARCHAR)
             |         || (CASE doc_id % 5 WHEN 1 THEN '?a=1&b=2'
             |                             WHEN 2 THEN '?a=1'
             |                             WHEN 4 THEN '?z=9'
             |                             ELSE '' END)
             |  END AS canonical_url
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // UrlOps.urlDedup: one keeper per canonical URL (longest text,
    // ties to the smallest id), malformed URLs keep unconditionally.
    // URLs collide by construction (canonical depends only on
    // doc_id % 50); the oracle re-derives keeper choice and group
    // size with an independent window formulation -------------------
    Probe("x61_url_dedup",
      (s, d) => {
        val id = col("doc_id")
        val url = when(id % 13 === 0, concat(lit("bad "), id.cast("string")))
          .otherwise(concat(
            lit("http://"),
            when(id % 2 === 0, "www.").otherwise(""),
            lit("dup"), (id % 50).cast("string"), lit(".example.com"),
            when(id % 3 === 0, "/").otherwise(""),
            when(id % 5 === 0, concat(lit("?utm_s="), id.cast("string")))
              .otherwise("")))
        UrlOps.urlDedup(Tables.documents(s, d).withColumn("url", url))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text,
             |    CASE WHEN doc_id % 13 = 0 THEN NULL
             |         ELSE 'http://dup' || CAST(doc_id % 50 AS VARCHAR)
             |              || '.example.com' END AS canonical_url
             |  FROM documents),
             |k AS (
             |  SELECT doc_id, canonical_url,
             |    ROW_NUMBER() OVER (PARTITION BY canonical_url
             |                       ORDER BY length(text) DESC, doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY canonical_url) AS c
             |  FROM u WHERE canonical_url IS NOT NULL)
             |SELECT doc_id, canonical_url, CAST(c AS BIGINT) AS n_in_group
             |FROM k WHERE rn = 1
             |UNION ALL
             |SELECT doc_id, NULL AS canonical_url, CAST(1 AS BIGINT) AS n_in_group
             |FROM u WHERE canonical_url IS NULL
             |ORDER BY doc_id""".stripMargin)),

    // UrlOps.domainQuota: top-20 docs per host by n_chars (ties to the
    // smallest id); hostless rows keep with rank 0. The oracle is the
    // single-window formulation the two-phase implementation must
    // reproduce exactly ---------------------------------------------
    Probe("x62_domain_quota",
      (s, d) => {
        val id = col("doc_id")
        val url = when(id % 11 === 0, lit("oops"))
          .otherwise(concat(lit("https://q"), (id % 10).cast("string"),
            lit(".example.org/p/"), id.cast("string")))
        UrlOps.domainQuota(
            Tables.documents(s, d).withColumn("url", url)
              .withColumn("score", col("n_chars")),
            maxPerDomain = 20)
          .select(col("doc_id"), col("host"), col("rank_in_host"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN doc_id % 11 = 0 THEN ''
             |         ELSE 'q' || CAST(doc_id % 10 AS VARCHAR)
             |              || '.example.org' END AS host
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, host,
             |    ROW_NUMBER() OVER (PARTITION BY host
             |                       ORDER BY n_chars DESC, doc_id) AS rk
             |  FROM h WHERE host <> '')
             |SELECT doc_id, host, CAST(rk AS INT) AS rank_in_host
             |FROM r WHERE rk <= 20
             |UNION ALL
             |SELECT doc_id, host, CAST(0 AS INT) AS rank_in_host
             |FROM h WHERE host = ''
             |ORDER BY doc_id""".stripMargin)),

    // TextOps.scriptProfile: Unicode-block histogram + dominant
    // script. Text is remixed by id residue so every script branch
    // (and the none/tie priority rules) is exercised; the oracle
    // recomputes each count with independent regexp length-difference
    // SQL and the same CASE priority --------------------------------
    Probe("x63_script_profile",
      (s, d) => {
        val id = col("doc_id")
        val tx = when(id % 7 === 1, "привет мир как дела")
          .when(id % 7 === 2, "漢字漢字 こんにちは")
          .when(id % 7 === 3, "hello مرحبا بالعالم")
          .when(id % 7 === 4, "123 !!! 456 ???")
          .when(id % 7 === 5, "नमस्ते दुनिया")
          .when(id % 7 === 6, "안녕하세요 세계")
          .otherwise(col("text"))
        TextOps.scriptProfile(
            Tables.documents(s, d).withColumn("text", tx))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CASE doc_id % 7
             |      WHEN 1 THEN 'привет мир как дела'
             |      WHEN 2 THEN '漢字漢字 こんにちは'
             |      WHEN 3 THEN 'hello مرحبا بالعالم'
             |      WHEN 4 THEN '123 !!! 456 ???'
             |      WHEN 5 THEN 'नमस्ते दुनिया'
             |      WHEN 6 THEN '안녕하세요 세계'
             |      ELSE text END AS tx
             |  FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    CAST(length(tx) - length(regexp_replace(tx, '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
             |    CAST(length(tx) - length(regexp_replace(tx, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
             |    CAST(length(tx) - length(regexp_replace(tx, '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
             |    CAST(length(tx) - length(regexp_replace(tx, '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
             |    CAST(length(tx) - length(regexp_replace(tx, '[\x{0900}-\x{097F}]', '', 'g')) AS BIGINT) AS n_devanagari,
             |    CAST(length(tx) - length(regexp_replace(tx, '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk,
             |    CAST(length(tx) - length(regexp_replace(tx, '[\x{AC00}-\x{D7AF}]', '', 'g')) AS BIGINT) AS n_hangul
             |  FROM t),
             |m AS (
             |  SELECT *,
             |    n_latin + n_cyrillic + n_greek + n_arabic + n_devanagari
             |      + n_cjk + n_hangul AS n_scripted,
             |    greatest(n_latin, n_cyrillic, n_greek, n_arabic,
             |             n_devanagari, n_cjk, n_hangul) AS mx
             |  FROM c)
             |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic,
             |  n_devanagari, n_cjk, n_hangul, n_scripted,
             |  CASE WHEN n_scripted = 0 THEN 'none'
             |       WHEN n_latin = mx THEN 'latin'
             |       WHEN n_cyrillic = mx THEN 'cyrillic'
             |       WHEN n_greek = mx THEN 'greek'
             |       WHEN n_arabic = mx THEN 'arabic'
             |       WHEN n_devanagari = mx THEN 'devanagari'
             |       WHEN n_cjk = mx THEN 'cjk'
             |       ELSE 'hangul' END AS script,
             |  CASE WHEN n_scripted = 0 THEN 0.0
             |       ELSE CAST(mx AS DOUBLE) / n_scripted END AS script_frac
             |FROM m ORDER BY doc_id""".stripMargin)),

    // Sampling.tokenBudgetSelect: the bucketed budget fill must equal
    // the global-window cumsum rule row-for-row — the oracle IS that
    // global window (the formulation the implementation explicitly
    // avoids at scale) ----------------------------------------------
    Probe("x64_token_budget",
      (s, d) => Sampling.tokenBudgetSelect(
          Tables.documents(s, d).select(col("doc_id"),
            col("n_chars").cast("double").as("score"),
            TextOps.wsTokenCount(col("text")).cast("long").as("n_toks")),
          budget = 12000L, scoreCol = "score", tokenCol = "n_toks")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
             |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
             |         END AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, score, n_tokens,
             |    SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
             |                        ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM t)
             |SELECT doc_id, score, n_tokens FROM c
             |WHERE cum <= 12000 ORDER BY doc_id""".stripMargin)),

    // Sampling.scoreBuckets ∘ TextOps.lmScore: CCNet's head/middle/
    // tail quality tiers — LM-score every document (the x43-certified
    // scorer, trained on the even docs), then bucket per language by
    // exact score percentiles. The oracle re-derives the scoring chain
    // AND the per-group quantile thresholds independently ------------
    Probe("x70_ccnet_buckets",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val (contexts, bigrams, vocab) =
          TextOps.bigramCounts(docs.where(col("doc_id") % 2 === 0))
        // materialize the score table once — the deployment shape
        // (CCNet scores shards to disk, then tiers); without it both
        // scoreBuckets branches (threshold training + labeling)
        // re-run the full lmScore window+joins over the corpus
        val scored = Stage.truncate(TextOps.lmScore(docs, contexts, bigrams, vocab, k = 1.0)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
        // the per-lang threshold TABLE is bounded (|langs| rows) but
        // its two-phase-percentile derivation is a 74-exchange subplan
        // re-instantiated into the final label plan (60 re-references
        // of the score table in the before-plan) — materialize it so
        // the labeling force is one broadcast join (the deployment
        // shape: thresholds persist, arrivals tier against them)
        val thr = Stage.truncate(
          Sampling.scoreBucketThresholds(scored, "lm_score", "lang"))
        Sampling.labelByThresholds(scored, thr, "lm_score", "lang")
          .select(col("doc_id"), col("lang"), col("lm_score"), col("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH tok0 AS (
             |  SELECT doc_id, g.i AS pos, parts[g.i] AS w
             |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS parts
             |        FROM documents),
             |       (SELECT unnest(generate_series(1, 100000)) AS i) g
             |  WHERE g.i <= len(parts) AND parts[g.i] <> ''),
             |bg AS (
             |  SELECT doc_id, w1, w2 FROM (
             |    SELECT doc_id, w AS w1,
             |      LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
             |    FROM tok0) WHERE w2 IS NOT NULL),
             |ref AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
             |b AS (SELECT w1, w2, COUNT(*) AS c12 FROM ref GROUP BY 1, 2),
             |c AS (SELECT w1, COUNT(*) AS c1 FROM ref GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT w) AS v FROM tok0 WHERE doc_id % 2 = 0),
             |s AS (
             |  SELECT bg.doc_id,
             |    ROUND(AVG(LN((COALESCE(b.c12, 0) + 1.0) /
             |                 (COALESCE(c.c1, 0) + 1.0 * v.v))), 6) AS lm_score
             |  FROM bg LEFT JOIN b USING (w1, w2) LEFT JOIN c USING (w1)
             |  CROSS JOIN v GROUP BY 1),
             |sc AS (
             |  SELECT d.doc_id, d.lang, s.lm_score
             |  FROM documents d LEFT JOIN s USING (doc_id)),
             |th AS (
             |  SELECT lang, quantile_cont(lm_score, 0.9) AS qh,
             |    quantile_cont(lm_score, 0.5) AS qm
             |  FROM sc GROUP BY lang)
             |SELECT sc.doc_id, sc.lang, sc.lm_score,
             |  CASE WHEN sc.lm_score IS NULL THEN 'tail'
             |       WHEN sc.lm_score >= th.qh THEN 'head'
             |       WHEN sc.lm_score >= th.qm THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM sc JOIN th USING (lang)
             |ORDER BY sc.doc_id""".stripMargin)),

    // Similarity.quantizeInt8 + cosineTopKInt8: scalar int8 embedding
    // quantization (the 4x memory lever next to PQ's 16x). Scales
    // cancel in cosine, so every intermediate is an exact whole
    // number and the oracle re-derives codes and similarities with no
    // rounding step anywhere ----------------------------------------
    Probe("x71_int8_ann",
      (s, d) => Similarity.cosineTopKInt8(
          Similarity.quantizeInt8(Tables.embeddings(s, d)), queryId = 3, k = 10)
        .orderBy(col("sim").desc, col("vec_id")),
      Some("""WITH qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |c AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |q AS (SELECT codes AS cq FROM c WHERE vec_id = 3),
             |sim AS (
             |  SELECT c.vec_id,
             |    list_dot_product(c.codes, q.cq) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(q.cq, q.cq))) AS sim
             |  FROM c, q WHERE c.vec_id <> 3)
             |SELECT vec_id, sim FROM sim
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Similarity.writeInt8Index + topKInt8FromIndex: the int8 lever
    // composed with the partition-pruned at-rest layout (the r7
    // verdict's integration ask). Integer cosine is exact under any
    // partitioning, so the at-rest result is bit-identical to the
    // full-scan x71 path restricted to the probed cells — the oracle
    // re-derives cells, codes and similarities independently.
    // Int8AnnSpec gates the file-level PartitionFilters ---------------
    Probe("x73_int8_ivf_at_rest",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        // build ONCE per corpus (x41's amortization contract):
        // value-sensitive fingerprint (count+key-sum alone would serve
        // a stale index for regenerated data with the same id set) +
        // completion marker gating BOTH outputs (IndexCache doc)
        val tag = IndexCache.corpusTag("x73", d, embs,
          Seq("vec_id", "embedding"))
        val dir = IndexCache.built(s"x73_int8_index_$tag") { dir =>
          Similarity.writeInt8Index(embs, dir, nlist = 8)
        }
        // (x104 below certifies the INCREMENTAL append path against
        // the same machinery)
        val q = embs.where(col("vec_id") === 3)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble)
        Similarity.topKInt8FromIndex(s, dir, q, k = 10, nprobe = 6,
            excludeId = Some(3L))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % 8 AS cell0
             |  FROM embeddings),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
             |probecells AS (
             |  SELECT cell FROM (
             |    SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             |      ROUND(list_dot_product(q.qv, q.qv)
             |        - 2 * list_dot_product(q.qv, c.c)
             |        + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM cent c CROSS JOIN q) WHERE rn <= 6),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |codes AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |qc AS (SELECT codes AS cq FROM codes WHERE vec_id = 3),
             |sim AS (
             |  SELECT c.vec_id,
             |    list_dot_product(c.codes, qc.cq) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(qc.cq, qc.cq))) AS sim
             |  FROM codes c
             |  JOIN assigned a USING (vec_id)
             |  JOIN probecells p ON a.cell = p.cell
             |  CROSS JOIN qc
             |  WHERE c.vec_id <> 3)
             |SELECT vec_id, sim FROM sim
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Similarity.appendToInt8Index: INCREMENTAL ingest into the
    // at-rest int8 index — build on the even-id half, append the odd
    // half against the PERSISTED centroids (the IVF ingest contract:
    // the coarse quantizer is a versioned artifact), then query an
    // APPENDED vector. The oracle derives centroids from the even
    // half only, assigns ALL vectors against them, and ranks integer
    // cosine within the probed cells — a query after append must be
    // bit-identical to the all-at-once index under the same
    // centroids ------------------------------------------------------
    Probe("x104_int8_index_append",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val tag = IndexCache.corpusTag("x104", d, embs,
          Seq("vec_id", "embedding"))
        val dir = IndexCache.built(s"x104_append_$tag") { dir =>
          Similarity.writeInt8Index(embs.where(col("vec_id") % 2 === 0),
            dir, nlist = 8)
          Similarity.appendToInt8Index(embs.where(col("vec_id") % 2 =!= 0),
            dir)
        }
        val q = embs.where(col("vec_id") === 3)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble)
        Similarity.topKInt8FromIndex(s, dir, q, k = 10, nprobe = 6,
            excludeId = Some(3L))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % 8 AS cell0
             |  FROM embeddings WHERE vec_id % 2 = 0),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM embeddings i CROSS JOIN cent c) WHERE rn = 1),
             |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
             |probecells AS (
             |  SELECT cell FROM (
             |    SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             |      ROUND(list_dot_product(q.qv, q.qv)
             |        - 2 * list_dot_product(q.qv, c.c)
             |        + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM cent c CROSS JOIN q) WHERE rn <= 6),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |codes AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |qc AS (SELECT codes AS cq FROM codes WHERE vec_id = 3),
             |sim AS (
             |  SELECT c.vec_id,
             |    list_dot_product(c.codes, qc.cq) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(qc.cq, qc.cq))) AS sim
             |  FROM codes c
             |  JOIN assigned a USING (vec_id)
             |  JOIN probecells p ON a.cell = p.cell
             |  CROSS JOIN qc
             |  WHERE c.vec_id <> 3)
             |SELECT vec_id, sim FROM sim
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // IndexStats: the staleness baseline/traffic stats behind the
    // centroid-refresh policy (when to re-version the persisted
    // quantizer). Build the int8 index on the even-id half, append
    // the odd half, then read the persisted per-cell stats table —
    // count and Σ round-6 within-cell distance per (cell, phase).
    // The oracle re-derives BOTH phases from the x73/x104 centroid
    // and assignment CTEs (phase = id parity, distance = the chosen
    // cell's round-6 sq-dist), so the numbers the rebuild trigger
    // consumes are hash-certified, not just spec-asserted. Σ over a
    // cell is order-sensitive double math → ROUND(.,4) both sides
    // (the ProbeQueries rounding contract) ---------------------------
    Probe("x107_index_staleness_stats",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val tag = IndexCache.corpusTag("x107", d, embs,
          Seq("vec_id", "embedding"))
        val dir = IndexCache.built(s"x107_stats_$tag") { dir =>
          Similarity.writeInt8Index(embs.where(col("vec_id") % 2 === 0),
            dir, nlist = 8)
          Similarity.appendToInt8Index(embs.where(col("vec_id") % 2 =!= 0),
            dir)
        }
        s.read.parquet(s"$dir/stats")
          .groupBy(col("cell").cast("long").as("cell"), col("phase"))
          .agg(sum("n").cast("long").as("n"),
            round(sum("sum_dist"), 4).as("sum_dist"))
          .orderBy("cell", "phase")
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % 8 AS cell0
             |  FROM embeddings WHERE vec_id % 2 = 0),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |pairs AS (
             |  SELECT i.vec_id, c.cell,
             |    ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |      - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |      + list_dot_product(c.c, c.c), 6) AS dist,
             |    i.vec_id % 2 = 0 AS is_build
             |  FROM embeddings i CROSS JOIN cent c),
             |best AS (
             |  SELECT vec_id, cell, dist, is_build FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
             |      ORDER BY dist ASC, cell ASC) AS rn
             |    FROM pairs) WHERE rn = 1)
             |SELECT cell,
             |  CASE WHEN is_build THEN 'build' ELSE 'append' END AS phase,
             |  COUNT(*) AS n, ROUND(SUM(dist), 4) AS sum_dist
             |FROM best GROUP BY cell, is_build
             |ORDER BY cell, phase""".stripMargin)),

    // Similarity.compactInt8Index: small-file compaction of the
    // append-mode index (the LSM-style maintenance pass). Build on
    // the even half, append the odd half in TWO batches (so cells
    // hold multiple files), COMPACT, then query. Compaction promises
    // value preservation — the rewrite must be invisible to every
    // reader — so the oracle is exactly the x104 append oracle
    // (centroids from the build half, all vectors assigned against
    // them, integer cosine in the probed cells): any row the rewrite
    // drops, duplicates, or perturbs hash-mismatches here. The
    // one-file-per-cell layout claim is pinned by CompactionSpec ----
    Probe("x109_int8_index_compacted",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val tag = IndexCache.corpusTag("x109", d, embs,
          Seq("vec_id", "embedding"))
        val dir = IndexCache.built(s"x109_compact_$tag") { dir =>
          Similarity.writeInt8Index(embs.where(col("vec_id") % 2 === 0),
            dir, nlist = 8)
          Similarity.appendToInt8Index(embs.where(col("vec_id") % 4 === 1),
            dir)
          Similarity.appendToInt8Index(embs.where(col("vec_id") % 4 === 3),
            dir)
          Similarity.compactInt8Index(s, dir)
        }
        val q = embs.where(col("vec_id") === 3)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble)
        Similarity.topKInt8FromIndex(s, dir, q, k = 10, nprobe = 6,
            excludeId = Some(3L))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % 8 AS cell0
             |  FROM embeddings WHERE vec_id % 2 = 0),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM embeddings i CROSS JOIN cent c) WHERE rn = 1),
             |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
             |probecells AS (
             |  SELECT cell FROM (
             |    SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             |      ROUND(list_dot_product(q.qv, q.qv)
             |        - 2 * list_dot_product(q.qv, c.c)
             |        + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM cent c CROSS JOIN q) WHERE rn <= 6),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |codes AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |qc AS (SELECT codes AS cq FROM codes WHERE vec_id = 3),
             |sim AS (
             |  SELECT c.vec_id,
             |    list_dot_product(c.codes, qc.cq) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(qc.cq, qc.cq))) AS sim
             |  FROM codes c
             |  JOIN assigned a USING (vec_id)
             |  JOIN probecells p ON a.cell = p.cell
             |  CROSS JOIN qc
             |  WHERE c.vec_id <> 3)
             |SELECT vec_id, sim FROM sim
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Similarity.annJoinInt8FromIndex: the BATCH ANN join (k-NN join)
    // — hard-negative mining / batch retrieval: every 50th vector
    // queries the full-corpus index for its top-5 neighbors within
    // its 4 nearest cells, self excluded. The oracle re-derives the
    // whole pipeline per query: the x73 centroid/assignment chain,
    // per-query cell routing (round-6 sq-dist, cell tie), the x104
    // int8 quantization, exact-integer cosine within probed cells,
    // and the (sim DESC, id) ROW_NUMBER rank — certifying the join
    // shape, not just one query ------------------------------------
    Probe("x111_ann_join",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val dir = IndexCache.annInt8Index(s, d)
        val queries = embs.where(col("vec_id") % 50 === 3)
          .select(col("vec_id").as("q_id"), col("embedding"))
        Similarity.annJoinInt8FromIndex(queries, dir, k = 5, nprobe = 4)
          .orderBy("q_id", "rank")
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS cell0
             |  FROM embeddings),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |qs AS (
             |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id % 50 = 3),
             |qcells AS (
             |  SELECT q_id, cell FROM (
             |    SELECT q.q_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             |        ROUND(list_dot_product(q.qv, q.qv)
             |          - 2 * list_dot_product(q.qv, c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM qs q CROSS JOIN cent c) WHERE rn <= 4),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |codes AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |cand AS (
             |  SELECT p.q_id, c.vec_id,
             |    list_dot_product(c.codes, qc.codes) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(qc.codes, qc.codes))) AS sim
             |  FROM codes c
             |  JOIN assigned a USING (vec_id)
             |  JOIN qcells p ON a.cell = p.cell
             |  JOIN codes qc ON qc.vec_id = p.q_id
             |  WHERE c.vec_id <> p.q_id)
             |SELECT q_id, vec_id, sim, CAST(rn AS INT) AS rank FROM (
             |  SELECT q_id, vec_id, sim,
             |    ROW_NUMBER() OVER (PARTITION BY q_id
             |                       ORDER BY sim DESC, vec_id) AS rn
             |  FROM cand) WHERE rn <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // Similarity.mineTriplets: the contrastive TRIPLET FACTORY — the
    // end-to-end consumer of the batch ANN join. Every 40th vector is
    // an anchor; its hardest POSITIVE is the most-similar same-label
    // vector (integer cosine, ties to the lower id, partial-agg
    // argmax), its 3 hardest NEGATIVES mined through the x111 at-rest
    // int8 index with ALL same-label pairs excluded BEFORE the
    // shortlist (excludePairs — positives must not consume negative
    // slots). The oracle re-derives positives, exclusions, mining and
    // both rank rules engine-for-engine on the same index chain -----
    Probe("x115_triplet_mining",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val dir = IndexCache.annInt8Index(s, d)
        val anchors = embs.where(col("vec_id") % 40 === 5)
          .select(col("vec_id").as("q_id"), col("embedding"), col("label"))
        Similarity.mineTriplets(anchors, embs, dir, negK = 3, nprobe = 4)
          .orderBy("q_id", "neg_rank")
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS cell0
             |  FROM embeddings),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |qs AS (
             |  SELECT vec_id AS q_id, embedding, label FROM embeddings
             |  WHERE vec_id % 40 = 5),
             |qcells AS (
             |  SELECT q_id, cell FROM (
             |    SELECT q.q_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             |        ROUND(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
             |          - 2 * list_dot_product(q.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM qs q CROSS JOIN cent c) WHERE rn <= 4),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |codes AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |psim AS (
             |  SELECT q.q_id, e.vec_id,
             |    list_dot_product(ce.codes, cq.codes) /
             |      (sqrt(list_dot_product(ce.codes, ce.codes)) *
             |       sqrt(list_dot_product(cq.codes, cq.codes))) AS sim
             |  FROM qs q
             |  JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.q_id
             |  JOIN codes ce ON ce.vec_id = e.vec_id
             |  JOIN codes cq ON cq.vec_id = q.q_id),
             |pos AS (
             |  SELECT q_id, vec_id AS pos_id, sim AS pos_sim FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             |      ORDER BY sim DESC, vec_id) AS rn FROM psim) WHERE rn = 1),
             |neg AS (
             |  SELECT p.q_id, c.vec_id,
             |    list_dot_product(c.codes, qc.codes) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(qc.codes, qc.codes))) AS sim
             |  FROM codes c
             |  JOIN assigned a USING (vec_id)
             |  JOIN qcells p ON a.cell = p.cell
             |  JOIN codes qc ON qc.vec_id = p.q_id
             |  JOIN embeddings lc ON lc.vec_id = c.vec_id
             |  JOIN qs q ON q.q_id = p.q_id
             |  WHERE c.vec_id <> p.q_id AND lc.label <> q.label),
             |ranked AS (
             |  SELECT q_id, vec_id, sim,
             |    ROW_NUMBER() OVER (PARTITION BY q_id
             |                       ORDER BY sim DESC, vec_id) AS rn
             |  FROM neg)
             |SELECT r.q_id, p.pos_id, p.pos_sim, r.vec_id AS neg_id,
             |  r.sim AS neg_sim, CAST(r.rn AS INT) AS neg_rank
             |FROM ranked r JOIN pos p USING (q_id)
             |WHERE r.rn <= 3
             |ORDER BY q_id, neg_rank""".stripMargin)),

    // graft.expressions.UnicodeNormalize: NFC over the real corpus
    // (DuckDB's nfc_normalize is the independent oracle) plus NFC and
    // NFKC over synthesized normalization-unstable graphemes — the
    // expected forms are stated literally, ground truth by
    // construction (combining mark composes, ligature/superscript/
    // fullwidth/angstrom fold under NFKC but not NFC) ----------------
    Probe("x65_unicode_normalize",
      (s, d) => {
        val id = col("doc_id")
        val mark = when(id % 5 === 0, "éclair") // e + combining acute
          .when(id % 5 === 1, "ﬁle")             // fi ligature
          .when(id % 5 === 2, "x²y")             // superscript two
          .when(id % 5 === 3, "Ｆｕｌｌ") // fullwidth Full
          .otherwise("Ångstrom")                 // angstrom sign
        Tables.documents(s, d)
          .select(id,
            column(UnicodeNormalize(expression(col("text")), "NFC")).as("nfc_text"),
            column(UnicodeNormalize(expression(mark), "NFC")).as("nfc_mark"),
            column(UnicodeNormalize(expression(mark), "NFKC")).as("nfkc_mark"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, nfc_normalize(text) AS nfc_text,
             |  CASE doc_id % 5 WHEN 0 THEN 'éclair' WHEN 1 THEN 'ﬁle'
             |       WHEN 2 THEN 'x²y' WHEN 3 THEN 'Ｆｕｌｌ'
             |       ELSE 'Ångstrom' END AS nfc_mark,
             |  CASE doc_id % 5 WHEN 0 THEN 'éclair' WHEN 1 THEN 'file'
             |       WHEN 2 THEN 'x2y' WHEN 3 THEN 'Full'
             |       ELSE 'Ångstrom' END AS nfkc_mark
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // PiiOps.redactPii: per-category counts + sequential redaction
    // over synthesized PII (corpus has none). The synthesis plants the
    // contract's hard cases: a version string that must NOT count as
    // an IP, space-adjacent IPs that need the second replace pass, and
    // a short '+'-prefixed price range that must NOT count as a phone.
    // The oracle interpolates the operator's own pattern constants —
    // the regex strings ARE the certified contract ------------------
    Probe("x66_pii_redact",
      (s, d) => {
        val id = col("doc_id")
        val aug = concat(col("text"),
          lit(" ip "), ((id % 200) + 1).cast("string"),
          lit("."), (id % 250).cast("string"), lit(".7."), (id % 9).cast("string"),
          lit(" ver 1.2."), (id % 9).cast("string"), lit(".4.5"),
          lit(" twin 9.9.9.9 8.8.8."), (id % 9).cast("string"),
          lit(" tel +1 415 555 "), ((id % 9000) + 1000).cast("string"),
          lit(" px +5 10-20 m"), id.cast("string"), lit("@ex.org"))
        PiiOps.redactPii(
            Tables.documents(s, d).withColumn("aug", aug), textCol = "aug")
          .select(col("doc_id"), col("text_redacted"),
            md5(col("text_redacted")).as("red_md5"),
            col("n_emails"), col("n_ipv4"), col("n_phones"), col("pii_total"))
          .orderBy("doc_id")
      },
      Some {
        val em = PiiOps.EmailPattern
        val ip = PiiOps.Ipv4Pattern
        val ph = PiiOps.PhonePattern
        s"""WITH a AS (
           |  SELECT doc_id, text || ' ip ' || CAST(doc_id % 200 + 1 AS VARCHAR)
           |    || '.' || CAST(doc_id % 250 AS VARCHAR) || '.7.'
           |    || CAST(doc_id % 9 AS VARCHAR)
           |    || ' ver 1.2.' || CAST(doc_id % 9 AS VARCHAR) || '.4.5'
           |    || ' twin 9.9.9.9 8.8.8.' || CAST(doc_id % 9 AS VARCHAR)
           |    || ' tel +1 415 555 ' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
           |    || ' px +5 10-20 m' || CAST(doc_id AS VARCHAR) || '@ex.org' AS aug
           |  FROM documents),
           |e1 AS (SELECT doc_id,
           |  len(regexp_extract_all(aug, '$em')) AS n_emails,
           |  regexp_replace(aug, '$em', '<EMAIL>', 'g') AS t1 FROM a),
           |i1 AS (SELECT doc_id, n_emails,
           |  len(regexp_extract_all(t1, '$ip', 2)) AS c1,
           |  regexp_replace(t1, '$ip', '\\1<IP>\\3', 'g') AS t1b FROM e1),
           |i2 AS (SELECT doc_id, n_emails,
           |  c1 + len(regexp_extract_all(t1b, '$ip', 2)) AS n_ipv4,
           |  regexp_replace(t1b, '$ip', '\\1<IP>\\3', 'g') AS t2 FROM i1),
           |p1 AS (SELECT doc_id, n_emails, n_ipv4,
           |  len(regexp_extract_all(t2, '$ph')) AS n_phones,
           |  regexp_replace(t2, '$ph', '<PHONE>', 'g') AS t3 FROM i2)
           |SELECT doc_id, t3 AS text_redacted, md5(t3) AS red_md5,
           |  CAST(n_emails AS INT) AS n_emails, CAST(n_ipv4 AS INT) AS n_ipv4,
           |  CAST(n_phones AS INT) AS n_phones,
           |  CAST(n_emails + n_ipv4 + n_phones AS INT) AS pii_total
           |FROM p1 ORDER BY doc_id""".stripMargin
      }),

    // TextOps.stripHtml: HTML → per-line text. The synthesis exercises
    // every stage (comments, script/style blocks, block vs inline
    // tags, entity order incl. the &amp;lt; double-escape, horizontal
    // collapse, end trimming); the oracle runs the SAME regex chain
    // verbatim (the block-tag pattern is interpolated from the
    // operator's constant) ------------------------------------------
    Probe("x67_strip_html",
      (s, d) => {
        val id = col("doc_id")
        val html = concat(
          lit("<html><head><script type=\"x\">var a="), id.cast("string"),
          lit(";</script><style>.a{c:1}</style></head><body><!-- hidden "),
          id.cast("string"),
          lit(" --><h1>Title "), (id % 7).cast("string"),
          lit("</h1>\n<p>Para <b>one</b> &amp;lt; &quot;q&#39;s&quot; &gt;2</p>"),
          when(id % 3 === 0, "<ul><li>item a</li><li>item b</li></ul>")
            .otherwise("<span>inline tail</span>"),
          lit("<div>end&nbsp;"), (id % 5).cast("string"),
          lit("</div></body></html>"))
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.stripHtml(html).as("txt"))
          .select(col("doc_id"), col("txt"),
            size(split(col("txt"), "\n", -1)).as("n_lines"))
          .orderBy("doc_id")
      },
      Some {
        val block = TextOps.BlockTagPattern
        s"""WITH a AS (
           |  SELECT doc_id, '<html><head><script type="x">var a='
           |    || CAST(doc_id AS VARCHAR)
           |    || ';</script><style>.a{c:1}</style></head><body><!-- hidden '
           |    || CAST(doc_id AS VARCHAR) || ' --><h1>Title '
           |    || CAST(doc_id % 7 AS VARCHAR)
           |    || '</h1>' || chr(10)
           |    || '<p>Para <b>one</b> &amp;lt; &quot;q&#39;s&quot; &gt;2</p>'
           |    || CASE WHEN doc_id % 3 = 0
           |            THEN '<ul><li>item a</li><li>item b</li></ul>'
           |            ELSE '<span>inline tail</span>' END
           |    || '<div>end&nbsp;' || CAST(doc_id % 5 AS VARCHAR)
           |    || '</div></body></html>' AS h
           |  FROM documents),
           |s1 AS (SELECT doc_id,
           |  regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h FROM a),
           |s2 AS (SELECT doc_id,
           |  regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM s1),
           |s3 AS (SELECT doc_id,
           |  regexp_replace(h, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM s2),
           |s4 AS (SELECT doc_id,
           |  regexp_replace(h, '$block', chr(10), 'g') AS h FROM s3),
           |s5 AS (SELECT doc_id,
           |  regexp_replace(h, '<[^>]*>', ' ', 'g') AS h FROM s4),
           |s6 AS (SELECT doc_id,
           |  replace(replace(replace(replace(replace(replace(h,
           |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |    '&#39;', CHR(39)), '&amp;', '&') AS h FROM s5),
           |s7 AS (SELECT doc_id,
           |  regexp_replace(h, '[ \\t\\x0B\\f\\r]+', ' ', 'g') AS h FROM s6),
           |s8 AS (SELECT doc_id,
           |  trim(regexp_replace(h, ' ?\\n[ \\n]*', chr(10), 'g'),
           |       ' ' || chr(10)) AS txt FROM s7)
           |SELECT doc_id, txt,
           |  CAST(len(string_split(txt, chr(10))) AS INT) AS n_lines
           |FROM s8 ORDER BY doc_id""".stripMargin
      }),

    // Ranking.topKPerGroup: grouped top-k selection ("best k examples
    // per class/language/source" — the balanced-fine-tuning-mix
    // primitive) computed as the partial-aggregable top_k_struct
    // bounded heap instead of a corpus-wide row_number window. The
    // oracle IS that window — equality certifies heap ≡ rank rule
    // ((score DESC, id ASC), ranks dense 1..k) ----------------------
    Probe("x117_group_topk",
      (s, d) => {
        Ranking.topKPerGroup(Tables.documents(s, d),
            groupCol = "lang", scoreCol = "n_chars", idCol = "doc_id", k = 5)
          .orderBy("lang", "rank")
      },
      Some("""SELECT lang, doc_id, n_chars, CAST(rn AS INT) AS rank FROM (
             |  SELECT lang, doc_id, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |                       ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents) WHERE rn <= 5
             |ORDER BY lang, rank""".stripMargin)),

    // Ranking.rrfFuse: reciprocal-rank fusion (Cormack 2009) of TWO
    // at-rest ANN retrievers over the same query set — the int8 IVF
    // index (x111 chain) and the IVF-PQ index (x112 chain), rrf =
    // 1/(60+rank_a) + 1/(60+rank_b) with a FIXED two-term evaluation
    // order (full-outer join + coalesce, never an order-sensitive SUM)
    // so the fused doubles are engine-exact. The oracle re-derives
    // BOTH retriever chains (sharing the coarse quantizer CTEs the
    // two indexes genuinely share) and the fusion arithmetic --------
    Probe("x118_rrf_fusion",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val dir8 = IndexCache.annInt8Index(s, d)
        val dirP = IndexCache.annPqIndex(s, d)
        val queries = embs.where(col("vec_id") % 50 === 3)
          .select(col("vec_id").as("q_id"), col("embedding"))
        val a = Similarity.annJoinInt8FromIndex(queries, dir8, k = 5, nprobe = 4)
        val b = PqIndex.annJoinFromIndex(queries, dirP, k = 5, nprobe = 4,
          shortlist = 40)
        Ranking.rrfFuse(a, b, k = 5).orderBy("q_id", "rank")
      },
      Some("""WITH init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS cell0
             |  FROM embeddings),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |qs AS (
             |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id % 50 = 3),
             |qcells AS (
             |  SELECT q_id, cell FROM (
             |    SELECT q.q_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             |        ROUND(list_dot_product(q.qv, q.qv)
             |          - 2 * list_dot_product(q.qv, c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM qs q CROSS JOIN cent c) WHERE rn <= 4),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |codes8 AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |cand8 AS (
             |  SELECT p.q_id, c.vec_id,
             |    list_dot_product(c.codes, qc.codes) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(qc.codes, qc.codes))) AS sim
             |  FROM codes8 c
             |  JOIN assigned a USING (vec_id)
             |  JOIN qcells p ON a.cell = p.cell
             |  JOIN codes8 qc ON qc.vec_id = p.q_id
             |  WHERE c.vec_id <> p.q_id),
             |ranked_a AS (
             |  SELECT q_id, vec_id, rn FROM (
             |    SELECT q_id, vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY q_id
             |                         ORDER BY sim DESC, vec_id) AS rn
             |    FROM cand8) WHERE rn <= 5),
             |dims AS (
             |  SELECT vec_id, CAST(FLOOR((j-1) / 2) AS INT) AS subspace,
             |    (j-1) % 2 AS within, CAST(x AS DOUBLE) AS x
             |  FROM embeddings,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cb0 AS (
             |  SELECT subspace, CAST(vec_id AS INT) AS cell, within, x AS cx
             |  FROM dims WHERE vec_id < 16),
             |d0 AS (
             |  SELECT d.vec_id, d.subspace, c.cell,
             |    ROUND(SUM((d.x - c.cx) * (d.x - c.cx)), 6) AS dist
             |  FROM dims d JOIN cb0 c ON d.subspace = c.subspace AND d.within = c.within
             |  GROUP BY 1, 2, 3),
             |a0 AS (
             |  SELECT vec_id, subspace, cell FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
             |      ORDER BY dist ASC, cell ASC) AS rn FROM d0) WHERE rn = 1),
             |cb AS (
             |  SELECT d.subspace, a.cell, d.within, ROUND(AVG(d.x), 6) AS cx
             |  FROM dims d JOIN a0 a ON d.vec_id = a.vec_id AND d.subspace = a.subspace
             |  GROUP BY 1, 2, 3),
             |dist AS (
             |  SELECT d.vec_id, d.subspace, cb.cell,
             |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS dist
             |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
             |  GROUP BY 1, 2, 3),
             |codesp AS (
             |  SELECT vec_id, subspace, cell AS code FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
             |      ORDER BY dist ASC, cell ASC) AS rn FROM dist) WHERE rn = 1),
             |qtab AS (
             |  SELECT d.vec_id AS q_id, d.subspace, cb.cell,
             |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS qdist
             |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
             |  WHERE d.vec_id % 50 = 3 GROUP BY 1, 2, 3),
             |adc AS (
             |  SELECT p.q_id, c.vec_id, ROUND(SUM(q.qdist), 6) AS adist
             |  FROM codesp c
             |  JOIN assigned a ON a.vec_id = c.vec_id
             |  JOIN qcells p ON p.cell = a.cell
             |  JOIN qtab q ON q.q_id = p.q_id AND q.subspace = c.subspace
             |    AND q.cell = c.code
             |  WHERE c.vec_id <> p.q_id
             |  GROUP BY 1, 2),
             |shortl AS (
             |  SELECT q_id, vec_id FROM (
             |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
             |      ORDER BY adist ASC, vec_id ASC) AS rn FROM adc)
             |  WHERE rn <= 40),
             |rerank AS (
             |  SELECT s.q_id, s.vec_id,
             |    list_dot_product(e.embedding::DOUBLE[], q.qv) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv, q.qv))) AS sim
             |  FROM shortl s JOIN embeddings e USING (vec_id)
             |  JOIN qs q ON q.q_id = s.q_id),
             |ranked_b AS (
             |  SELECT q_id, vec_id, rn FROM (
             |    SELECT q_id, vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY q_id
             |                         ORDER BY sim DESC, vec_id) AS rn
             |    FROM rerank) WHERE rn <= 5),
             |fused AS (
             |  SELECT COALESCE(a.q_id, b.q_id) AS q_id,
             |    COALESCE(a.vec_id, b.vec_id) AS vec_id,
             |    COALESCE(1.0 / (60 + a.rn), 0) + COALESCE(1.0 / (60 + b.rn), 0)
             |      AS rrf
             |  FROM ranked_a a FULL OUTER JOIN ranked_b b
             |    ON a.q_id = b.q_id AND a.vec_id = b.vec_id)
             |SELECT q_id, vec_id, rrf, CAST(rn AS INT) AS rank FROM (
             |  SELECT q_id, vec_id, rrf,
             |    ROW_NUMBER() OVER (PARTITION BY q_id
             |                       ORDER BY rrf DESC, vec_id) AS rn
             |  FROM fused) WHERE rn <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // Ranking.evalBinaryRetrieval: the retrieval-eval harness (nDCG@k
    // + recall@k) closing the loop index → batch join → fusion →
    // EVAL. Relevance = same-label pairs (binary); DCG/IDCG are
    // FIXED-ORDER chains over the dcgDiscount literal table — both
    // engines parse the same printed doubles, so the metrics
    // hash-match RAW (no log2 call, no ROUND). The oracle re-derives
    // the x111 retriever chain, the qrels, and both metric chains ---
    Probe("x119_retrieval_eval",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val dir8 = IndexCache.annInt8Index(s, d)
        val queries = embs.where(col("vec_id") % 50 === 3)
          .select(col("vec_id").as("q_id"), col("embedding"))
        val ranking = Similarity.annJoinInt8FromIndex(
          queries, dir8, k = 5, nprobe = 4)
        val qrels = embs.where(col("vec_id") % 50 === 3)
          .select(col("vec_id").as("q_id"), col("label"))
          .join(embs.select(col("vec_id"), col("label")), Seq("label"))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"))
        Ranking.evalBinaryRetrieval(ranking, qrels, k = 5).orderBy("q_id")
      },
      Some {
        val d1 = Ranking.dcgDiscount(1); val d2 = Ranking.dcgDiscount(2)
        val d3 = Ranking.dcgDiscount(3); val d4 = Ranking.dcgDiscount(4)
        val d5 = Ranking.dcgDiscount(5)
        s"""WITH init AS (
           |  SELECT vec_id, embedding,
           |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
           |      % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS cell0
           |  FROM embeddings),
           |idims AS (
           |  SELECT cell0, j, x FROM init,
           |    LATERAL (SELECT unnest(embedding) AS x,
           |             generate_subscripts(embedding, 1) AS j)),
           |cent AS (
           |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
           |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
           |    FROM idims GROUP BY cell0, j)
           |  GROUP BY cell0),
           |assigned AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT i.vec_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
           |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
           |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
           |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
           |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
           |qs AS (
           |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id % 50 = 3),
           |qcells AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
           |        ROUND(list_dot_product(q.qv, q.qv)
           |          - 2 * list_dot_product(q.qv, c.c)
           |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
           |    FROM qs q CROSS JOIN cent c) WHERE rn <= 4),
           |qz AS (
           |  SELECT vec_id,
           |    GREATEST(list_max(list_transform(embedding,
           |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
           |    embedding
           |  FROM embeddings),
           |codes8 AS (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
           |  FROM qz),
           |cand8 AS (
           |  SELECT p.q_id, c.vec_id,
           |    list_dot_product(c.codes, qc.codes) /
           |      (sqrt(list_dot_product(c.codes, c.codes)) *
           |       sqrt(list_dot_product(qc.codes, qc.codes))) AS sim
           |  FROM codes8 c
           |  JOIN assigned a USING (vec_id)
           |  JOIN qcells p ON a.cell = p.cell
           |  JOIN codes8 qc ON qc.vec_id = p.q_id
           |  WHERE c.vec_id <> p.q_id),
           |ranked AS (
           |  SELECT q_id, vec_id, rn FROM (
           |    SELECT q_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id
           |                         ORDER BY sim DESC, vec_id) AS rn
           |    FROM cand8) WHERE rn <= 5),
           |qrels AS (
           |  SELECT q.vec_id AS q_id, e.vec_id
           |  FROM embeddings q JOIN embeddings e ON e.label = q.label
           |  WHERE q.vec_id % 50 = 3 AND e.vec_id <> q.vec_id),
           |hits AS (
           |  SELECT r.q_id, r.rn AS rank,
           |    CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
           |  FROM ranked r LEFT JOIN qrels l
           |    ON l.q_id = r.q_id AND l.vec_id = r.vec_id),
           |perq AS (
           |  SELECT q_id,
           |    COALESCE(MAX(CASE WHEN rank = 1 AND rel = 1 THEN '$d1'::DOUBLE END), 0.0::DOUBLE)
           |    + COALESCE(MAX(CASE WHEN rank = 2 AND rel = 1 THEN '$d2'::DOUBLE END), 0.0::DOUBLE)
           |    + COALESCE(MAX(CASE WHEN rank = 3 AND rel = 1 THEN '$d3'::DOUBLE END), 0.0::DOUBLE)
           |    + COALESCE(MAX(CASE WHEN rank = 4 AND rel = 1 THEN '$d4'::DOUBLE END), 0.0::DOUBLE)
           |    + COALESCE(MAX(CASE WHEN rank = 5 AND rel = 1 THEN '$d5'::DOUBLE END), 0.0::DOUBLE)
           |      AS dcg,
           |    CAST(SUM(rel) AS INT) AS n_hits
           |  FROM hits GROUP BY 1),
           |relc AS (SELECT q_id, COUNT(*) AS nr FROM qrels GROUP BY 1)
           |SELECT p.q_id, CAST(COALESCE(r.nr, 0) AS INT) AS n_rel, p.n_hits,
           |  CASE WHEN COALESCE(r.nr, 0) > 0 THEN p.dcg / (
           |      (CASE WHEN r.nr >= 1 THEN '$d1'::DOUBLE ELSE 0.0::DOUBLE END)
           |    + (CASE WHEN r.nr >= 2 THEN '$d2'::DOUBLE ELSE 0.0::DOUBLE END)
           |    + (CASE WHEN r.nr >= 3 THEN '$d3'::DOUBLE ELSE 0.0::DOUBLE END)
           |    + (CASE WHEN r.nr >= 4 THEN '$d4'::DOUBLE ELSE 0.0::DOUBLE END)
           |    + (CASE WHEN r.nr >= 5 THEN '$d5'::DOUBLE ELSE 0.0::DOUBLE END)) END AS ndcg,
           |  CASE WHEN COALESCE(r.nr, 0) > 0
           |       THEN CAST(p.n_hits AS DOUBLE) / CAST(r.nr AS DOUBLE) END
           |    AS recall
           |FROM perq p LEFT JOIN relc r USING (q_id)
           |ORDER BY p.q_id""".stripMargin
      }),

    // Ranking.mmrSelect: MMR diversity re-rank (Carbonell 1998) —
    // greedy λ·rel − (1−λ)·max-sim-to-picked selection over the x111
    // retriever's top-10 pool, 3 rounds, λ=0.5, all similarities the
    // exact integer int8 cosine. The oracle unrolls every round
    // (the WordPiece unrolled-merges precedent): pick-1 argmax,
    // penalty-vs-picked max, pick-2, cumulative exclusion, pick-3 —
    // raw doubles, no rounding anywhere ------------------------------
    Probe("x121_mmr_rerank",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val dir8 = IndexCache.annInt8Index(s, d)
        val queries = embs.where(col("vec_id") % 50 === 3)
          .select(col("vec_id").as("q_id"), col("embedding"))
        val cands = Similarity.annJoinInt8FromIndex(
            queries, dir8, k = 10, nprobe = 4)
          .select(col("q_id"), col("vec_id"), col("sim").as("rel"))
        Ranking.mmrSelect(cands, Similarity.quantizeInt8(embs), k = 3)
          .orderBy("q_id", "round")
      },
      Some("""WITH init AS (
           |  SELECT vec_id, embedding,
           |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
           |      % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS cell0
           |  FROM embeddings),
           |idims AS (
           |  SELECT cell0, j, x FROM init,
           |    LATERAL (SELECT unnest(embedding) AS x,
           |             generate_subscripts(embedding, 1) AS j)),
           |cent AS (
           |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
           |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
           |    FROM idims GROUP BY cell0, j)
           |  GROUP BY cell0),
           |assigned AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT i.vec_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
           |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
           |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
           |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
           |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
           |qs AS (
           |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id % 50 = 3),
           |qcells AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
           |        ROUND(list_dot_product(q.qv, q.qv)
           |          - 2 * list_dot_product(q.qv, c.c)
           |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
           |    FROM qs q CROSS JOIN cent c) WHERE rn <= 4),
           |qz AS (
           |  SELECT vec_id,
           |    GREATEST(list_max(list_transform(embedding,
           |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
           |    embedding
           |  FROM embeddings),
           |codes8 AS (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
           |  FROM qz),
           |cand8 AS (
           |  SELECT p.q_id, c.vec_id,
           |    list_dot_product(c.codes, qc.codes) /
           |      (sqrt(list_dot_product(c.codes, c.codes)) *
           |       sqrt(list_dot_product(qc.codes, qc.codes))) AS sim
           |  FROM codes8 c
           |  JOIN assigned a USING (vec_id)
           |  JOIN qcells p ON a.cell = p.cell
           |  JOIN codes8 qc ON qc.vec_id = p.q_id
           |  WHERE c.vec_id <> p.q_id),
             |cand10 AS (
             |  SELECT q_id, vec_id, rel FROM (
             |    SELECT q_id, vec_id, sim AS rel,
             |      ROW_NUMBER() OVER (PARTITION BY q_id
             |                         ORDER BY sim DESC, vec_id) AS rn
             |    FROM cand8) WHERE rn <= 10),
             |m1 AS (
             |  SELECT q_id, vec_id,
             |    0.5::DOUBLE * rel - 0.5::DOUBLE * 0.0::DOUBLE AS mmr
             |  FROM cand10),
             |p1 AS (
             |  SELECT q_id, vec_id, mmr FROM (
             |    SELECT q_id, vec_id, mmr, ROW_NUMBER() OVER (
             |      PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
             |    FROM m1) WHERE rn = 1),
             |s2 AS (
             |  SELECT c.q_id, c.vec_id,
             |    0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(
             |      list_dot_product(cc.codes, sc.codes) /
             |        (sqrt(list_dot_product(cc.codes, cc.codes)) *
             |         sqrt(list_dot_product(sc.codes, sc.codes)))) AS mmr
             |  FROM cand10 c
             |  JOIN p1 p ON p.q_id = c.q_id AND c.vec_id <> p.vec_id
             |  JOIN codes8 cc ON cc.vec_id = c.vec_id
             |  JOIN codes8 sc ON sc.vec_id = p.vec_id
             |  GROUP BY c.q_id, c.vec_id, c.rel),
             |p2 AS (
             |  SELECT q_id, vec_id, mmr FROM (
             |    SELECT q_id, vec_id, mmr, ROW_NUMBER() OVER (
             |      PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
             |    FROM s2) WHERE rn = 1),
             |picked2 AS (
             |  SELECT q_id, vec_id FROM p1
             |  UNION ALL SELECT q_id, vec_id FROM p2),
             |s3 AS (
             |  SELECT c.q_id, c.vec_id,
             |    0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(
             |      list_dot_product(cc.codes, sc.codes) /
             |        (sqrt(list_dot_product(cc.codes, cc.codes)) *
             |         sqrt(list_dot_product(sc.codes, sc.codes)))) AS mmr
             |  FROM cand10 c
             |  JOIN picked2 p ON p.q_id = c.q_id
             |  JOIN codes8 cc ON cc.vec_id = c.vec_id
             |  JOIN codes8 sc ON sc.vec_id = p.vec_id
             |  WHERE NOT EXISTS (SELECT 1 FROM picked2 x
             |                    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
             |  GROUP BY c.q_id, c.vec_id, c.rel),
             |p3 AS (
             |  SELECT q_id, vec_id, mmr FROM (
             |    SELECT q_id, vec_id, mmr, ROW_NUMBER() OVER (
             |      PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
             |    FROM s3) WHERE rn = 1)
             |SELECT q_id, vec_id, mmr, CAST(1 AS INT) AS round FROM p1
             |UNION ALL
             |SELECT q_id, vec_id, mmr, CAST(2 AS INT) AS round FROM p2
             |UNION ALL
             |SELECT q_id, vec_id, mmr, CAST(3 AS INT) AS round FROM p3
             |ORDER BY q_id, round""".stripMargin)),

    // The retrieval FLAGSHIP: the whole family as ONE composed DAG —
    // both at-rest indexes (int8 IVF + IVF-PQ) → both batch ANN
    // joins → RRF fusion → MMR diversity re-rank (rel = the fused
    // rrf) → retrieval eval over the re-ranked picks (relevance =
    // same-label pairs). One DuckDB mirror re-derives every stage
    // id-for-id — the curation (x38) / tokens (x72) / crawl (x92)
    // composed-certification precedent applied to retrieval. Raw
    // doubles throughout the mmr and metric columns (the x121/x119
    // exactness arguments compose: rrf is a fixed two-term sum,
    // penalties are exact integer cosines, DCG chains are literal
    // discounts) ----------------------------------------------------
    Probe("x123_retrieval_flagship",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val dir8 = IndexCache.annInt8Index(s, d)
        val dirP = IndexCache.annPqIndex(s, d)
        val queries = embs.where(col("vec_id") % 50 === 3)
          .select(col("vec_id").as("q_id"), col("embedding"))
        val a = Similarity.annJoinInt8FromIndex(queries, dir8, k = 5,
          nprobe = 4)
        val b = PqIndex.annJoinFromIndex(queries, dirP, k = 5, nprobe = 4,
          shortlist = 40)
        val fused = Ranking.rrfFuse(a, b, k = 5)
        val mmr = Ranking.mmrSelect(
          fused.select(col("q_id"), col("vec_id"), col("rrf").as("rel")),
          Similarity.quantizeInt8(embs), k = 3)
        val qrels = embs.where(col("vec_id") % 50 === 3)
          .select(col("vec_id").as("q_id"), col("label"))
          .join(embs.select(col("vec_id"), col("label")), Seq("label"))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"))
        val eval = Ranking.evalBinaryRetrieval(
          mmr.select(col("q_id"), col("vec_id"), col("round").as("rank")),
          qrels, k = 3)
        mmr.join(eval, Seq("q_id"))
          .select(col("q_id"), col("vec_id"), col("mmr"),
            col("round"), col("n_rel"), col("n_hits"), col("ndcg"),
            col("recall"))
          .orderBy("q_id", "round")
      },
      Some {
        val d1 = Ranking.dcgDiscount(1); val d2 = Ranking.dcgDiscount(2)
        val d3 = Ranking.dcgDiscount(3)
        s"""WITH init AS (
           |  SELECT vec_id, embedding,
           |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
           |      % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS cell0
           |  FROM embeddings),
           |idims AS (
           |  SELECT cell0, j, x FROM init,
           |    LATERAL (SELECT unnest(embedding) AS x,
           |             generate_subscripts(embedding, 1) AS j)),
           |cent AS (
           |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
           |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
           |    FROM idims GROUP BY cell0, j)
           |  GROUP BY cell0),
           |assigned AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT i.vec_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
           |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
           |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
           |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
           |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
           |qs AS (
           |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id % 50 = 3),
           |qcells AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
           |        ROUND(list_dot_product(q.qv, q.qv)
           |          - 2 * list_dot_product(q.qv, c.c)
           |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
           |    FROM qs q CROSS JOIN cent c) WHERE rn <= 4),
           |qz AS (
           |  SELECT vec_id,
           |    GREATEST(list_max(list_transform(embedding,
           |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
           |    embedding
           |  FROM embeddings),
           |codes8 AS (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
           |  FROM qz),
           |cand8 AS (
           |  SELECT p.q_id, c.vec_id,
           |    list_dot_product(c.codes, qc.codes) /
           |      (sqrt(list_dot_product(c.codes, c.codes)) *
           |       sqrt(list_dot_product(qc.codes, qc.codes))) AS sim
           |  FROM codes8 c
           |  JOIN assigned a USING (vec_id)
           |  JOIN qcells p ON a.cell = p.cell
           |  JOIN codes8 qc ON qc.vec_id = p.q_id
           |  WHERE c.vec_id <> p.q_id),
           |ranked_a AS (
           |  SELECT q_id, vec_id, rn FROM (
           |    SELECT q_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id
           |                         ORDER BY sim DESC, vec_id) AS rn
           |    FROM cand8) WHERE rn <= 5),
           |dims AS (
           |  SELECT vec_id, CAST(FLOOR((j-1) / 2) AS INT) AS subspace,
           |    (j-1) % 2 AS within, CAST(x AS DOUBLE) AS x
           |  FROM embeddings,
           |    LATERAL (SELECT unnest(embedding) AS x,
           |             generate_subscripts(embedding, 1) AS j)),
           |cb0 AS (
           |  SELECT subspace, CAST(vec_id AS INT) AS cell, within, x AS cx
           |  FROM dims WHERE vec_id < 16),
           |d0 AS (
           |  SELECT d.vec_id, d.subspace, c.cell,
           |    ROUND(SUM((d.x - c.cx) * (d.x - c.cx)), 6) AS dist
           |  FROM dims d JOIN cb0 c ON d.subspace = c.subspace AND d.within = c.within
           |  GROUP BY 1, 2, 3),
           |a0 AS (
           |  SELECT vec_id, subspace, cell FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
           |      ORDER BY dist ASC, cell ASC) AS rn FROM d0) WHERE rn = 1),
           |cb AS (
           |  SELECT d.subspace, a.cell, d.within, ROUND(AVG(d.x), 6) AS cx
           |  FROM dims d JOIN a0 a ON d.vec_id = a.vec_id AND d.subspace = a.subspace
           |  GROUP BY 1, 2, 3),
           |dist AS (
           |  SELECT d.vec_id, d.subspace, cb.cell,
           |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS dist
           |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
           |  GROUP BY 1, 2, 3),
           |codesp AS (
           |  SELECT vec_id, subspace, cell AS code FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
           |      ORDER BY dist ASC, cell ASC) AS rn FROM dist) WHERE rn = 1),
           |qtab AS (
           |  SELECT d.vec_id AS q_id, d.subspace, cb.cell,
           |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS qdist
           |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
           |  WHERE d.vec_id % 50 = 3 GROUP BY 1, 2, 3),
           |adc AS (
           |  SELECT p.q_id, c.vec_id, ROUND(SUM(q.qdist), 6) AS adist
           |  FROM codesp c
           |  JOIN assigned a ON a.vec_id = c.vec_id
           |  JOIN qcells p ON p.cell = a.cell
           |  JOIN qtab q ON q.q_id = p.q_id AND q.subspace = c.subspace
           |    AND q.cell = c.code
           |  WHERE c.vec_id <> p.q_id
           |  GROUP BY 1, 2),
           |shortl AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY adist ASC, vec_id ASC) AS rn FROM adc)
           |  WHERE rn <= 40),
           |rerank AS (
           |  SELECT s.q_id, s.vec_id,
           |    list_dot_product(e.embedding::DOUBLE[], q.qv) /
           |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
           |     SQRT(list_dot_product(q.qv, q.qv))) AS sim
           |  FROM shortl s JOIN embeddings e USING (vec_id)
           |  JOIN qs q ON q.q_id = s.q_id),
           |ranked_b AS (
           |  SELECT q_id, vec_id, rn FROM (
           |    SELECT q_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id
           |                         ORDER BY sim DESC, vec_id) AS rn
           |    FROM rerank) WHERE rn <= 5),
           |fusedall AS (
           |  SELECT COALESCE(a.q_id, b.q_id) AS q_id,
           |    COALESCE(a.vec_id, b.vec_id) AS vec_id,
           |    COALESCE(1.0 / (60 + a.rn), 0) + COALESCE(1.0 / (60 + b.rn), 0)
           |      AS rrf
           |  FROM ranked_a a FULL OUTER JOIN ranked_b b
           |    ON a.q_id = b.q_id AND a.vec_id = b.vec_id),
           |pool AS (
           |  SELECT q_id, vec_id, rrf AS rel FROM (
           |    SELECT q_id, vec_id, rrf,
           |      ROW_NUMBER() OVER (PARTITION BY q_id
           |                         ORDER BY rrf DESC, vec_id) AS rn
           |    FROM fusedall) WHERE rn <= 5),
           |m1 AS (
           |  SELECT q_id, vec_id,
           |    0.5::DOUBLE * rel - 0.5::DOUBLE * 0.0::DOUBLE AS mmr
           |  FROM pool),
           |p1 AS (
           |  SELECT q_id, vec_id, mmr FROM (
           |    SELECT q_id, vec_id, mmr, ROW_NUMBER() OVER (
           |      PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
           |    FROM m1) WHERE rn = 1),
           |s2 AS (
           |  SELECT c.q_id, c.vec_id,
           |    0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(
           |      list_dot_product(cc.codes, sc.codes) /
           |        (sqrt(list_dot_product(cc.codes, cc.codes)) *
           |         sqrt(list_dot_product(sc.codes, sc.codes)))) AS mmr
           |  FROM pool c
           |  JOIN p1 p ON p.q_id = c.q_id AND c.vec_id <> p.vec_id
           |  JOIN codes8 cc ON cc.vec_id = c.vec_id
           |  JOIN codes8 sc ON sc.vec_id = p.vec_id
           |  GROUP BY c.q_id, c.vec_id, c.rel),
           |p2 AS (
           |  SELECT q_id, vec_id, mmr FROM (
           |    SELECT q_id, vec_id, mmr, ROW_NUMBER() OVER (
           |      PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
           |    FROM s2) WHERE rn = 1),
           |picked2 AS (
           |  SELECT q_id, vec_id FROM p1
           |  UNION ALL SELECT q_id, vec_id FROM p2),
           |s3 AS (
           |  SELECT c.q_id, c.vec_id,
           |    0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(
           |      list_dot_product(cc.codes, sc.codes) /
           |        (sqrt(list_dot_product(cc.codes, cc.codes)) *
           |         sqrt(list_dot_product(sc.codes, sc.codes)))) AS mmr
           |  FROM pool c
           |  JOIN picked2 p ON p.q_id = c.q_id
           |  JOIN codes8 cc ON cc.vec_id = c.vec_id
           |  JOIN codes8 sc ON sc.vec_id = p.vec_id
           |  WHERE NOT EXISTS (SELECT 1 FROM picked2 x
           |                    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
           |  GROUP BY c.q_id, c.vec_id, c.rel),
           |p3 AS (
           |  SELECT q_id, vec_id, mmr FROM (
           |    SELECT q_id, vec_id, mmr, ROW_NUMBER() OVER (
           |      PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
           |    FROM s3) WHERE rn = 1),
           |mmrall AS (
           |  SELECT q_id, vec_id, mmr, CAST(1 AS INT) AS round FROM p1
           |  UNION ALL
           |  SELECT q_id, vec_id, mmr, CAST(2 AS INT) AS round FROM p2
           |  UNION ALL
           |  SELECT q_id, vec_id, mmr, CAST(3 AS INT) AS round FROM p3),
           |qrels AS (
           |  SELECT q.vec_id AS q_id, e.vec_id
           |  FROM embeddings q JOIN embeddings e ON e.label = q.label
           |  WHERE q.vec_id % 50 = 3 AND e.vec_id <> q.vec_id),
           |hits AS (
           |  SELECT m.q_id, m.round AS rank,
           |    CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
           |  FROM mmrall m LEFT JOIN qrels l
           |    ON l.q_id = m.q_id AND l.vec_id = m.vec_id),
           |perq AS (
           |  SELECT q_id,
           |    COALESCE(MAX(CASE WHEN rank = 1 AND rel = 1 THEN '$d1'::DOUBLE END), 0.0::DOUBLE)
           |    + COALESCE(MAX(CASE WHEN rank = 2 AND rel = 1 THEN '$d2'::DOUBLE END), 0.0::DOUBLE)
           |    + COALESCE(MAX(CASE WHEN rank = 3 AND rel = 1 THEN '$d3'::DOUBLE END), 0.0::DOUBLE)
           |      AS dcg,
           |    CAST(SUM(rel) AS INT) AS n_hits
           |  FROM hits GROUP BY 1),
           |relc AS (SELECT q_id, COUNT(*) AS nr FROM qrels GROUP BY 1),
           |evalq AS (
           |  SELECT p.q_id, CAST(COALESCE(r.nr, 0) AS INT) AS n_rel, p.n_hits,
           |    CASE WHEN COALESCE(r.nr, 0) > 0 THEN p.dcg / (
           |        (CASE WHEN r.nr >= 1 THEN '$d1'::DOUBLE ELSE 0.0::DOUBLE END)
           |      + (CASE WHEN r.nr >= 2 THEN '$d2'::DOUBLE ELSE 0.0::DOUBLE END)
           |      + (CASE WHEN r.nr >= 3 THEN '$d3'::DOUBLE ELSE 0.0::DOUBLE END)) END
           |      AS ndcg,
           |    CASE WHEN COALESCE(r.nr, 0) > 0
           |         THEN CAST(p.n_hits AS DOUBLE) / CAST(r.nr AS DOUBLE) END
           |      AS recall
           |  FROM perq p LEFT JOIN relc r USING (q_id))
           |SELECT m.q_id, m.vec_id, m.mmr, m.round,
           |  e.n_rel, e.n_hits, e.ndcg, e.recall
           |FROM mmrall m JOIN evalq e USING (q_id)
           |ORDER BY m.q_id, m.round""".stripMargin
      }),
  )
}

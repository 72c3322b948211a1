package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Certification probes for the training-data extension surface
  * (text analysis, dedup, similarity) — each runs the REAL operator
  * module code over `documents`/`embeddings`, mirrored in DuckDB.
  * Constants (minhash permutations, hyperplane weights) are
  * md5-derived so both engines compute identical values.
  */
object ExtensionProbes {

  private val P = Dedup.MinhashPrime

  /** Build (or reuse) the persisted shingle index of one side of
    * `documents` — shared by x42 (detection), x46 (removal) and x49
    * (both sides at rest): the corpus is shingled ONCE per
    * session+corpus and every contamination-family pass joins the same
    * bucketed table. Keyed by the sf dir AND the x41-style corpus
    * fingerprint (`rows` + `idSum`) so regenerated testdata never
    * serves a stale index. Returns the catalog table name. */
  private def shingleIndexTable(s: org.apache.spark.sql.SparkSession,
                                d: String, side: String, rows: Long,
                                idSum: Long,
                                docs: org.apache.spark.sql.DataFrame,
                                outIdCol: String): String = {
    val tag = s"${d.replaceAll("[^A-Za-z0-9]", "_")}_${rows}_$idSum"
    val table = s"graft_x42_${side}_shingles_$tag"
    if (!s.catalog.tableExists(table))
      Dedup.writeShingleIndex(docs, IndexCache.dir(s"x42_shingle_index_${side}_$tag"),
        table = table, n = 3, outIdCol = outIdCol)
    table
  }

  private def trainShingleTable(s: org.apache.spark.sql.SparkSession,
                                d: String,
                                train: org.apache.spark.sql.DataFrame): String = {
    val fp = train.agg(count(lit(1)), sum(col("doc_id"))).collect()(0)
    shingleIndexTable(s, d, "train", fp.getLong(0), fp.getLong(1), train, "train_id")
  }

  /** Both contamination index tables (train + eval) with their
    * staleness fingerprints computed in ONE pass over the corpus. */
  private def contaminationIndexTables(s: org.apache.spark.sql.SparkSession,
                                       d: String,
                                       docs: org.apache.spark.sql.DataFrame,
                                       train: org.apache.spark.sql.DataFrame,
                                       eval: org.apache.spark.sql.DataFrame): (String, String) = {
    val even = col("doc_id") % 2 === 0
    val fp = docs.agg(
      sum(when(even, 1L).otherwise(0L)),
      sum(when(even, col("doc_id")).otherwise(0L)),
      sum(when(!even, 1L).otherwise(0L)),
      sum(when(!even, col("doc_id")).otherwise(0L))).collect()(0)
    (shingleIndexTable(s, d, "train", fp.getLong(0), fp.getLong(1), train, "train_id"),
      shingleIndexTable(s, d, "eval", fp.getLong(2), fp.getLong(3), eval, "eval_id"))
  }

  // SQL fragment: shingle rows (doc_id, shingle) for word 3-grams,
  // mirroring Dedup.shingles(n = 3).
  private val shingleSql =
    """SELECT DISTINCT doc_id,
      |  array_to_string(words[g.i:g.i + 2], ' ') AS shingle
      |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
      |      FROM documents) w,
      |  (SELECT unnest(generate_series(1, 10000)) AS i) g
      |WHERE g.i <= greatest(1, len(words) - 2)""".stripMargin

  val probes: Seq[Probe] = Seq(

    // TextOps.wsTokenCount + preTokenCount -----------------------------
    Probe("x01_token_counts",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).as("ws_tokens"),
          TextOps.preTokenCount(col("text")).as("pre_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
             |  len(regexp_extract_all(text, '\p{L}+|\p{N}|[^\p{L}\p{N}\t\n\x0B\f\r ]')) AS pre_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TextOps.qualityScore ----------------------------------------------
    Probe("x02_quality_score",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some("""WITH q AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS DOUBLE) AS len,
             |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
             |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS spaces,
             |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) AS punct
             |  FROM documents),
             |r AS (
             |  SELECT doc_id,
             |    CASE WHEN len > 0 THEN alpha / len ELSE 0.0e0 END AS alpha_ratio,
             |    CASE WHEN len > 0 THEN spaces / len ELSE 0.0e0 END AS space_ratio,
             |    CASE WHEN len > 0 THEN punct / len ELSE 0.0e0 END AS punct_ratio
             |  FROM q)
             |SELECT doc_id, GREATEST(0.0e0, LEAST(1.0e0,
             |  alpha_ratio * 0.5e0 +
             |  GREATEST(0.0e0, 1.0e0 - ABS(space_ratio - 1.0e0 / 6.0e0) * 3.0e0) * 0.3e0 +
             |  (1.0e0 - punct_ratio) * 0.2e0)) AS quality
             |FROM r ORDER BY doc_id""".stripMargin)),

    // TextOps.languageGuess ---------------------------------------------
    Probe("x03_language_guess",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextOps.languageGuess(col("text")).as("guess"))
        .orderBy("doc_id"),
      Some {
        val scores = TextOps.StopwordLists.map { case (lang, words) =>
          lang -> s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"
        }
        val caseChain = scores.zipWithIndex.init.map { case ((lang, sc), i) =>
          val later = scores.drop(i + 1).map(_._2)
          val greatest = if (later.size == 1) later.head else s"GREATEST(${later.mkString(", ")})"
          s"WHEN $sc >= $greatest THEN '$lang'"
        }.mkString(" ")
        s"""SELECT doc_id, CASE $caseChain ELSE '${TextOps.StopwordLists.last._1}' END AS guess
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // TextOps.fingerprint -----------------------------------------------
    Probe("x04_fingerprint",
      (s, d) => {
        graft.GraftExtensions.register(s)   // rolling_fingerprint kernel
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH n AS (
              |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t
              |  FROM documents)
              |SELECT doc_id, CASE WHEN length(t) = 0 THEN 0
              |  ELSE list_reduce(
              |    list_transform(generate_series(1, length(t)), i -> CAST(ascii(t[i]) AS BIGINT)),
              |    (a, b) -> (a * 31 + b) % ${TextOps.FingerprintMod})
              |  END AS fp
              |FROM n ORDER BY doc_id""".stripMargin)),

    // Dedup.exactDedup (on docs ∪ shifted copy so duplicates exist) -----
    Probe("x05_dedup_exact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val copies = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000))
        Dedup.exactDedup(copies)
          .select("text_md5", "keep_id", "n_copies")
          .orderBy("text_md5")
      },
      Some("""SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM (SELECT doc_id, text FROM documents
             |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Dedup.shingles + minhashSignatures (8 permutations) ---------------
    Probe("x06_minhash_signature",
      (s, d) => {
        // one-pass codegen kernel: map-only, no shingle explode, no
        // shuffle — same values as the relational reference path
        // (DedupSpec asserts the equivalence).
        graft.GraftExtensions.register(s)
        Dedup.minhashSignaturesOnePass(Tables.documents(s, d), n = 3, numPerm = 8)
          .select(col("doc_id"),
            element_at(col("minhash"), 1).as("mh0"),
            element_at(col("minhash"), 8).as("mh7"),
            aggregate(col("minhash"), lit(0L), (a, x) => a + x).as("mh_sum"))
          .orderBy("doc_id")
      },
      Some {
        val consts = Dedup.permutationConstants(8)
        val mins = consts.zipWithIndex.map { case ((a, b), i) =>
          s"MIN(($a * h + $b) % $P) AS m$i"
        }.mkString(", ")
        s"""WITH sh AS ($shingleSql),
           |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh),
           |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)
           |SELECT doc_id, m0 AS mh0, m7 AS mh7,
           |  (m0 + m1 + m2 + m3 + m4 + m5 + m6 + m7) AS mh_sum
           |FROM sig ORDER BY doc_id""".stripMargin
      }),

    // Dedup.simhash (16 bits) -------------------------------------------
    Probe("x07_simhash",
      (s, d) => Dedup.simhash(Tables.documents(s, d), bits = 16)
        .orderBy("doc_id"),
      Some {
        val sums = (0 until 16).map(i =>
          s"SUM(CASE WHEN (h >> $i) % 2 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(", ")
        val bits = (0 until 16).map(i =>
          s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
        s"""WITH w AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
           |  FROM documents),
           |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM w),
           |s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
           |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM s ORDER BY doc_id""".stripMargin
      }),

    // Dedup.ngramJaccard over LSH candidate pairs -----------------------
    Probe("x08_lsh_jaccard_pairs",
      (s, d) => {
        // full one-pass LSH dedup plan: signatures and shingle sets are
        // per-document scans (no exploded-shingle shuffle); the only
        // shuffles are the band-bucket self-join and the candidate-pair
        // joins — both proportional to candidates, not corpus size.
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val sig = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8)
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBuckets(sig, bands = 4, rowsPer = 2))
        Dedup.ngramJaccardFromSets(Dedup.shingleHashSets(docs, n = 3), pairs)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some {
        val consts = Dedup.permutationConstants(8)
        val mins = consts.zipWithIndex.map { case ((a, b), i) =>
          s"MIN(($a * h + $b) % $P) AS m$i"
        }.mkString(", ")
        val bandHash = (0 until 4).map { bIdx =>
          val cols = (0 until 2).map(r => s"m${bIdx * 2 + r}").mkString(", ")
          s"SELECT $bIdx AS band_idx, md5(concat_ws('_', $cols)) AS band_hash, doc_id FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH sh AS ($shingleSql),
           |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh),
           |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
           |buckets AS ($bandHash),
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |  FROM buckets l JOIN buckets r
           |    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
           |  WHERE l.doc_id < r.doc_id),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
           |  FROM pairs p
           |  JOIN sh a ON a.doc_id = p.id_a
           |  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |  GROUP BY 1, 2)
           |SELECT p.id_a AS id_a, p.id_b AS id_b,
           |  ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
           |        (sa.n + sb.n - COALESCE(i.n_inter, 0)), 6) AS jaccard
           |FROM pairs p
           |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
           |JOIN sizes sa ON sa.doc_id = p.id_a
           |JOIN sizes sb ON sb.doc_id = p.id_b
           |ORDER BY p.id_a, p.id_b""".stripMargin
      }),

    // RangeJoin.nearestByValue: J9 nearest lookup as a map-only binary
    // search over the broadcast (value, min-key) table; the oracle
    // states the same lexicographic (|diff|, key) contract as a plain
    // window over the cross product ------------------------------------
    Probe("x33_nearest_scalar",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val t = graft.sources.Tables
        RangeJoin.nearestByValue(t.supplier(s, d), t.customer(s, d),
          "s_acctbal", "c_acctbal", "c_custkey")
          .select(col("s_suppkey"), col("nearest"))
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, nearest FROM (
             |  SELECT s.s_suppkey, c.c_custkey AS nearest,
             |    ROW_NUMBER() OVER (PARTITION BY s.s_suppkey
             |      ORDER BY ABS(c.c_acctbal - s.s_acctbal), c.c_custkey) AS rn
             |  FROM supplier s CROSS JOIN customer c)
             |WHERE rn = 1 ORDER BY s_suppkey""".stripMargin)),

    // Dedup.incrementalNearDups: ingest-time batch-vs-corpus dedup
    // through the persisted signature index (docs >= 400 play the new
    // batch; < 400 the indexed corpus) -----------------------------------
    Probe("x32_incremental_dedup",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val corpus = docs.where(col("doc_id") < 400)
        val batch = docs.where(col("doc_id") >= 400)
        val sigs = Dedup.minhashSignaturesOnePass(corpus, n = 3, numPerm = 8)
        val sets = Dedup.shingleHashSets(corpus, n = 3)
        Dedup.incrementalNearDups(batch, sigs, sets, n = 3,
          bands = 4, rowsPer = 2, threshold = 0.5)
          .orderBy("new_id", "corpus_id")
      },
      Some {
        val consts = Dedup.permutationConstants(8)
        val mins = consts.zipWithIndex.map { case ((a, b), i) =>
          s"MIN(($a * h + $b) % $P) AS m$i"
        }.mkString(", ")
        val bandHash = (0 until 4).map { bIdx =>
          val cols = (0 until 2).map(r => s"m${bIdx * 2 + r}").mkString(", ")
          s"SELECT $bIdx AS band_idx, md5(concat_ws('_', $cols)) AS band_hash, doc_id FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH sh AS ($shingleSql),
           |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh),
           |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
           |buckets AS ($bandHash),
           |cands AS (
           |  SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS corpus_id
           |  FROM buckets l JOIN buckets r
           |    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
           |  WHERE l.doc_id >= 400 AND r.doc_id < 400),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT c.new_id, c.corpus_id, COUNT(*) AS n_inter
           |  FROM cands c
           |  JOIN sh a ON a.doc_id = c.new_id
           |  JOIN sh b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
           |  GROUP BY 1, 2),
           |j AS (
           |  SELECT c.new_id, c.corpus_id,
           |    ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
           |          (sa.n + sb.n - COALESCE(i.n_inter, 0)), 6) AS jaccard
           |  FROM cands c
           |  LEFT JOIN inter i ON i.new_id = c.new_id AND i.corpus_id = c.corpus_id
           |  JOIN sizes sa ON sa.doc_id = c.new_id
           |  JOIN sizes sb ON sb.doc_id = c.corpus_id)
           |SELECT new_id, corpus_id, jaccard FROM j
           |WHERE jaccard >= 0.5 ORDER BY new_id, corpus_id""".stripMargin
      }),

    // MultimodalOps plumbing: binary column + digest --------------------
    Probe("x09_multimodal_bytes",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).as("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TextOps.winnowingFingerprints (MOSS rolling-hash dedup) -----------
    Probe("x12_winnowing",
      (s, d) => {
        // one-pass codegen kernel (map-only, no k-gram explode);
        // MinHashKernelSpec asserts equivalence with the relational
        // winnowingFingerprints reference.
        graft.GraftExtensions.register(s)
        TextOps.winnowingFingerprintSets(Tables.documents(s, d), k = 8, w = 4)
          .select(col("doc_id"),
            size(col("fps")).cast("long").as("n_fp"),
            element_at(col("fps"), 1).as("fp_min"),
            aggregate(col("fps"), lit(0L), (a, x) => a + x).as("fp_sum"))
          .orderBy("doc_id")
      },
      Some("""WITH n AS (
             |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, g.i AS i,
             |    ('0x' || substr(md5(substr(t, g.i, 8)), 1, 7))::BIGINT AS h,
             |    length(t) - 7 AS n_grams
             |  FROM n, (SELECT unnest(generate_series(1, 100000)) AS i) g
             |  WHERE g.i <= length(t) - 7),
             |wins AS (
             |  SELECT doc_id, i, h, n_grams,
             |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
             |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
             |  FROM grams),
             |sel AS (
             |  SELECT DISTINCT doc_id,
             |    CASE WHEN n_grams < 4 THEN h ELSE wmin END AS fp
             |  FROM wins WHERE i <= n_grams - 3 OR n_grams < 4)
             |SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS fp_min,
             |  CAST(SUM(fp) AS BIGINT) AS fp_sum
             |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sessionize: gap-based session assignment + summary ----------------
    Probe("x13_sessionize",
      (s, d) => {
        val sessions = Sessionize.assign(Tables.events(s, d), gapMinutes = 30)
        Sessionize.summarize(sessions)
          .select(col("user_id"), col("session_id"), col("n_events"),
            col("session_start"), col("duration_sec"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    LAG(ts) OVER w AS prev_ts
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |b AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN prev_ts IS NULL THEN 1
             |         WHEN FLOOR(EPOCH(ts)) - FLOOR(EPOCH(prev_ts)) > 1800 THEN 1
             |         ELSE 0 END AS boundary
             |  FROM g),
             |sess AS (
             |  SELECT user_id, ts,
             |    user_id || '_' || CAST(SUM(boundary) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id
             |       ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id
             |  FROM b)
             |SELECT user_id, session_id, COUNT(*) AS n_events,
             |  MIN(ts) AS session_start,
             |  CAST(FLOOR(EPOCH(MAX(ts))) - FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS duration_sec
             |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_start""".stripMargin)),

    // TfIdf.topKeywords: corpus-weighted keyword extraction -------------
    Probe("x14_tfidf_keywords",
      (s, d) => {
        graft.GraftExtensions.register(s)   // word_counts kernel
        TfIdf.topKeywords(Tables.documents(s, d), k = 3)
          .select(col("doc_id"), col("rank"), col("word"),
            round(col("score"), 6).as("score"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH words AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, word, COUNT(*) AS tf FROM words
             |  WHERE word <> '' GROUP BY 1, 2),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |idf AS (
             |  SELECT word, LN((CAST(n_docs AS DOUBLE) + 1.0) / (COUNT(DISTINCT doc_id) + 1.0)) + 1.0 AS idf
             |  FROM tf, n GROUP BY word, n_docs),
             |scored AS (
             |  SELECT tf.doc_id, tf.word, tf.tf * idf.idf AS score,
             |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |                       ORDER BY tf.tf * idf.idf DESC, tf.word) AS rank
             |  FROM tf JOIN idf USING (word))
             |SELECT doc_id, rank, word, ROUND(score, 6) AS score
             |FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // TextOps.normalizeText: canonical cleanup ---------------------------
    Probe("x15_normalize_text",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.normalizeText(col("text")).as("norm"),
          md5(TextOps.normalizeText(col("text"))).as("norm_md5"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  lower(trim(regexp_replace(regexp_replace(text,
             |    '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm,
             |  md5(lower(trim(regexp_replace(regexp_replace(text,
             |    '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')))) AS norm_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Corpus statistics (per-source breakdown for curation dashboards) --
    Probe("x11_corpus_stats",
      (s, d) => Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum("n_chars").as("total_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("source"),
      Some("""SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
             |CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(n_chars) AS min_chars,
             |MAX(n_chars) AS max_chars
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Dedup.contamination: train/eval shingle-overlap leakage scan ------
    Probe("x16_contamination",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val eval = docs.where(col("doc_id") % 2 === 1)
        Dedup.contamination(train, eval, n = 3, minOverlap = 3)
          .orderBy("eval_id", "train_id")
      },
      Some(s"""WITH sh AS ($shingleSql),
              |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 0),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 2 = 1)
              |SELECT eval_id, train_id, COUNT(*) AS n_shared
              |FROM ev JOIN tr USING (shingle)
              |GROUP BY 1, 2 HAVING COUNT(*) >= 3
              |ORDER BY eval_id, train_id""".stripMargin)),

    // Dedup.contamination with the df-threshold skew guard: stopword-
    // like shingles (train-side document frequency > 3 at this SF) are
    // dropped before the join — the oracle mirrors the prune on the
    // shingle strings, so the certified output is the PRUNED scan, not
    // a no-op (at sf0.01 the cutoff excludes the df-4/5 shingles and
    // several (eval,train) pairs shift or drop vs x16).
    Probe("x25_contamination_pruned",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val eval = docs.where(col("doc_id") % 2 === 1)
        Dedup.contamination(train, eval, n = 3, minOverlap = 3,
            maxShingleDf = 3L)
          .orderBy("eval_id", "train_id")
      },
      Some(s"""WITH sh AS ($shingleSql),
              |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 0),
              |keep AS (SELECT shingle FROM tr GROUP BY 1 HAVING COUNT(*) <= 3),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 2 = 1)
              |SELECT eval_id, train_id, COUNT(*) AS n_shared
              |FROM ev JOIN tr USING (shingle) JOIN keep USING (shingle)
              |GROUP BY 1, 2 HAVING COUNT(*) >= 3
              |ORDER BY eval_id, train_id""".stripMargin)),

    // TextOps.repetitionRatio: duplicate-bigram corpus-quality filter --
    Probe("x28_repetition_ratio",
      (s, d) => TextOps.repetitionRatio(Tables.documents(s, d), n = 2)
        .orderBy("doc_id"),
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |    array_to_string(words[g.i:g.i + 1], ' ') AS shingle
             |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
             |        FROM documents) w,
             |    (SELECT unnest(generate_series(1, 10000)) AS i) g
             |  WHERE g.i <= greatest(1, len(words) - 1))
             |SELECT doc_id,
             |  1.0e0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*) AS rep_ratio
             |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Dedup.semanticDedup: SemDeDup over the embedding corpus — the
    // deterministic IVF quantizer makes cells, centroids, assignment,
    // within-cell pairs and keep flags all mirrorable op-for-op -------
    Probe("x29_semantic_dedup",
      (s, d) => {
        graft.GraftExtensions.register(s)
        Dedup.semanticDedup(Tables.embeddings(s, d), nlist = 8, tau = 0.25)
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
             |  SELECT vec_id, embedding, cell FROM (
             |    SELECT i.vec_id, i.embedding, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |dups AS (
             |  SELECT DISTINCT b.vec_id AS dup_id
             |  FROM assigned a JOIN assigned b USING (cell)
             |  WHERE a.vec_id < b.vec_id
             |    AND ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             |      (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |       SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
             |      >= 0.25)
             |SELECT a.vec_id, a.cell, d.dup_id IS NULL AS keep
             |FROM assigned a LEFT JOIN dups d ON a.vec_id = d.dup_id
             |ORDER BY a.vec_id""".stripMargin)),

    // RangeJoin.bucketized: interval containment as an equi-join -------
    // (intervals [k*18, k*18+27) overlap, so points can match 1-2 of
    // them; the oracle states the same join as a plain theta BETWEEN)
    Probe("x26_range_join",
      (s, d) => {
        val iv = Tables.nation(s, d).select(col("n_nationkey"),
          (col("n_nationkey") * 18.0).as("lo"),
          (col("n_nationkey") * 18.0 + 27.0).as("hi"))
        RangeJoin.bucketized(
            Tables.events(s, d).select(col("value")), "value",
            iv, "lo", "hi", width = 20.0)
          .groupBy("n_nationkey")
          .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, COUNT(*) AS n,
             |  ROUND(SUM(value), 6) AS sum_value
             |FROM nation n JOIN events e
             |  ON e.value >= n.n_nationkey * 18.0e0
             | AND e.value <  n.n_nationkey * 18.0e0 + 27.0e0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sketch error contract: approx quantile within 2% of exact ---------
    // (sketches differ per engine, so the CERTIFIED value is the exact
    // quantile plus the engine-portable error-bound boolean)
    Probe("x17_approx_quantile_bound",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("exact_median"),
          expr("percentile_approx(value, 0.5, 10000)").as("approx"))
        .select(col("event_type"), col("exact_median"),
          (abs(col("approx") - col("exact_median")) <=
            col("exact_median") * 0.02).as("within_bound"))
        .orderBy("event_type"),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS exact_median,
             |  ABS(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
             |    <= quantile_cont(value, 0.5) * 0.02 AS within_bound
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sketch error contract: HyperLogLog distinct within 15% ------------
    Probe("x18_hll_bound",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.15).as("within_bound"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             |  ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
             |    <= COUNT(DISTINCT user_id) * 0.15 AS within_bound
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // AsOfJoin: most recent prior 'view' for each 'purchase' -----------
    // (union + window ffill on the Spark side vs DuckDB's native
    // ASOF JOIN — two independent formulations of the same semantics)
    Probe("x19_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id")
        // one view per (user, ts): keep max event_id so the window
        // ffill's last-wins and ASOF's single-match agree
        val views = ev.where(col("event_type") === "view")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("view_event_id"), max("value").as("view_value"))
        AsOfJoin.asOf(purchases, views, keyCol = "user_id", timeCol = "ts",
            payloadCols = Seq("view_event_id", "view_value"))
          .orderBy("event_id")
      },
      Some("""WITH purchases AS (
             |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
             |views AS (
             |  SELECT user_id, ts, MAX(event_id) AS view_event_id, MAX(value) AS view_value
             |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
             |SELECT p.user_id, p.ts, p.event_id,
             |  v.view_event_id AS asof_view_event_id,
             |  v.view_value AS asof_view_value
             |FROM purchases p ASOF LEFT JOIN views v
             |  ON p.user_id = v.user_id AND v.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)),

    // TextOps.redactPii over synthesized PII (corpus has none) ----------
    Probe("x20_redact_pii",
      (s, d) => {
        val withPii = Tables.documents(s, d).withColumn("aug",
          concat(col("text"), lit(" contact u"), col("doc_id"),
            lit("@example.com via http://site.example/p/"), col("doc_id"),
            lit(" ref "), (col("doc_id") * 1234567 + 76543210).cast("string")))
        withPii.select(col("doc_id"),
            TextOps.redactPii(col("aug")).as("redacted"),
            md5(TextOps.redactPii(col("aug"))).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, text || ' contact u' || doc_id ||
             |    '@example.com via http://site.example/p/' || doc_id ||
             |    ' ref ' || CAST(doc_id * 1234567 + 76543210 AS VARCHAR) AS aug
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(aug,
             |    '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,253}\.[A-Za-z]{2,24}', '<EMAIL>', 'g'),
             |    'https?://[^\s]+', '<URL>', 'g'),
             |    '[0-9]{7,}', '<NUM>', 'g') AS redacted
             |  FROM a)
             |SELECT doc_id, redacted, md5(redacted) AS redacted_md5
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Sampling.quantileBandFilter: per-source outlier trim --------------
    Probe("x21_quantile_band",
      (s, d) => Sampling.quantileBandFilter(
          Tables.documents(s, d), "n_chars", "source", 0.1, 0.9)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("q_lo"), col("q_hi"))
        .orderBy("doc_id"),
      Some("""WITH b AS (
             |  SELECT source, quantile_cont(n_chars, 0.1) AS q_lo,
             |    quantile_cont(n_chars, 0.9) AS q_hi
             |  FROM documents GROUP BY 1)
             |SELECT doc_id, source, n_chars, q_lo, q_hi
             |FROM documents JOIN b USING (source)
             |WHERE n_chars >= q_lo AND n_chars <= q_hi
             |ORDER BY doc_id""".stripMargin)),

    // Sampling.hashSplit: deterministic train/val/test membership -------
    Probe("x30_hash_split",
      (s, d) => Sampling.hashSplit(Tables.documents(s, d),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE
             |    WHEN b < 800000 THEN 'train'
             |    WHEN b < 900000 THEN 'val'
             |    ELSE 'test'
             |  END AS split
             |FROM (SELECT doc_id,
             |        CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
             |          % 1000000 AS b
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Sampling.packSequences: GPT-style packing, one stream per shard ---
    Probe("x31_pack_sequences",
      (s, d) => Sampling.packSequences(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"),
              TextOps.wsTokenCount(col("text")).as("n_tokens")),
          budget = 512, tokenCol = "n_tokens", shardCol = "lang")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("start_offset"), col("pack_id"))
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, lang, n_tokens,
             |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS start_offset
             |  FROM t)
             |SELECT doc_id, lang, n_tokens, start_offset,
             |  CAST(FLOOR(start_offset / 512) AS BIGINT) AS pack_id
             |FROM o ORDER BY doc_id""".stripMargin)),

    // Dedup.cosineNearDups (embedding near-duplicates) ------------------
    Probe("x10_cosine_neardups",
      (s, d) => {
        graft.GraftExtensions.register(s)   // graft_dot_product resolution
        val embs = Tables.embeddings(s, d).where(col("vec_id") < 100)
        Dedup.cosineNearDups(embs, threshold = 0.2)
          .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             |    (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE a.vec_id < 100 AND b.vec_id < 100
             |  AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             |    (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.2
             |ORDER BY id_a, id_b""".stripMargin)),

    // Similarity.lshTopK: the APPROXIMATE ANN scale path, certified
    // end-to-end — the md5-derived hyperplane signatures, banding,
    // bucket join, and exact rerank are all mirrored op-for-op in SQL,
    // so the hash compare certifies the approximate result itself, and
    // both engines independently compute the recall@10-vs-exact bound.
    Probe("x22_lsh_topk",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val embs = Tables.embeddings(s, d)
        val approx = Similarity.lshTopK(embs, queryId = 7, k = 10,
          planes = 16, bands = 8, dim = Some(64))
        val exact = Similarity.cosineTopK(embs, queryId = 7, k = 10)
        val ok = approx.select("vec_id")
          .join(exact.select("vec_id"), "vec_id")
          .agg((count(lit(1)) >= 8).as("recall_ok"))
        approx.select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .crossJoin(broadcast(ok))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some("""WITH w AS (
             |  SELECT p, j,
             |    CAST((CAST('0x' || substring(md5('graft_plane_' || CAST(p AS VARCHAR)
             |      || '_' || CAST(j AS VARCHAR)), 1, 6) AS BIGINT) % 2001 - 1000)
             |      AS DOUBLE) / 1000.0 AS wt
             |  FROM range(16) t1(p) CROSS JOIN range(64) t2(j)),
             |wl AS (SELECT p, list(wt ORDER BY j) AS wvec FROM w GROUP BY p),
             |sig AS (
             |  SELECT e.vec_id,
             |    CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[], wl.wvec) > 0
             |         THEN 1 << p ELSE 0 END) AS BIGINT) AS sig
             |  FROM embeddings e CROSS JOIN wl GROUP BY e.vec_id),
             |banded AS (
             |  SELECT s.vec_id, b.band_idx, (s.sig >> (b.band_idx * 2)) & 3 AS band_val
             |  FROM sig s CROSS JOIN
             |    (SELECT CAST(band_idx AS INT) AS band_idx FROM range(8) t(band_idx)) b),
             |qb AS (SELECT band_idx, band_val FROM banded WHERE vec_id = 7),
             |cand AS (
             |  SELECT DISTINCT b.vec_id FROM banded b JOIN qb USING (band_idx, band_val)
             |  WHERE b.vec_id <> 7),
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
             |approx AS (
             |  SELECT c.vec_id,
             |    list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS sim
             |  FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
             |  ORDER BY sim DESC, vec_id LIMIT 10),
             |exact AS (
             |  SELECT e.vec_id FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 7
             |  ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) DESC, vec_id
             |  LIMIT 10),
             |rec AS (SELECT (SELECT COUNT(*) FROM approx JOIN exact USING (vec_id)) >= 8
             |        AS recall_ok)
             |SELECT a.vec_id, ROUND(a.sim, 6) AS sim, rec.recall_ok
             |FROM approx a CROSS JOIN rec ORDER BY sim DESC, vec_id""".stripMargin)),

    // IvfIndex.topKDeterministic: the IVF query machinery (cell ranking,
    // nprobe pruning, exact rerank) certified end-to-end under a
    // deterministic hash+mean quantizer both engines can build — md5
    // init cells, one Lloyd mean step with round-6 centroids, round-6
    // argmin assignment. nprobe=6 of nlist=8 is a real prune (a quarter
    // of the data skipped) and still clears the recall@10 >= 0.8 bound.
    Probe("x23_ivf_topk",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val embs = Tables.embeddings(s, d)
        val approx = IvfIndex.topKDeterministic(embs, queryId = 7, k = 10,
          nlist = 8, nprobe = 6)
        val exact = Similarity.cosineTopK(embs, queryId = 7, k = 10)
        val ok = approx.select("vec_id")
          .join(exact.select("vec_id"), "vec_id")
          .agg((count(lit(1)) >= 8).as("recall_ok"))
        approx.select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .crossJoin(broadcast(ok))
          .orderBy(col("sim").desc, col("vec_id"))
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
             |  SELECT vec_id, embedding, cell FROM (
             |    SELECT i.vec_id, i.embedding, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
             |probecells AS (
             |  SELECT cell FROM (
             |    SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             |      ROUND(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
             |        - 2 * list_dot_product(q.qv::DOUBLE[], c.c)
             |        + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM cent c CROSS JOIN q) WHERE rn <= 6),
             |approx AS (
             |  SELECT a.vec_id,
             |    list_dot_product(a.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS sim
             |  FROM assigned a JOIN probecells USING (cell) CROSS JOIN q
             |  WHERE a.vec_id <> 7
             |  ORDER BY sim DESC, vec_id LIMIT 10),
             |exact AS (
             |  SELECT e.vec_id FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 7
             |  ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) DESC, vec_id
             |  LIMIT 10),
             |rec AS (SELECT (SELECT COUNT(*) FROM approx JOIN exact USING (vec_id)) >= 8
             |        AS recall_ok)
             |SELECT a.vec_id, ROUND(a.sim, 6) AS sim, rec.recall_ok
             |FROM approx a CROSS JOIN rec ORDER BY sim DESC, vec_id""".stripMargin)),

    // PqIndex: product-quantization ADC shortlist + exact rerank -------
    // (32 subspaces x 2 dims, 16 cells each, seeded from vectors
    // 0..15 + one Lloyd step; codebook, codes, distance table and
    // shortlist all mirrored op-for-op; recall bound vs exact top-10
    // like x22/x23)
    Probe("x27_pq_topk",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val embs = Tables.embeddings(s, d)
        val approx = PqIndex.adcTopK(embs, queryId = 3, k = 10,
          shortlist = 60, m = 32, ksub = 16, dim = 64, cacheKey = Some(d))
        val exact = Similarity.cosineTopK(embs, queryId = 3, k = 10)
        val ok = approx.select("vec_id")
          .join(exact.select("vec_id"), "vec_id")
          .agg((count(lit(1)) >= 8).as("recall_ok"))
        approx.select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .crossJoin(broadcast(ok))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some("""WITH dims AS (
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
             |codes AS (
             |  SELECT vec_id, subspace, cell AS code FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
             |      ORDER BY dist ASC, cell ASC) AS rn FROM dist) WHERE rn = 1),
             |qtab AS (
             |  SELECT d.subspace, cb.cell,
             |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS qdist
             |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
             |  WHERE d.vec_id = 3 GROUP BY 1, 2),
             |short AS (
             |  SELECT c.vec_id, ROUND(SUM(q.qdist), 6) AS adist
             |  FROM codes c JOIN qtab q ON c.subspace = q.subspace AND c.code = q.cell
             |  WHERE c.vec_id <> 3 GROUP BY 1
             |  ORDER BY adist ASC, vec_id ASC LIMIT 60),
             |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
             |rerank AS (
             |  SELECT s.vec_id,
             |    list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS sim
             |  FROM short s JOIN embeddings e USING (vec_id) CROSS JOIN qv q
             |  ORDER BY sim DESC, vec_id LIMIT 10),
             |exact AS (
             |  SELECT e.vec_id FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 3
             |  ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) DESC, vec_id
             |  LIMIT 10),
             |rec AS (SELECT (SELECT COUNT(*) FROM rerank JOIN exact USING (vec_id)) >= 8
             |        AS recall_ok)
             |SELECT r.vec_id, ROUND(r.sim, 6) AS sim, rec.recall_ok
             |FROM rerank r CROSS JOIN rec ORDER BY sim DESC, vec_id""".stripMargin)),

    // HeavyHitters.MisraGries: frequency-sketch guarantee contract ------
    // (sketch CONTENTS below the guarantee threshold are partitioning-
    // dependent, so — like x17/x18 — the certified rows are the exact
    // heavy tokens plus the engine-portable boolean that the MG
    // guarantee held for each: every token with cnt·capacity > N must
    // be in the summary. Docs are augmented with 20 copies of a
    // per-doc unique token so the distinct count (~1k) genuinely
    // exceeds the 256 counters and the sketch actually compresses.)
    Probe("x34_heavy_hitters",
      (s, d) => {
        val aug = Tables.documents(s, d).withColumn("aug",
          concat(col("text"), expr("repeat(concat(' u', doc_id), 20)")))
        val sketch = aug.agg(
          HeavyHitters.heavyHitters(256)(col("aug")).as("mg"))
        val toks = aug.select(
          explode(split(trim(col("aug")), "\\s+")).as("w"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        toks.groupBy("w").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(total))
          .where(col("cnt") * 256 > col("n_total"))
          .crossJoin(broadcast(sketch))
          .select(col("w"), col("cnt"),
            map_contains_key(col("mg"), col("w")).as("in_sketch"))
          .orderBy("w")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, text || repeat(' u' || doc_id, 20) AS aug
             |  FROM documents),
             |toks AS (
             |  SELECT unnest(regexp_split_to_array(trim(aug), '\s+')) AS w
             |  FROM a),
             |c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1),
             |t AS (SELECT COUNT(*) AS n_total FROM toks)
             |SELECT w, cnt, TRUE AS in_sketch FROM c, t
             |WHERE cnt * 256 > n_total ORDER BY w""".stripMargin)),

    // HeavyHitters under groupBy: per-language dominant tokens ----------
    // (the realistic corpus-profiling shape — one bounded MG summary
    // per group key, partial-aggregated map-side like any keyed agg;
    // certified with the same guarantee contract as x34 per group)
    Probe("x39_heavy_hitters_grouped",
      (s, d) => {
        val aug = Tables.documents(s, d).withColumn("aug",
          concat(col("text"), expr("repeat(concat(' u', doc_id), 20)")))
        val sketches = aug.groupBy("lang").agg(
          HeavyHitters.heavyHitters(64)(col("aug")).as("mg"))
        val toks = aug.select(col("lang"),
          explode(split(trim(col("aug")), "\\s+")).as("w"))
        val totals = toks.groupBy("lang").agg(count(lit(1)).as("n_total"))
        toks.groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
          .join(broadcast(totals), "lang")
          .where(col("cnt") * 64 > col("n_total"))
          .join(broadcast(sketches), "lang")
          .select(col("lang"), col("w"), col("cnt"),
            map_contains_key(col("mg"), col("w")).as("in_sketch"))
          .orderBy("lang", "w")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, lang, text || repeat(' u' || doc_id, 20) AS aug
             |  FROM documents),
             |toks AS (
             |  SELECT lang, unnest(regexp_split_to_array(trim(aug), '\s+')) AS w
             |  FROM a),
             |c AS (SELECT lang, w, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
             |t AS (SELECT lang, COUNT(*) AS n_total FROM toks GROUP BY 1)
             |SELECT c.lang, w, cnt, TRUE AS in_sketch
             |FROM c JOIN t USING (lang)
             |WHERE cnt * 64 > n_total ORDER BY lang, w""".stripMargin)),

    // CountMin point-frequency sketch: error contract per token --------
    // (md5-derived row hashes make every cell index relational, so the
    // estimate is read back out of the sketch array with element_at;
    // certified: estimate never BELOW the true count (deterministic
    // CMS property, exact int64 merges) and never above it by more
    // than 3N/width on this corpus — the x17/x18-style engine-portable
    // bound pattern. Docs are salted with per-doc unique tokens so the
    // ~1k-at-sf0.01 vocabulary genuinely collides in the 8192 cells.)
    Probe("x40_countmin_bound",
      (s, d) => {
        val aug = Tables.documents(s, d).withColumn("aug",
          concat(col("text"), expr("repeat(concat(' u', doc_id), 20)")))
        val sk = aug.agg(CountMin.countMin(8192, 4)(col("aug")).as("cms"))
        val toks = aug.select(
          explode(split(trim(col("aug")), "\\s+")).as("w"))
        val counts = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        val est = CountMin.estimate(col("cms"), col("w"), 8192, 4)
        counts.crossJoin(broadcast(sk)).crossJoin(broadcast(total))
          .select(col("w"), col("cnt"),
            (est >= col("cnt")).as("lb_ok"),
            (est <= col("cnt") +
              ceil(col("n_total") * 3.0 / 8192).cast("long")).as("ub_ok"))
          .orderBy("w")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, text || repeat(' u' || doc_id, 20) AS aug
             |  FROM documents),
             |toks AS (
             |  SELECT unnest(regexp_split_to_array(trim(aug), '\s+')) AS w
             |  FROM a),
             |c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1)
             |SELECT w, cnt, TRUE AS lb_ok, TRUE AS ub_ok
             |FROM c ORDER BY w""".stripMargin)),

    // Hll.registers: the HyperLogLog DISTINCT-COUNT sketch as a plain
    // (bucket, rho) relation — every register re-derived in SQL from
    // the same md5-hex arithmetic (bucket = 2 hex chars, rho = 1 +
    // leading-zero bits of the next 48, all-zero → 49), densified to
    // all 256 buckets with rho 0. Certifying the REGISTERS (exact
    // integers) rather than only the estimate pins the distributed
    // machinery: max per bucket is partial-aggregable and partition-
    // invariant, which is the whole mergeability claim ---------------
    Probe("x113_hll_registers",
      (s, d) =>
        Hll.registers(Tables.documents(s, d), col("text"), p = 8)
          .orderBy("bucket"),
      Some("""WITH vals AS (
             |  SELECT md5(text) AS h FROM documents WHERE text IS NOT NULL),
             |parts AS (
             |  SELECT h,
             |    length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) AS zeros,
             |    substring(substring(h, 3, 12),
             |      CAST(length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) + 1 AS INT),
             |      1) AS fnz
             |  FROM vals),
             |r AS (
             |  SELECT CAST(('0x' || substring(h, 1, 2)) AS INT) AS bucket,
             |    CASE WHEN zeros = 12 THEN 49
             |         ELSE zeros * 4 + CASE WHEN fnz = '1' THEN 3
             |                               WHEN fnz IN ('2', '3') THEN 2
             |                               WHEN fnz IN ('4', '5', '6', '7') THEN 1
             |                               ELSE 0 END + 1 END AS rho
             |  FROM parts),
             |agg AS (SELECT bucket, MAX(rho) AS rho FROM r GROUP BY 1)
             |SELECT CAST(g.bucket AS INT) AS bucket,
             |  CAST(COALESCE(a.rho, 0) AS INT) AS rho
             |FROM (SELECT unnest(generate_series(0, 255)) AS bucket) g
             |LEFT JOIN agg a ON a.bucket = g.bucket
             |ORDER BY bucket""".stripMargin)),

    // Hll.merge + Hll.estimate: shard sketches (doc_id parity) merged
    // by per-bucket max, then the estimator — the EXACT integer
    // harmonic sum S = Σ 2^(49−rho) (no order-sensitive float
    // accumulation), the empty-bucket count, and the corrected
    // estimate (linear counting when raw ≤ 2.5m and zeros exist).
    // The oracle computes the registers GLOBALLY — equality is the
    // merge ≡ global certification -----------------------------------
    Probe("x114_hll_estimate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = Hll.registers(docs.where(col("doc_id") % 2 === 0),
          col("text"), p = 8)
        val b = Hll.registers(docs.where(col("doc_id") % 2 === 1),
          col("text"), p = 8)
        Hll.estimate(Hll.merge(a, b), p = 8)
      },
      Some {
        val m = 256
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val scale = java.lang.Double.toString(
          alpha * m * m * math.pow(2.0, 49))
        s"""WITH vals AS (
           |  SELECT md5(text) AS h FROM documents WHERE text IS NOT NULL),
           |parts AS (
           |  SELECT h,
           |    length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) AS zeros,
           |    substring(substring(h, 3, 12),
           |      CAST(length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) + 1 AS INT),
           |      1) AS fnz
           |  FROM vals),
           |r AS (
           |  SELECT CAST(('0x' || substring(h, 1, 2)) AS INT) AS bucket,
           |    CASE WHEN zeros = 12 THEN 49
           |         ELSE zeros * 4 + CASE WHEN fnz = '1' THEN 3
           |                               WHEN fnz IN ('2', '3') THEN 2
           |                               WHEN fnz IN ('4', '5', '6', '7') THEN 1
           |                               ELSE 0 END + 1 END AS rho
           |  FROM parts),
           |agg AS (SELECT bucket, MAX(rho) AS rho FROM r GROUP BY 1),
           |dens AS (
           |  SELECT g.bucket, COALESCE(a.rho, 0) AS rho
           |  FROM (SELECT unnest(generate_series(0, 255)) AS bucket) g
           |  LEFT JOIN agg a ON a.bucket = g.bucket),
           |sums AS (
           |  SELECT CAST(SUM(CAST(2 ** (49 - rho) AS BIGINT)) AS BIGINT) AS s_scaled,
           |         CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
           |  FROM dens)
           |SELECT s_scaled, v_zero,
           |  ROUND(CASE WHEN v_zero > 0 AND $scale / s_scaled <= 640.0
           |        THEN 256.0 * ln(256.0 / v_zero)
           |        ELSE $scale / s_scaled END, 6) AS estimate
           |FROM sums""".stripMargin
      }),

    // Hll.registersBy + mergeBy + estimateBy: GROUPED HyperLogLog —
    // per-key distinct counts (distinct texts per language), the form
    // a curation pipeline actually asks. Shard sketches (doc_id
    // parity) merge per (group, bucket), then the per-group estimator
    // folds the ABSENT buckets back in arithmetically (registers are
    // sparse — the deliberate scale choice that avoids a
    // |groups|·2^p densify). The oracle computes grouped registers
    // GLOBALLY, so equality certifies sparse merge ≡ global AND the
    // absent-bucket estimator arithmetic per group ------------------
    Probe("x116_hll_grouped",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val a = Hll.registersBy(docs.where(col("doc_id") % 2 === 0),
          col("text"), Seq("lang"), p = 8)
        val b = Hll.registersBy(docs.where(col("doc_id") % 2 === 1),
          col("text"), Seq("lang"), p = 8)
        Hll.estimateBy(Hll.mergeBy(Seq("lang"), a, b), Seq("lang"), p = 8)
          .orderBy("lang")
      },
      Some {
        val m = 256
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val scale = java.lang.Double.toString(
          alpha * m * m * math.pow(2.0, 49))
        s"""WITH vals AS (
           |  SELECT lang, md5(text) AS h FROM documents
           |  WHERE text IS NOT NULL),
           |parts AS (
           |  SELECT lang, h,
           |    length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) AS zeros,
           |    substring(substring(h, 3, 12),
           |      CAST(length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) + 1 AS INT),
           |      1) AS fnz
           |  FROM vals),
           |r AS (
           |  SELECT lang, CAST(('0x' || substring(h, 1, 2)) AS INT) AS bucket,
           |    CASE WHEN zeros = 12 THEN 49
           |         ELSE zeros * 4 + CASE WHEN fnz = '1' THEN 3
           |                               WHEN fnz IN ('2', '3') THEN 2
           |                               WHEN fnz IN ('4', '5', '6', '7') THEN 1
           |                               ELSE 0 END + 1 END AS rho
           |  FROM parts),
           |agg AS (SELECT lang, bucket, MAX(rho) AS rho FROM r GROUP BY 1, 2),
           |sums AS (
           |  SELECT lang,
           |    CAST(SUM(CAST(2 ** (49 - rho) AS BIGINT))
           |      + (256 - COUNT(*)) * CAST(2 ** 49 AS BIGINT) AS BIGINT) AS s_scaled,
           |    CAST(256 - COUNT(*) AS BIGINT) AS v_zero
           |  FROM agg GROUP BY 1)
           |SELECT lang, s_scaled, v_zero,
           |  ROUND(CASE WHEN v_zero > 0 AND $scale / s_scaled <= 640.0
           |        THEN 256.0 * ln(256.0 / v_zero)
           |        ELSE $scale / s_scaled END, 6) AS estimate
           |FROM sums ORDER BY lang""".stripMargin
      }),

    // Hll.writeSketch/appendToSketch/estimateFromSketch: the AT-REST
    // sketch artifact — a daily-cadence distinct-count pipeline
    // persists per-batch sparse grouped registers instead of
    // re-deriving them from raw data every run. The artifact is built
    // on half the corpus and APPENDED with the other half (marker-
    // gated), geometry (p, value col, group cols) read back off the
    // persisted meta; the oracle derives the per-lang estimates from
    // the RAW corpus, so equality certifies the persisted-merged
    // registers ≡ from-raw end to end ------------------------------
    Probe("x124_hll_sketch_at_rest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tag = IndexCache.corpusTag("x124", d, docs, Seq("doc_id", "text"))
        val dir = IndexCache.built(s"x124_hll_sketch_$tag") { dir =>
          Hll.writeSketch(docs.where(col("doc_id") % 2 === 0), "text",
            Seq("lang"), dir, p = 8)
          Hll.appendToSketch(docs.where(col("doc_id") % 2 === 1), dir,
            doneMarker = Some("b1"))
        }
        Hll.estimateFromSketch(s, dir).orderBy("lang")
      },
      Some {
        val m = 256
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val scale = java.lang.Double.toString(
          alpha * m * m * math.pow(2.0, 49))
        s"""WITH vals AS (
           |  SELECT lang, md5(text) AS h FROM documents
           |  WHERE text IS NOT NULL),
           |parts AS (
           |  SELECT lang, h,
           |    length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) AS zeros,
           |    substring(substring(h, 3, 12),
           |      CAST(length(regexp_extract(substring(h, 3, 12), '^(0*)', 1)) + 1 AS INT),
           |      1) AS fnz
           |  FROM vals),
           |r AS (
           |  SELECT lang, CAST(('0x' || substring(h, 1, 2)) AS INT) AS bucket,
           |    CASE WHEN zeros = 12 THEN 49
           |         ELSE zeros * 4 + CASE WHEN fnz = '1' THEN 3
           |                               WHEN fnz IN ('2', '3') THEN 2
           |                               WHEN fnz IN ('4', '5', '6', '7') THEN 1
           |                               ELSE 0 END + 1 END AS rho
           |  FROM parts),
           |agg AS (SELECT lang, bucket, MAX(rho) AS rho FROM r GROUP BY 1, 2),
           |sums AS (
           |  SELECT lang,
           |    CAST(SUM(CAST(2 ** (49 - rho) AS BIGINT))
           |      + (256 - COUNT(*)) * CAST(2 ** 49 AS BIGINT) AS BIGINT) AS s_scaled,
           |    CAST(256 - COUNT(*) AS BIGINT) AS v_zero
           |  FROM agg GROUP BY 1)
           |SELECT lang, s_scaled, v_zero,
           |  ROUND(CASE WHEN v_zero > 0 AND $scale / s_scaled <= 640.0
           |        THEN 256.0 * ln(256.0 / v_zero)
           |        ELSE $scale / s_scaled END, 6) AS estimate
           |FROM sums ORDER BY lang""".stripMargin
      }),

    // Dedup.contaminationBloomPruned: bloom prefilter, EXACT output -----
    // (identical result to the unpruned x16 scan — bloom has no false
    // negatives and the equi-join removes the false positives — so the
    // oracle is the plain exact contamination SQL)
    Probe("x35_bloom_contamination",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val eval = docs.where(col("doc_id") % 2 === 1)
        Dedup.contaminationBloomPruned(train, eval, n = 3, minOverlap = 3,
            fpp = 0.01)
          .orderBy("eval_id", "train_id")
      },
      Some(s"""WITH sh AS ($shingleSql),
              |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 0),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 2 = 1)
              |SELECT eval_id, train_id, COUNT(*) AS n_shared
              |FROM ev JOIN tr USING (shingle)
              |GROUP BY 1, 2 HAVING COUNT(*) >= 3
              |ORDER BY eval_id, train_id""".stripMargin)),

    // TextOps.lineDedup: C4/RefinedWeb line-level dedup -----------------
    // (the corpus has no newlines, so docs are synthesized with two
    // lines each where doc i's SECOND line is doc i+1's FIRST line —
    // every line is duplicated across adjacent documents and the
    // first-occurrence rule produces a nontrivial keep/drop pattern:
    // doc 0 keeps both lines, middle docs keep only their second
    // line, the last doc keeps nothing)
    Probe("x36_line_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nexts = docs.select((col("doc_id") - 1).as("doc_id"),
          substring(col("text"), 1, 80).as("nxt"))
        val aug = docs.join(nexts, Seq("doc_id"), "left")
          .select(col("doc_id"),
            concat(substring(col("text"), 1, 80),
              when(col("nxt").isNull, lit(""))
                .otherwise(concat(lit("\n"), col("nxt")))).as("aug"))
        TextOps.lineDedup(aug, textCol = "aug").orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT d.doc_id,
             |    substr(d.text, 1, 80) ||
             |    CASE WHEN n.text IS NULL THEN ''
             |         ELSE chr(10) || substr(n.text, 1, 80) END AS aug
             |  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1),
             |l AS (
             |  SELECT doc_id, g.i - 1 AS pos, parts[g.i] AS line
             |  FROM (SELECT doc_id, string_split(aug, chr(10)) AS parts FROM a),
             |       (SELECT unnest(generate_series(1, 2)) AS i) g
             |  WHERE g.i <= len(parts)),
             |f AS (
             |  SELECT doc_id, pos, line,
             |    ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn,
             |    length(trim(line)) = 0 AS trivial
             |  FROM l),
             |k AS (
             |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             |    COUNT(*) AS n_kept
             |  FROM f WHERE rn = 1 OR trivial GROUP BY 1)
             |SELECT a.doc_id,
             |  COALESCE(k.clean_text, '') AS clean_text,
             |  COALESCE(k.n_kept, 0) AS n_kept,
             |  len(string_split(a.aug, chr(10))) - COALESCE(k.n_kept, 0) AS n_dropped
             |FROM a LEFT JOIN k USING (doc_id) ORDER BY a.doc_id""".stripMargin)),

    // TextOps.exactSpanDedup: ExactSubstr-style duplicated-SPAN
    // removal (Lee et al. 2021) — every duplicated 8-token span keeps
    // only its first corpus occurrence; later occurrences are excised
    // from the text. The mirror re-derives gram hashes, the
    // first-occurrence rule (ROW_NUMBER vs min(struct) — same order),
    // gaps-and-islands interval merging, and the token-level rebuild
    // completely independently --------------------------------------
    Probe("x58_exact_span_dedup",
      (s, d) => TextOps.exactSpanDedup(Tables.documents(s, d), k = 8)
        .orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    regexp_split_to_array(trim(text), '\s+'),
             |    x -> x <> '') AS parts
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, gg.i - 1 AS s,
             |    CAST('0x' || substring(md5('ss_' ||
             |      array_to_string(list_transform(
             |        list_slice(parts, gg.i, gg.i + 7), x -> lower(x)), ' ')),
             |      1, 15) AS BIGINT) AS h
             |  FROM w, (SELECT unnest(generate_series(1, 100000)) AS i) gg
             |  WHERE gg.i <= len(parts) - 7),
             |dup AS (
             |  SELECT doc_id, s, s + 8 AS e FROM (
             |    SELECT doc_id, s,
             |      ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
             |      COUNT(*) OVER (PARTITION BY h) AS c
             |    FROM g)
             |  WHERE c > 1 AND rn > 1),
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

    // PqIndex.ivfPqTopK: the COMPOSED scale path — IVF cell pruning
    // (x23's certified quantizer) feeding the PQ ADC shortlist (x27's
    // certified codebook) then exact rerank. The parts were already
    // oracle-certified; this certifies their composition op-for-op —
    // the candidate set from nprobe 6/8 cells restricts the codes
    // table before the ADC scan, exactly as the 100 TB plan would
    // (prune first, score the survivors, rerank a shortlist) --------
    Probe("x37_ivf_pq_topk",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val embs = Tables.embeddings(s, d)
        val approx = PqIndex.ivfPqTopK(embs, queryId = 3, k = 10,
          nlist = 8, nprobe = 6, shortlist = 60, m = 32, ksub = 16, dim = 64,
          cacheKey = Some(d))
        val exact = Similarity.cosineTopK(embs, queryId = 3, k = 10)
        val ok = approx.select("vec_id")
          .join(exact.select("vec_id"), "vec_id")
          .agg((count(lit(1)) >= 7).as("recall_ok"))
        approx.select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .crossJoin(broadcast(ok))
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
             |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
             |probecells AS (
             |  SELECT cell FROM (
             |    SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             |      ROUND(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
             |        - 2 * list_dot_product(q.qv::DOUBLE[], c.c)
             |        + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM cent c CROSS JOIN qv q) WHERE rn <= 6),
             |cand AS (
             |  SELECT a.vec_id FROM assigned a JOIN probecells USING (cell)),
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
             |codes AS (
             |  SELECT vec_id, subspace, cell AS code FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
             |      ORDER BY dist ASC, cell ASC) AS rn FROM dist) WHERE rn = 1),
             |qtab AS (
             |  SELECT d.subspace, cb.cell,
             |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS qdist
             |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
             |  WHERE d.vec_id = 3 GROUP BY 1, 2),
             |short AS (
             |  SELECT c.vec_id, ROUND(SUM(q.qdist), 6) AS adist
             |  FROM codes c JOIN cand USING (vec_id)
             |  JOIN qtab q ON c.subspace = q.subspace AND c.code = q.cell
             |  WHERE c.vec_id <> 3 GROUP BY 1
             |  ORDER BY adist ASC, vec_id ASC LIMIT 60),
             |rerank AS (
             |  SELECT s.vec_id,
             |    list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS sim
             |  FROM short s JOIN embeddings e USING (vec_id) CROSS JOIN qv q
             |  ORDER BY sim DESC, vec_id LIMIT 10),
             |exact AS (
             |  SELECT e.vec_id FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 3
             |  ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) DESC, vec_id
             |  LIMIT 10),
             |rec AS (SELECT (SELECT COUNT(*) FROM rerank JOIN exact USING (vec_id)) >= 7
             |        AS recall_ok)
             |SELECT r.vec_id, ROUND(r.sim, 6) AS sim, rec.recall_ok
             |FROM rerank r CROSS JOIN rec ORDER BY sim DESC, vec_id""".stripMargin)),

    // CURATION FLAGSHIP: the end-to-end training-data pipeline in one
    // certified probe — the x-suite's w01. Corpus is salted with exact
    // copies (+1M ids) and near copies (+2M ids, one appended word);
    // then: quality/token scoring → threshold filter → exact dedup
    // (min-id keeper) → one-pass MinHash LSH → Jaccard ≥ 0.5 →
    // drop-the-higher-id → deterministic hash split. Every stage's
    // machinery is individually certified (x02/x01/x05/x06/x08/x30);
    // this certifies the COMPOSITION, exact-id for exact-id, against
    // one DuckDB mirror of the whole DAG. Scale shape: scoring and
    // signatures are map-only scans; the only shuffles are the md5
    // dedup groupBy, the band-bucket join (candidate-proportional)
    // and the split-free reassembly joins — no stage is quadratic in
    // the corpus.
    Probe("x38_curation_e2e",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val all = docs
          .union(docs.select(col("doc_id") + 1000000, col("text")))
          .union(docs.select(col("doc_id") + 2000000,
            concat(col("text"), lit(" zq")).as("text")))
        val scored = all.select(col("doc_id"), col("text"),
          TextOps.qualityScore(col("text")).as("quality"),
          TextOps.wsTokenCount(col("text")).as("ws_tokens"))
        // Materialize = lineage truncation, NOT caching across runs:
        // `filtered` feeds the dedup keeper set AND the join back, and
        // `exactKept` is re-referenced by the signature, shingle and
        // survivor branches — lazily composed, the quality kernel
        // re-scans the tripled corpus ~6× and the 166 KB plan makes
        // AQE replanning the wall-time driver (the x123 lesson). Both
        // are CORPUS-SIZED, so they go through the at-rest parquet
        // write ([[Materialize]]) — the cleaned-corpus-artifact
        // materialization a real curation job pays — rather than
        // localCheckpoint's executor-pinned, non-recomputable blocks.
        val filtered = Materialize.toParquet(scored
          .where(col("quality") >= 0.87 && col("ws_tokens") >= 30),
          "x38_filtered")
        val keepIds = Dedup.exactDedup(filtered.select("doc_id", "text"))
          .select(col("keep_id").as("doc_id"))
        val exactKept =
          Materialize.toParquet(filtered.join(keepIds, "doc_id"), "x38_kept")
        val sig = Dedup.minhashSignaturesOnePass(exactKept, n = 3, numPerm = 8)
        val pairs = Dedup.lshCandidatePairs(
          Dedup.lshBuckets(sig, bands = 4, rowsPer = 2))
        val jac = Dedup.ngramJaccardFromSets(
          Dedup.shingleHashSets(exactKept, n = 3), pairs)
        val drops = jac.where(col("jaccard") >= 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        val surv = exactKept.join(drops, Seq("doc_id"), "left_anti")
        Sampling.hashSplit(surv,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("quality"),
            col("ws_tokens"), col("split"))
          .orderBy("doc_id")
      },
      Some {
        val consts = Dedup.permutationConstants(8)
        val mins = consts.zipWithIndex.map { case ((a, b), i) =>
          s"MIN(($a * h + $b) % $P) AS m$i"
        }.mkString(", ")
        val bandHash = (0 until 4).map { bIdx =>
          val cols = (0 until 2).map(r => s"m${bIdx * 2 + r}").mkString(", ")
          s"SELECT $bIdx AS band_idx, md5(concat_ws('_', $cols)) AS band_hash, doc_id FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH all_docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000, text FROM documents
           |  UNION ALL SELECT doc_id + 2000000, text || ' zq' FROM documents),
           |m AS (
           |  SELECT doc_id, text,
           |    CAST(length(text) AS DOUBLE) AS len,
           |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS spaces,
           |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens
           |  FROM all_docs),
           |scored AS (
           |  SELECT doc_id, text, ws_tokens, GREATEST(0.0e0, LEAST(1.0e0,
           |    CASE WHEN len > 0 THEN alpha / len ELSE 0.0e0 END * 0.5e0 +
           |    GREATEST(0.0e0, 1.0e0 - ABS(CASE WHEN len > 0 THEN spaces / len
           |      ELSE 0.0e0 END - 1.0e0 / 6.0e0) * 3.0e0) * 0.3e0 +
           |    (1.0e0 - CASE WHEN len > 0 THEN punct / len ELSE 0.0e0 END) * 0.2e0))
           |    AS quality
           |  FROM m),
           |f AS (SELECT * FROM scored WHERE quality >= 0.87e0 AND ws_tokens >= 30),
           |e AS (
           |  SELECT f.* FROM f JOIN (
           |    SELECT MIN(doc_id) AS doc_id FROM f GROUP BY md5(text)) k
           |  USING (doc_id)),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    array_to_string(words[g.i:g.i + 2], ' ') AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
           |        FROM e) w,
           |    (SELECT unnest(generate_series(1, 10000)) AS i) g
           |  WHERE g.i <= greatest(1, len(words) - 2)),
           |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh),
           |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
           |buckets AS ($bandHash),
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |  FROM buckets l JOIN buckets r
           |    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
           |  WHERE l.doc_id < r.doc_id),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
           |  FROM pairs p
           |  JOIN sh a ON a.doc_id = p.id_a
           |  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |  GROUP BY 1, 2),
           |drops AS (
           |  SELECT DISTINCT p.id_b AS doc_id
           |  FROM pairs p
           |  JOIN sizes sa ON sa.doc_id = p.id_a
           |  JOIN sizes sb ON sb.doc_id = p.id_b
           |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
           |  WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
           |        (sa.n + sb.n - COALESCE(i.n_inter, 0)) >= 0.5e0),
           |surv AS (SELECT e.* FROM e LEFT JOIN drops USING (doc_id)
           |         WHERE drops.doc_id IS NULL)
           |SELECT doc_id, quality, ws_tokens,
           |  CASE
           |    WHEN b < 800000 THEN 'train'
           |    WHEN b < 900000 THEN 'val'
           |    ELSE 'test'
           |  END AS split
           |FROM (SELECT *,
           |        CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           |          % 1000000 AS b
           |      FROM surv)
           |ORDER BY doc_id""".stripMargin
      }),

    // PqIndex at rest: the index you persist ONCE — codes partitioned
    // by IVF cell + codebook/centroid side tables — answering the same
    // query as the in-memory x37 composition, hash-equal, with the
    // nprobe cell selection arriving at the codes AND vectors scans as
    // file-level PartitionFilters (PqSpec gates the plan). At 100 TB
    // this is the difference between a query that reads ~nprobe/nlist
    // of m-byte codes and one that rebuilds the index per query ------
    Probe("x41_pq_index_at_rest",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val embs = Tables.embeddings(s, d)
        // build ONCE per corpus, then every query — including this
        // probe re-run — reads the index at rest: that amortization IS
        // the operator's contract. Value-sensitive fingerprint +
        // completion marker (IndexCache doc): count+id-sum alone would
        // serve a stale index for regenerated data with the same ids,
        // and codes/_SUCCESS alone trusts a build that crashed before
        // the other outputs landed.
        val dir = IndexCache.annPqIndex(s, d)
        val q = embs.where(col("vec_id") === 3)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble)
        PqIndex.topKFromIndex(s, dir, q, k = 10, nprobe = 6, shortlist = 60,
            excludeId = Some(3L))
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
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
             |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
             |probecells AS (
             |  SELECT cell FROM (
             |    SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             |      ROUND(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
             |        - 2 * list_dot_product(q.qv::DOUBLE[], c.c)
             |        + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM cent c CROSS JOIN qv q) WHERE rn <= 6),
             |cand AS (
             |  SELECT a.vec_id FROM assigned a JOIN probecells USING (cell)),
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
             |codes AS (
             |  SELECT vec_id, subspace, cell AS code FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
             |      ORDER BY dist ASC, cell ASC) AS rn FROM dist) WHERE rn = 1),
             |qtab AS (
             |  SELECT d.subspace, cb.cell,
             |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS qdist
             |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
             |  WHERE d.vec_id = 3 GROUP BY 1, 2),
             |short AS (
             |  SELECT c.vec_id, ROUND(SUM(q.qdist), 6) AS adist
             |  FROM codes c JOIN cand USING (vec_id)
             |  JOIN qtab q ON c.subspace = q.subspace AND c.code = q.cell
             |  WHERE c.vec_id <> 3 GROUP BY 1
             |  ORDER BY adist ASC, vec_id ASC LIMIT 60),
             |rerank AS (
             |  SELECT s.vec_id,
             |    list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS sim
             |  FROM short s JOIN embeddings e USING (vec_id) CROSS JOIN qv q
             |  ORDER BY sim DESC, vec_id LIMIT 10)
             |SELECT r.vec_id, ROUND(r.sim, 6) AS sim
             |FROM rerank r ORDER BY sim DESC, vec_id""".stripMargin)),

    // PqIndex.annJoinFromIndex: the batch ANN join over the SAME
    // at-rest IVF-PQ index x41 built (deliberately shared — queries
    // against a persisted index amortize its build, and the two
    // probes certifying one artifact from two query shapes is the
    // point). Every 50th vector asks for its top-5 by ADC-shortlist
    // + exact rerank within its 4 nearest cells. The oracle re-derives
    // the whole per-query pipeline: coarse cells, codebook, codes,
    // per-QUERY ADC tables, the (adist, id) shortlist, and the
    // reranked (sim DESC, id) rank — certifying the k-NN JOIN shape
    // (hard-negative mining), not one query ------------------------
    Probe("x112_pq_ann_join",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val embs = Tables.embeddings(s, d)
        val dir = IndexCache.annPqIndex(s, d)
        val queries = embs.where(col("vec_id") % 50 === 7)
          .select(col("vec_id").as("q_id"), col("embedding"))
        PqIndex.annJoinFromIndex(queries, dir, k = 5, nprobe = 4,
            shortlist = 40)
          .select(col("q_id"), col("vec_id"),
            round(col("sim"), 6).as("sim"), col("rank"))
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
             |  SELECT vec_id AS q_id, embedding FROM embeddings
             |  WHERE vec_id % 50 = 7),
             |qcells AS (
             |  SELECT q_id, cell FROM (
             |    SELECT q.q_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             |        ROUND(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
             |          - 2 * list_dot_product(q.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM qs q CROSS JOIN cent c) WHERE rn <= 4),
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
             |codes AS (
             |  SELECT vec_id, subspace, cell AS code FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
             |      ORDER BY dist ASC, cell ASC) AS rn FROM dist) WHERE rn = 1),
             |qtab AS (
             |  SELECT d.vec_id AS q_id, d.subspace, cb.cell,
             |    ROUND(SUM((d.x - cb.cx) * (d.x - cb.cx)), 6) AS qdist
             |  FROM dims d JOIN cb ON d.subspace = cb.subspace AND d.within = cb.within
             |  WHERE d.vec_id % 50 = 7 GROUP BY 1, 2, 3),
             |adc AS (
             |  SELECT p.q_id, c.vec_id, ROUND(SUM(q.qdist), 6) AS adist
             |  FROM codes c
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
             |    list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
             |    (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             |     SQRT(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) AS sim
             |  FROM shortl s JOIN embeddings e USING (vec_id)
             |  JOIN qs q ON q.q_id = s.q_id)
             |SELECT q_id, vec_id, ROUND(sim, 6) AS sim, CAST(rn AS INT) AS rank
             |FROM (
             |  SELECT q_id, vec_id, sim,
             |    ROW_NUMBER() OVER (PARTITION BY q_id
             |                       ORDER BY sim DESC, vec_id) AS rn
             |  FROM rerank) WHERE rn <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // Contamination against the PERSISTED shingle index: the train
    // corpus is shingled ONCE into a bucketed-on-h external table;
    // the scan joins that table — no re-shingle of train, ever
    // (PlanQualitySpec gates exactly one shingle kernel in the plan,
    // on the eval side). Semantics identical to x16, so the oracle is
    // the same SQL — what is certified here is that the at-rest index
    // path reproduces the direct scan id-for-id --------------------
    Probe("x42_contamination_index",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val eval = docs.where(col("doc_id") % 2 === 1)
        val table = trainShingleTable(s, d, train)
        Dedup.contaminationFromShingles(
            Dedup.readShingleIndex(s, table), eval,
            n = 3, minOverlap = 3)
          .orderBy("eval_id", "train_id")
      },
      Some(s"""WITH sh AS ($shingleSql),
              |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 0),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 2 = 1)
              |SELECT eval_id, train_id, COUNT(*) AS n_shared
              |FROM ev JOIN tr USING (shingle)
              |GROUP BY 1, 2 HAVING COUNT(*) >= 3
              |ORDER BY eval_id, train_id""".stripMargin)),

    // Contamination with BOTH sides at rest: train AND eval shingle
    // relations persisted as h-bucketed catalog tables, so the
    // recurring sweep is a bucket-co-located equi-join — zero exchange
    // below the join, zero shingle kernels at query time (the md5
    // shingling cost is paid once at index build, not per sweep).
    // Same oracle as x16/x42: what is certified is that the fully
    // at-rest plan reproduces the direct scan id-for-id -------------
    Probe("x49_contamination_bucketed",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val eval = docs.where(col("doc_id") % 2 === 1)
        val (tt, et) = contaminationIndexTables(s, d, docs, train, eval)
        Dedup.contaminationFromShingleIndexes(
            Dedup.readShingleIndex(s, tt), Dedup.readShingleIndex(s, et),
            minOverlap = 3)
          .orderBy("eval_id", "train_id")
      },
      Some(s"""WITH sh AS ($shingleSql),
              |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 0),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 2 = 1)
              |SELECT eval_id, train_id, COUNT(*) AS n_shared
              |FROM ev JOIN tr USING (shingle)
              |GROUP BY 1, 2 HAVING COUNT(*) >= 3
              |ORDER BY eval_id, train_id""".stripMargin)),

    // TextOps.lmScore: the CCNet-style LM quality filter — add-k
    // bigram statistics trained on the even half of the corpus, every
    // document scored by mean bigram log-probability. Unseen bigrams
    // and contexts exercise the smoothing path. Scale shape: one
    // window per doc for pairing, keyed joins against the counts
    // tables (persistable, the at-rest pattern) ---------------------
    Probe("x43_lm_score",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val (contexts, bigrams, vocab) =
          TextOps.bigramCounts(docs.where(col("doc_id") % 2 === 0))
        TextOps.lmScore(docs, contexts, bigrams, vocab, k = 1.0)
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
             |                 (COALESCE(c.c1, 0) + 1.0 * v.v))), 6) AS lm_score,
             |    COUNT(*) AS n_bigrams
             |  FROM bg LEFT JOIN b USING (w1, w2) LEFT JOIN c USING (w1)
             |  CROSS JOIN v GROUP BY 1)
             |SELECT d.doc_id, s.lm_score, COALESCE(s.n_bigrams, 0) AS n_bigrams
             |FROM documents d LEFT JOIN s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // QualityClassifier: the fastText-style TRAINED quality filter —
    // multinomial NB over hashed word+bigram features. Train on the
    // even docs (label: doc_id%4==0 as the "high-quality" class),
    // score ALL docs. Training is integer counting (exactly
    // mirrorable); the mirror re-derives hashed features, per-feature
    // class counts, totals, and the per-doc mean LLR independently ---
    Probe("x57_quality_classifier",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val labeled = docs.where(col("doc_id") % 2 === 0)
          .withColumn("label", (col("doc_id") % 4 === 0).cast("int"))
        val (counts, totals) = QualityClassifier.train(labeled, numBuckets = 4096)
        QualityClassifier.score(docs, counts, totals, numBuckets = 4096, k = 1.0)
          .orderBy("doc_id")
      },
      Some("""WITH tok0 AS (
             |  SELECT doc_id, g.i AS pos, parts[g.i] AS w
             |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS parts
             |        FROM documents),
             |       (SELECT unnest(generate_series(1, 100000)) AS i) g
             |  WHERE g.i <= len(parts) AND parts[g.i] <> ''),
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
             |    CAST('0x' || substring(md5('qc_' || term), 1, 7) AS BIGINT)
             |      % 4096 AS f
             |  FROM terms),
             |lab AS (
             |  SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS y
             |  FROM documents WHERE doc_id % 2 = 0),
             |tr AS (SELECT f, y FROM feat JOIN lab USING (doc_id)),
             |cnt AS (SELECT f, SUM(y) AS c_pos, SUM(1 - y) AS c_neg
             |        FROM tr GROUP BY f),
             |tot AS (SELECT SUM(y) AS t_pos, SUM(1 - y) AS t_neg FROM tr),
             |s AS (
             |  SELECT feat.doc_id,
             |    ROUND(AVG(LN((COALESCE(c_pos, 0) + 1.0) / (t_pos + 1.0 * 4096))
             |            - LN((COALESCE(c_neg, 0) + 1.0) / (t_neg + 1.0 * 4096))), 6)
             |      AS q_score,
             |    COUNT(*) AS n_terms
             |  FROM feat LEFT JOIN cnt USING (f) CROSS JOIN tot
             |  GROUP BY 1)
             |SELECT d.doc_id, s.q_score, COALESCE(s.n_terms, 0) AS n_terms
             |FROM documents d LEFT JOIN s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Sampling.deterministicMixture: domain reweighting as a pure
    // function of the id — per-source keep fractions, salted
    // independently of split/sample bucketing. Map-only -------------
    Probe("x44_source_mixture",
      (s, d) => Sampling.deterministicMixture(Tables.documents(s, d),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultFraction = 0.1)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    CAST('0x' || substring(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
             |      % 1000000 AS b
             |  FROM documents)
             |WHERE b < CASE source WHEN 'src0' THEN 1000000
             |                      WHEN 'src1' THEN 500000
             |                      WHEN 'src2' THEN 250000
             |                      ELSE 100000 END
             |ORDER BY doc_id""".stripMargin)),

    // Dedup.decontaminateFromShingles: the REMOVAL step composed with
    // the x42 at-rest index — the cleaning pass CONSUMES the persisted
    // bucketed shingle table instead of re-shingling the corpus (at
    // 100 TB decontamination is THE consumer of the index you built);
    // the hit-list anti-join is AQE-sized, not hint-broadcast --------
    Probe("x46_decontaminate",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 2 === 0)
        val eval = docs.where(col("doc_id") % 2 === 1)
        val table = trainShingleTable(s, d, train)
        Dedup.decontaminateFromShingles(
            Dedup.readShingleIndex(s, table), train, eval,
            n = 3, minOverlap = 3)
          .select("doc_id", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS ($shingleSql),
              |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 0),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 2 = 1),
              |hits AS (
              |  SELECT DISTINCT train_id FROM (
              |    SELECT eval_id, train_id FROM ev JOIN tr USING (shingle)
              |    GROUP BY 1, 2 HAVING COUNT(*) >= 3))
              |SELECT d.doc_id, d.n_chars FROM documents d
              |WHERE d.doc_id % 2 = 0
              |  AND d.doc_id NOT IN (SELECT train_id FROM hits)
              |ORDER BY d.doc_id""".stripMargin)),

    // TextOps.domainBlocklistFilter: C4-style domain filtering — the
    // suffix explode turns subdomain matching into an EQUI-join (no
    // endsWith theta join). URLs synthesized from doc_id so the
    // blocklist exercises exact-host, subdomain, and TLD-level rules
    Probe("x47_domain_filter",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("url", concat(lit("https://"),
            when(col("doc_id") % 7 === 0, lit("cdn."))
              .otherwise(lit("")),
            lit("site"), (col("doc_id") % 10).cast("string"),
            lit(".example"),
            when(col("doc_id") % 3 === 0, lit(".net")).otherwise(lit(".com")),
            lit("/page/"), col("doc_id").cast("string")))
        TextOps.domainBlocklistFilter(docs,
            Seq("site3.example.com", "site4.example.net", "example.org"))
          .select(col("doc_id"),
            TextOps.extractHost(col("url")).as("host"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    'https://' ||
             |    CASE WHEN doc_id % 7 = 0 THEN 'cdn.' ELSE '' END ||
             |    'site' || CAST(doc_id % 10 AS VARCHAR) || '.example' ||
             |    CASE WHEN doc_id % 3 = 0 THEN '.net' ELSE '.com' END ||
             |    '/page/' || CAST(doc_id AS VARCHAR) AS url
             |  FROM documents),
             |h AS (
             |  SELECT doc_id,
             |    lower(regexp_extract(url,
             |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
             |  FROM u),
             |sfx AS (
             |  SELECT doc_id, array_to_string(
             |    list_slice(string_split(host, '.'), g.i,
             |               len(string_split(host, '.'))), '.') AS suffix
             |  FROM h, (SELECT unnest(generate_series(1, 8)) AS i) g
             |  WHERE g.i <= len(string_split(host, '.'))),
             |hits AS (
             |  SELECT DISTINCT doc_id FROM sfx
             |  WHERE suffix IN ('site3.example.com', 'site4.example.net',
             |                   'example.org'))
             |SELECT h.doc_id, h.host FROM h
             |WHERE h.doc_id NOT IN (SELECT doc_id FROM hits)
             |ORDER BY h.doc_id""".stripMargin)),

    // TextOps.chunkByChars: sliding-window chunking with overlap for
    // embedding/RAG pipelines — map-side explode, offsets exact ------
    Probe("x48_chunking",
      (s, d) => TextOps.chunkByChars(Tables.documents(s, d),
          size = 120, overlap = 20)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH n AS (
             |  SELECT doc_id, text, length(text) AS len,
             |    CAST(CEIL(GREATEST(length(text) - 120, 0) / 100.0) AS INT) + 1
             |      AS n_chunks
             |  FROM documents)
             |SELECT doc_id, g.i AS chunk_idx, g.i * 100 AS start_char,
             |  substr(text, g.i * 100 + 1, 120) AS chunk,
             |  length(substr(text, g.i * 100 + 1, 120)) AS chunk_chars
             |FROM n, (SELECT unnest(generate_series(0, 100000)) AS i) g
             |WHERE g.i < n_chunks
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // TextOps.gopherRepetitionSignals: Gopher/MassiveText §A1.1
    // within-document repetition filters — dup-line / dup-paragraph /
    // top-bigram fractions as one map-only projection (the bigram
    // multiplicity is a sorted-array run-length fold, no explode).
    // The corpus is salted with the next doc's prefix (like x36) so
    // real within-doc duplication exists at every sf ---------------
    Probe("x45_gopher_signals",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val aug = docs.select(col("doc_id"),
          concat_ws("\n", substring(col("text"), 1, 60),
            substring(col("text"), 1, 60),
            substring(col("text"), 61, 60)).as("text"))
        TextOps.gopherRepetitionSignals(aug).orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    substr(text, 1, 60) || chr(10) || substr(text, 1, 60) ||
             |    chr(10) || substr(text, 61, 60) AS text
             |  FROM documents),
             |l AS (
             |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM a),
             |lf AS (
             |  SELECT doc_id,
             |    ROUND(1.0 - COUNT(DISTINCT line) * 1.0 / COUNT(*), 6) AS dup_line_frac
             |  FROM l WHERE length(trim(line)) > 0 GROUP BY 1),
             |p AS (
             |  SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS para
             |  FROM a),
             |pf AS (
             |  SELECT doc_id,
             |    ROUND(1.0 - COUNT(DISTINCT para) * 1.0 / COUNT(*), 6) AS dup_para_frac
             |  FROM p WHERE length(trim(para)) > 0 GROUP BY 1),
             |tok AS (
             |  SELECT doc_id, g.i AS pos, parts[g.i] AS w
             |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS parts
             |        FROM a),
             |       (SELECT unnest(generate_series(1, 100000)) AS i) g
             |  WHERE g.i <= len(parts) AND parts[g.i] <> ''),
             |bg AS (
             |  SELECT doc_id, w1 || ' ' || w2 AS b FROM (
             |    SELECT doc_id, w AS w1,
             |      LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
             |    FROM tok) WHERE w2 IS NOT NULL),
             |bf AS (
             |  SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_bigram_frac
             |  FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT a.doc_id,
             |  COALESCE(lf.dup_line_frac, 0.0) AS dup_line_frac,
             |  COALESCE(pf.dup_para_frac, 0.0) AS dup_para_frac,
             |  COALESCE(bf.top_bigram_frac, 0.0) AS top_bigram_frac
             |FROM a LEFT JOIN lf USING (doc_id) LEFT JOIN pf USING (doc_id)
             |LEFT JOIN bf USING (doc_id)
             |ORDER BY a.doc_id""".stripMargin)),
  )
}

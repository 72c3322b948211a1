package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Certification probes for the corpus-cleaning rule operators
  * (x82–x83): the C4 page/line rules and frequency-threshold
  * boilerplate removal. The synthetic corpus has no line structure or
  * punctuation, so each probe synthesizes a deterministic multi-line
  * page from the document text (the x36 pattern) with every rule
  * exercised: kept lines, dropped lines, and page-level drops, at the
  * threshold boundaries.
  */
object CleaningProbes {

  /** Write-once cleaned-corpus artifact for x98, fingerprint-tagged
    * like the x42 shingle index so repeated runs at one SF reuse it. */
  private def cleanArtifactTable(s: org.apache.spark.sql.SparkSession,
                                 d: String,
                                 signals: org.apache.spark.sql.DataFrame): String = {
    val fp = signals.agg(count(lit(1)), sum(col("doc_id"))).collect()(0)
    val tag = s"${d.replaceAll("[^A-Za-z0-9]", "_")}_${fp.getLong(0)}_${fp.getLong(1)}"
    val table = s"graft_x98_clean_$tag"
    if (!s.catalog.tableExists(table))
      CorpusArtifact.write(signals, IndexCache.dir(s"x98_artifact_$tag"),
        table, nShards = 8)
    table
  }

  val probes: Seq[Probe] = Seq(

    // TextOps.c4Signals: the C4 cleaning rules (Raffel et al. 2020).
    // Page construction per doc:
    //   line1 text[1..60]+'.'  — kept (terminal punct, many words)
    //   line2 text[61..90]     — dropped (no terminal punct)
    //   line3 'short.'         — dropped (< 3 words)
    //   line4 javascript line (doc_id%7=0) — dropped by the word rule;
    //         else a 7-word '?' line — kept
    //   line5 'Lorem Ipsum …' (doc_id%11=0) — kept as a LINE but the
    //         page drops via has_lorem; else a '!' line — kept
    //   line6 'body { … }' (doc_id%13=0) — dropped line AND page brace
    //   line7 (doc_id%17=0) a kept line carrying the bad word
    // keep=true for pages hit by none of the rules (n_sentences 3 ≥ 3);
    // %7 pages fail the sentence floor (2 < 3) — every rule decides
    // some page ------------------------------------------------------
    Probe("x82_c4_rules",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val aug = docs.select(col("doc_id"), concat(
          substring(col("text"), 1, 60), lit("."), lit("\n"),
          substring(col("text"), 61, 30), lit("\n"),
          lit("short."), lit("\n"),
          when(col("doc_id") % 7 === 0,
            lit("Please enable JavaScript to view comments."))
            .otherwise(lit("the quick brown fox jumps high today?")), lit("\n"),
          when(col("doc_id") % 11 === 0, lit("Lorem Ipsum dolor sit amet."))
            .otherwise(lit("a perfectly normal closing line!")), lit("\n"),
          when(col("doc_id") % 13 === 0, lit("body { margin: 0 }"))
            .otherwise(lit("")),
          when(col("doc_id") % 17 === 0,
            lit("\nbadword7 is right here today.")).otherwise(lit("")))
          .as("text"))
        TextOps.c4Signals(aug, badWords = Seq("badword7"),
            minWordsPerLine = 3, minSentences = 3)
          .orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    substr(text, 1, 60) || '.' || chr(10) ||
             |    substr(text, 61, 30) || chr(10) ||
             |    'short.' || chr(10) ||
             |    CASE WHEN doc_id % 7 = 0
             |         THEN 'Please enable JavaScript to view comments.'
             |         ELSE 'the quick brown fox jumps high today?' END || chr(10) ||
             |    CASE WHEN doc_id % 11 = 0 THEN 'Lorem Ipsum dolor sit amet.'
             |         ELSE 'a perfectly normal closing line!' END || chr(10) ||
             |    CASE WHEN doc_id % 13 = 0 THEN 'body { margin: 0 }' ELSE '' END ||
             |    CASE WHEN doc_id % 17 = 0
             |         THEN chr(10) || 'badword7 is right here today.' ELSE '' END
             |      AS t
             |  FROM documents),
             |k AS (
             |  SELECT doc_id, t,
             |    list_transform(string_split(t, chr(10)), x -> trim(x)) AS lines,
             |    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
             |      x -> regexp_matches(x, '[.!?"]$')
             |       AND len(regexp_extract_all(x, '[^\t\n\x0B\f\r ]+')) >= 3
             |       AND NOT regexp_matches(lower(x),
             |             '(?:^|[^a-z0-9])javascript(?:[^a-z0-9]|$)')) AS kept
             |  FROM a),
             |c AS (
             |  SELECT doc_id, t, lines, kept,
             |    array_to_string(kept, chr(10)) AS clean_text,
             |    (length(array_to_string(kept, chr(10))) -
             |     length(regexp_replace(array_to_string(kept, chr(10)),
             |       '[.!?]', '', 'g')))::BIGINT AS n_sentences,
             |    contains(lower(t), 'lorem ipsum') AS has_lorem,
             |    (contains(t, '{') OR contains(t, '}')) AS has_brace,
             |    list_has_any(regexp_extract_all(lower(t), '[a-z0-9]+'),
             |      ['badword7']) AS has_bad_word
             |  FROM k)
             |SELECT doc_id, clean_text,
             |  len(lines)::BIGINT AS n_lines,
             |  len(kept)::BIGINT AS n_kept,
             |  n_sentences, has_lorem, has_brace, has_bad_word,
             |  (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
             |    AND NOT has_bad_word) AS keep
             |FROM c ORDER BY doc_id""".stripMargin)),

    // TextOps.lineFrequencyFilter: boilerplate = a line in ≥ 3
    // distinct docs, removed from ALL of them. Page construction:
    //   line1 text[1..50]            — organic (usually unique)
    //   line2 universal footer       — df = N → dropped everywhere
    //   line3 %4=0 social banner (df = N/4 ≥ 3 → dropped);
    //         else text[51..90]      — organic
    //   line4 ''                     — trivial, always kept
    //   line5 'pair <id div 2>'      — df = 2 < 3 → kept (boundary)
    //   line6 'trio <id div 3>'      — df = 3 → dropped (boundary) ----
    Probe("x83_line_frequency",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val aug = docs.select(col("doc_id"), concat(
          substring(col("text"), 1, 50), lit("\n"),
          lit("subscribe to our newsletter"), lit("\n"),
          when(col("doc_id") % 4 === 0, lit("follow us on social media"))
            .otherwise(substring(col("text"), 51, 40)), lit("\n"),
          lit("\n"),
          lit("pair "), expr("CAST(doc_id DIV 2 AS STRING)"), lit("\n"),
          lit("trio "), expr("CAST(doc_id DIV 3 AS STRING)")).as("text"))
        TextOps.lineFrequencyFilter(aug, minDocs = 3).orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    substr(text, 1, 50) || chr(10) ||
             |    'subscribe to our newsletter' || chr(10) ||
             |    CASE WHEN doc_id % 4 = 0 THEN 'follow us on social media'
             |         ELSE substr(text, 51, 40) END || chr(10) ||
             |    chr(10) ||
             |    'pair ' || CAST(doc_id // 2 AS VARCHAR) || chr(10) ||
             |    'trio ' || CAST(doc_id // 3 AS VARCHAR) AS t
             |  FROM documents),
             |l AS (
             |  SELECT doc_id, g.i - 1 AS pos, parts[g.i] AS line
             |  FROM (SELECT doc_id, string_split(t, chr(10)) AS parts FROM a),
             |       (SELECT unnest(generate_series(1, 6)) AS i) g
             |  WHERE g.i <= len(parts)),
             |boiler AS (
             |  SELECT line FROM l WHERE length(trim(line)) >= 1
             |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
             |kept AS (
             |  SELECT doc_id,
             |    string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             |    COUNT(*) AS n_kept
             |  FROM l WHERE line NOT IN (SELECT line FROM boiler)
             |  GROUP BY doc_id)
             |SELECT a.doc_id,
             |  COALESCE(k.clean_text, '') AS clean_text,
             |  COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
             |  (6 - COALESCE(k.n_kept, 0))::BIGINT AS n_dropped
             |FROM a LEFT JOIN kept k ON a.doc_id = k.doc_id
             |ORDER BY a.doc_id""".stripMargin)),

    // CorpusArtifact: the cleaned corpus AT REST — x82's C4 signals
    // written partitioned by (keep, shard) and read back through the
    // keep=true training reader. The oracle re-derives the C4
    // decisions AND the shard hash; the Spark side answers from the
    // persisted artifact alone (keep arrives as a PartitionFilter —
    // plan-gated in CleaningSpec), so a wrong partition layout, a
    // lossy write, or a drifting shard function all diverge ---------
    Probe("x98_clean_artifact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val aug = docs.select(col("doc_id"), concat(
          substring(col("text"), 1, 60), lit("."), lit("\n"),
          substring(col("text"), 61, 30), lit("\n"),
          lit("short."), lit("\n"),
          when(col("doc_id") % 7 === 0,
            lit("Please enable JavaScript to view comments."))
            .otherwise(lit("the quick brown fox jumps high today?")), lit("\n"),
          when(col("doc_id") % 11 === 0, lit("Lorem Ipsum dolor sit amet."))
            .otherwise(lit("a perfectly normal closing line!")), lit("\n"),
          when(col("doc_id") % 13 === 0, lit("body { margin: 0 }"))
            .otherwise(lit("")),
          when(col("doc_id") % 17 === 0,
            lit("\nbadword7 is right here today.")).otherwise(lit("")))
          .as("text"))
        val signals = TextOps.c4Signals(aug, badWords = Seq("badword7"),
          minWordsPerLine = 3, minSentences = 3)
        val table = cleanArtifactTable(s, d, signals)
        CorpusArtifact.readKept(s, table)
          .select(col("doc_id"), col("shard").cast("long").as("shard"),
            col("n_kept"), col("n_sentences"))
          .orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    substr(text, 1, 60) || '.' || chr(10) ||
             |    substr(text, 61, 30) || chr(10) ||
             |    'short.' || chr(10) ||
             |    CASE WHEN doc_id % 7 = 0
             |         THEN 'Please enable JavaScript to view comments.'
             |         ELSE 'the quick brown fox jumps high today?' END || chr(10) ||
             |    CASE WHEN doc_id % 11 = 0 THEN 'Lorem Ipsum dolor sit amet.'
             |         ELSE 'a perfectly normal closing line!' END || chr(10) ||
             |    CASE WHEN doc_id % 13 = 0 THEN 'body { margin: 0 }' ELSE '' END ||
             |    CASE WHEN doc_id % 17 = 0
             |         THEN chr(10) || 'badword7 is right here today.' ELSE '' END
             |      AS t
             |  FROM documents),
             |k AS (
             |  SELECT doc_id, t,
             |    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
             |      x -> regexp_matches(x, '[.!?"]$')
             |       AND len(regexp_extract_all(x, '[^\t\n\x0B\f\r ]+')) >= 3
             |       AND NOT regexp_matches(lower(x),
             |             '(?:^|[^a-z0-9])javascript(?:[^a-z0-9]|$)')) AS kept
             |  FROM a),
             |c AS (
             |  SELECT doc_id, t, kept,
             |    (length(array_to_string(kept, chr(10))) -
             |     length(regexp_replace(array_to_string(kept, chr(10)),
             |       '[.!?]', '', 'g')))::BIGINT AS n_sentences
             |  FROM k)
             |SELECT doc_id,
             |  CAST('0x' || substring(md5('shard_' || CAST(doc_id AS VARCHAR)), 1, 7)
             |       AS BIGINT) % 8 AS shard,
             |  len(kept)::BIGINT AS n_kept,
             |  n_sentences
             |FROM c
             |WHERE n_sentences >= 3
             |  AND NOT contains(lower(t), 'lorem ipsum')
             |  AND NOT (contains(t, '{') OR contains(t, '}'))
             |  AND NOT list_has_any(regexp_extract_all(lower(t), '[a-z0-9]+'),
             |        ['badword7'])
             |ORDER BY doc_id""".stripMargin)),

    // TextOps.keywordTag / the keyword_counts Aho-Corasick kernel:
    // ALL-occurrence (overlapping) counts for a dictionary containing
    // nested patterns ("an" inside "scan"), a single-char pattern
    // ("t", matched inside every word containing it), space-crossing
    // phrases, and an absent word. The oracle counts each pattern by
    // brute-force position enumeration — the O(len·patterns) scan the
    // automaton replaces with one O(len) pass -----------------------
    Probe("x84_keyword_scan",
      (s, d) => {
        val kws = Seq("scan", "an", "fast table", "value part", "t", "zzzq")
        TextOps.keywordTag(Tables.documents(s, d), kws)
          .select(col("doc_id"),
            element_at(col("kw_counts"), 1).as("c_scan"),
            element_at(col("kw_counts"), 2).as("c_an"),
            element_at(col("kw_counts"), 3).as("c_fast_table"),
            element_at(col("kw_counts"), 4).as("c_value_part"),
            element_at(col("kw_counts"), 5).as("c_t"),
            element_at(col("kw_counts"), 6).as("c_absent"),
            col("n_hits"),
            size(col("matched")).as("n_matched"))
          .orderBy("doc_id")
      },
      Some {
        def cnt(p: String): String =
          s"len(list_filter(generate_series(1, length(text) - ${p.length} + 1), " +
            s"i -> substr(text, i, ${p.length}) = '$p'))"
        val names = Seq("c_scan" -> "scan", "c_an" -> "an",
          "c_fast_table" -> "fast table", "c_value_part" -> "value part",
          "c_t" -> "t", "c_absent" -> "zzzq")
        val cols = names.map { case (n, p) => s"${cnt(p)} AS $n" }.mkString(",\n  ")
        val total = names.map(_._1).mkString(" + ")
        val matched = names.map { case (n, _) => s"CASE WHEN $n > 0 THEN 1 ELSE 0 END" }
          .mkString(" + ")
        s"""WITH c AS (
           |  SELECT doc_id,
           |  $cols
           |  FROM documents)
           |SELECT doc_id, c_scan, c_an, c_fast_table, c_value_part, c_t,
           |  c_absent, ($total) AS n_hits, ($matched) AS n_matched
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    // Dedup.duplicationWeights: soft dedup — every copy survives with
    // weight 1/n_copies. 20-char prefixes of the word-salad corpus
    // collide heavily, giving a spread of multiplicities; weight is
    // one IEEE division, no rounding pin --------------------------------
    Probe("x86_duplication_weights",
      (s, d) => {
        val aug = Tables.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 20).as("text"))
        Dedup.duplicationWeights(aug)
          .select(col("doc_id"), col("n_copies"), col("weight"))
          .orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id, substr(text, 1, 20) AS t FROM documents),
             |c AS (SELECT t, COUNT(*) AS n_copies FROM a GROUP BY t)
             |SELECT a.doc_id, c.n_copies,
             |  CAST(1.0 AS DOUBLE) / c.n_copies AS weight
             |FROM a JOIN c USING (t) ORDER BY a.doc_id""".stripMargin)),

    // TextOps.dedupNormalize: the FineWeb-style aggressive minhash
    // canonicalization — accents stripped (NFD + de-mark ≡ DuckDB
    // strip_accents for decomposable chars), lowercased, digits→0,
    // punctuation→space, whitespace collapsed. The synthesized suffix
    // plants every rule: case, accents (é ï Ä), digits, punctuation.
    // A near-dup pair differing only in those dimensions must
    // normalize IDENTICALLY — certified by construction: the suffix
    // variants collapse to one canonical form --------------------------
    Probe("x106_dedup_normalize",
      (s, d) => {
        val suffix = when(col("doc_id") % 2 === 0,
            lit(" Café NAÏVE No.42, Ärger!"))
          .otherwise(lit(" cafe naive no 00 arger"))
        val aug = Tables.documents(s, d)
          .select(col("doc_id"), concat(col("text"), suffix).as("t"))
        aug.select(col("doc_id"),
            TextOps.dedupNormalize(col("t")).as("norm"))
          .withColumn("n_chars", length(col("norm")))
          .orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, text ||
             |    CASE WHEN doc_id % 2 = 0
             |         THEN ' Café NAÏVE No.42, Ärger!'
             |         ELSE ' cafe naive no 00 arger' END AS t
             |  FROM documents),
             |n AS (
             |  SELECT doc_id,
             |    trim(regexp_replace(regexp_replace(regexp_replace(
             |      lower(strip_accents(t)),
             |      '\p{Nd}', '0', 'g'),
             |      '[^\p{L}\p{N}\s]', ' ', 'g'),
             |      '\s+', ' ', 'g')) AS norm
             |  FROM a)
             |SELECT doc_id, norm, CAST(length(norm) AS INT) AS n_chars
             |FROM n ORDER BY doc_id""".stripMargin)),

    // TextOps.charEntropySignals: codepoint-distribution signals —
    // entropy, top-character fraction, distinct count — the
    // compressibility/garbledness tells that need no word structure.
    // The oracle re-derives per-codepoint counts (string_split by
    // empty delimiter = codepoints), the round-6 −Σ p·ln p, the max
    // fraction, and the empty-text zero contract ---------------------
    Probe("x102_char_entropy",
      (s, d) => {
        TextOps.charEntropySignals(Tables.documents(s, d))
          .orderBy("doc_id")
      },
      Some("""WITH cp AS (
             |  SELECT doc_id, ch FROM (
             |    SELECT doc_id, unnest(string_split(text, '')) AS ch
             |    FROM documents)
             |  WHERE ch <> ''),
             |cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM cp GROUP BY 1, 2),
             |n AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1),
             |sig AS (
             |  SELECT cnt.doc_id,
             |    ROUND(-SUM((CAST(cnt.c AS DOUBLE) / n.n) *
             |      LN(CAST(cnt.c AS DOUBLE) / n.n)), 6) AS entropy,
             |    ROUND(CAST(MAX(cnt.c) AS DOUBLE) / ANY_VALUE(n.n), 6)
             |      AS top_char_frac,
             |    CAST(COUNT(*) AS INT) AS n_distinct_chars,
             |    CAST(ANY_VALUE(n.n) AS BIGINT) AS n_chars
             |  FROM cnt JOIN n USING (doc_id) GROUP BY cnt.doc_id)
             |SELECT d.doc_id,
             |  CASE WHEN d.text IS NULL THEN NULL
             |       ELSE COALESCE(s.entropy, 0.0) END AS entropy,
             |  CASE WHEN d.text IS NULL THEN NULL
             |       ELSE COALESCE(s.top_char_frac, 0.0) END AS top_char_frac,
             |  CASE WHEN d.text IS NULL THEN NULL
             |       ELSE COALESCE(s.n_distinct_chars, 0) END AS n_distinct_chars,
             |  CASE WHEN d.text IS NULL THEN NULL
             |       ELSE COALESCE(s.n_chars, 0) END AS n_chars
             |FROM documents d LEFT JOIN sig s USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // TextOps.chunkBySentences: sentence-aware RAG chunking — spans
    // never split mid-sentence, chunk assignment by cumulative-offset
    // integer division (the x31 packing contract). The synthesized
    // page has ., !, ? sentences plus an unterminated tail; short
    // documents degrade to punctuation-only "sentences", exercising
    // the trim/empty rules ---------------------------------------------
    Probe("x87_sentence_chunks",
      (s, d) => {
        val aug = Tables.documents(s, d).select(col("doc_id"), concat(
          substring(col("text"), 1, 50), lit(". "),
          substring(col("text"), 51, 35), lit("! "),
          substring(col("text"), 86, 45), lit("? "),
          lit("and a trailing tail")).as("text"))
        TextOps.chunkBySentences(aug, size = 60)
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    substr(text, 1, 50) || '. ' || substr(text, 51, 35) || '! ' ||
             |    substr(text, 86, 45) || '? ' || 'and a trailing tail' AS t
             |  FROM documents),
             |s0 AS (
             |  SELECT doc_id, g.i - 1 AS pos, trim(parts[g.i]) AS sentence
             |  FROM (SELECT doc_id,
             |          regexp_extract_all(t, '[^.!?]+[.!?]*') AS parts FROM a),
             |       (SELECT unnest(generate_series(1, 8)) AS i) g
             |  WHERE g.i <= len(parts)),
             |s AS (SELECT * FROM s0 WHERE length(sentence) > 0),
             |c AS (
             |  SELECT doc_id, pos, sentence,
             |    COALESCE(SUM(length(sentence)) OVER (
             |      PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before
             |  FROM s)
             |SELECT doc_id, CAST(cum_before // 60 AS INT) AS chunk_idx,
             |  string_agg(sentence, ' ' ORDER BY pos) AS chunk,
             |  COUNT(*) AS n_sentences,
             |  length(string_agg(sentence, ' ' ORDER BY pos)) AS chunk_chars
             |FROM c GROUP BY doc_id, chunk_idx
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // TextOps.htmlSignals: link-density boilerplate tells on a
    // synthesized page whose anchor/script weight varies by doc —
    // the oracle rebuilds the page, counts tags/links with the same
    // regexes, re-runs the verbatim stripHtml chain for text_chars,
    // and sums anchor/script inner lengths --------------------------
    Probe("x95_html_signals",
      (s, d) => {
        val id = col("doc_id")
        val html = concat(
          lit("<html><body><h1>Head</h1><p>"),
          substring(col("text"), 1, 80),
          lit("</p><a href=\"/x\">nav one</a><a href=\"/y\">nav two</a>"),
          when(id % 3 === 0,
            lit("<a href=\"/z\">an extra much longer navigation link text</a>"))
            .otherwise(lit("")),
          lit("<script>var t = 1;</script>"),
          when(id % 5 === 0, lit("<style>.x{color:red}</style>"))
            .otherwise(lit("")),
          lit("<div>"), substring(col("text"), 81, 40),
          lit("</div></body></html>"))
        TextOps.htmlSignals(
            Tables.documents(s, d).select(col("doc_id"), html.as("html")))
          .orderBy("doc_id")
      },
      Some {
        val block = TextOps.BlockTagPattern
        s"""WITH a AS (
           |  SELECT doc_id,
           |    '<html><body><h1>Head</h1><p>' || substr(text, 1, 80) ||
           |    '</p><a href="/x">nav one</a><a href="/y">nav two</a>' ||
           |    CASE WHEN doc_id % 3 = 0
           |      THEN '<a href="/z">an extra much longer navigation link text</a>'
           |      ELSE '' END ||
           |    '<script>var t = 1;</script>' ||
           |    CASE WHEN doc_id % 5 = 0 THEN '<style>.x{color:red}</style>'
           |         ELSE '' END ||
           |    '<div>' || substr(text, 81, 40) || '</div></body></html>' AS h
           |  FROM documents),
           |s1 AS (SELECT doc_id, h,
           |  regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS t FROM a),
           |s2 AS (SELECT doc_id, h,
           |  regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM s1),
           |s3 AS (SELECT doc_id, h,
           |  regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s2),
           |s4 AS (SELECT doc_id, h,
           |  regexp_replace(t, '$block', chr(10), 'g') AS t FROM s3),
           |s5 AS (SELECT doc_id, h,
           |  regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s4),
           |s6 AS (SELECT doc_id, h,
           |  replace(replace(replace(replace(replace(replace(t,
           |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |    '&#39;', CHR(39)), '&amp;', '&') AS t FROM s5),
           |s7 AS (SELECT doc_id, h,
           |  regexp_replace(t, '[ \\t\\x0B\\f\\r]+', ' ', 'g') AS t FROM s6),
           |s8 AS (SELECT doc_id, h,
           |  trim(regexp_replace(t, ' ?\\n[ \\n]*', chr(10), 'g'),
           |       ' ' || chr(10)) AS t FROM s7),
           |m AS (
           |  SELECT doc_id,
           |    len(regexp_extract_all(h, '<[^>]*>')) AS n_tags,
           |    len(regexp_extract_all(h, '(?is)<a\\b[^>]*>')) AS n_links,
           |    length(t) AS text_chars,
           |    CAST(COALESCE(list_sum(list_transform(
           |      regexp_extract_all(h, '(?is)<a[^>]*>(.*?)</a>', 1),
           |      x -> length(x))), 0) AS BIGINT) AS link_text_chars,
           |    CAST(COALESCE(list_sum(list_transform(
           |      regexp_extract_all(h,
           |        '(?is)<(?:script|style)[^>]*>(.*?)</(?:script|style)>', 1),
           |      x -> length(x))), 0) AS BIGINT) AS script_chars
           |  FROM s8)
           |SELECT doc_id, n_tags, n_links, text_chars, link_text_chars,
           |  script_chars,
           |  ROUND(CAST(link_text_chars AS DOUBLE) /
           |        GREATEST(text_chars, 1), 6) AS link_density
           |FROM m ORDER BY doc_id""".stripMargin
      }),
  )
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Certification probe for the unigram-LM tokenizer (x96): the oracle
  * re-derives the ENTIRE hard-EM training and the final segmentation
  * in SQL — word-type counts, seed substring counts, the integer-
  * lattice log-probability scores, a full 8-position Viterbi DP
  * unroll (ROW_NUMBER per cell with the score/pieces/path tie-break)
  * under the seed model, the EM piece recount with the alphabet
  * floor, the vocabulary prune, a SECOND full DP unroll under the
  * final model, and the per-document piece-stream rollup — the
  * tokenizer sibling of the x51 BPE-training and x81 GD-trajectory
  * oracles. Corpus words are ≤ 8 chars (the unroll bound is
  * asserted in-query by construction: longer words would simply
  * produce no final row and drop from the rollup, failing the row
  * count).
  */
object TokenizerProbes {

  val probes: Seq[Probe] = Seq(

    Probe("x96_unigram_tokenizer",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = UnigramLm.train(docs, vocabSize = 20,
          maxPieceLen = 3, emRounds = 1, minCount = 2)
        UnigramLm.segmentDocs(docs, model)
          .select(col("doc_id"), col("n_pieces"), md5(col("seg")).as("seg_md5"))
          .orderBy("doc_id")
      },
      Some(unigramSql(maxLen = 8, maxPieceLen = 3, vocabSize = 20,
        minCount = 2))),

    // UnigramLm.tokenIds / the unigram_token_ids kernel: segment and
    // resolve to sorted-vocabulary ids in one pass. The oracle
    // re-derives the SAME training as x96 and additionally the id
    // contract (vocabulary pieces sorted ascending, ids 0..V−1),
    // mapping every piece of every document positionally ------------
    Probe("x97_unigram_token_ids",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = UnigramLm.train(docs, vocabSize = 20,
          maxPieceLen = 3, emRounds = 1, minCount = 2)
        docs.select(col("doc_id"),
            UnigramLm.tokenIds(col("text"), model).as("ids"))
          .select(col("doc_id"),
            size(col("ids")).as("n_ids"),
            md5(array_join(transform(col("ids"), i => i.cast("string")), " "))
              .as("ids_md5"))
          .orderBy("doc_id")
      },
      Some(unigramSql(maxLen = 8, maxPieceLen = 3, vocabSize = 20,
        minCount = 2, ids = true))),

    // WordPiece (the BERT tokenizer — the third tokenizer family):
    // the oracle re-derives the ENTIRE training and encode in SQL.
    // Training: 16 merge-selection rounds as materialized CTE stages,
    // each ranking candidate pairs by the WordPiece LIKELIHOOD
    // criterion count(ab)/(count(a)·count(b)) — compared in EXACT
    // integer arithmetic ((cnt·10^18) // (ua·ub) in HUGEINT, the
    // trainer's BigInt formula) with the byte-order pair tie-break —
    // then replaces the pair (## continuation markers preserved, the
    // merged unit keeping the left marker). Encode: greedy
    // LONGEST-match-first per word against the final vocabulary via a
    // longest-match table + one RECURSIVE path walk; any unmatched
    // position (or a >100-codepoint word) collapses the word to
    // [UNK]. The trained vocabulary AND the greedy segmentation are
    // hash-certified together — the x55/x96 trained-trajectory
    // pattern applied to the third family --------------------------
    Probe("x110_wordpiece",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.normalizeText(col("text")).as("text"))
        val m = WordPiece.train(docs, numMerges = 16)
        docs.select(col("doc_id"),
            WordPiece.tokens(col("text"), m).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("int").as("n_tokens"),
            md5(array_join(col("toks"), "|")).as("toks_md5"))
          .orderBy("doc_id")
      },
      Some(wordpieceSql(numMerges = 16)))
  )

  private def unigramSql(maxLen: Int, maxPieceLen: Int,
                         vocabSize: Int, minCount: Int,
                         ids: Boolean = false): String = {
    val dp1 = dpSqlSimple("d1", "ssc", "sunk", maxLen, maxPieceLen)
    val dp2 = dpSqlSimple("d2", "fsc", "funk", maxLen, maxPieceLen)
    s"""WITH tok AS (
       |  SELECT doc_id, g.i AS pos, parts[g.i] AS w
       |  FROM (SELECT doc_id, list_filter(
       |          regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')
       |          AS parts FROM documents),
       |       (SELECT unnest(generate_series(1, 100000)) AS i) g
       |  WHERE g.i <= len(parts)),
       |ty AS MATERIALIZED (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
       |al AS MATERIALIZED (
       |  SELECT substr(w, g.i, 1) AS ch, SUM(c) AS c
       |  FROM ty, (SELECT unnest(generate_series(1, $maxLen)) AS i) g
       |  WHERE g.i <= length(w) GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT p, SUM(c) AS cnt FROM (
       |    SELECT substr(w, g.i, l.l) AS p, c
       |    FROM ty,
       |         (SELECT unnest(generate_series(1, $maxLen)) AS i) g,
       |         (SELECT unnest(generate_series(1, $maxPieceLen)) AS l) l
       |    WHERE g.i + l.l - 1 <= length(w))
       |  GROUP BY p
       |  HAVING length(p) = 1 OR SUM(c) >= $minCount),
       |stot AS (SELECT SUM(cnt) AS t FROM seed),
       |ssc AS MATERIALIZED (SELECT p AS pc,
       |  CAST(ROUND(LN(cnt) - LN((SELECT t FROM stot)), 6) * 1000000
       |       AS BIGINT) AS s FROM seed),
       |sunk AS (SELECT
       |  CAST(ROUND(LN(1) - LN((SELECT t FROM stot)), 6) * 1000000
       |       AS BIGINT) AS u),
       |d1_b0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS score, 0 AS np, '' AS path
       |          FROM ty),
       |$dp1,
       |uses AS MATERIALIZED (
       |  SELECT piece, SUM(c) AS cnt FROM (
       |    SELECT unnest(string_split(f.path, ' ')) AS piece, t.c
       |    FROM d1_fin f JOIN ty t ON t.w = f.w)
       |  GROUP BY piece),
       |c2 AS MATERIALIZED (
       |  SELECT piece, cnt FROM uses
       |  UNION ALL
       |  SELECT ch, 1 FROM al WHERE ch NOT IN (SELECT piece FROM uses)),
       |pruned AS MATERIALIZED (
       |  SELECT piece, cnt FROM c2 WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, ROW_NUMBER() OVER
       |      (ORDER BY cnt DESC, piece ASC) AS rk
       |    FROM c2 WHERE length(piece) > 1)
       |  WHERE rk <= $vocabSize),
       |ftot AS (SELECT SUM(cnt) AS t FROM pruned),
       |fsc AS MATERIALIZED (SELECT piece AS pc,
       |  CAST(ROUND(LN(cnt) - LN((SELECT t FROM ftot)), 6) * 1000000
       |       AS BIGINT) AS s FROM pruned),
       |funk AS (SELECT
       |  CAST(ROUND(LN(1) - LN((SELECT t FROM ftot)), 6) * 1000000
       |       AS BIGINT) AS u),
       |d2_b0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS score, 0 AS np, '' AS path
       |          FROM ty),
       |$dp2,
       |${if (!ids)
      """docseg AS (
        |  SELECT tok.doc_id,
        |    string_agg(f.path, ' ' ORDER BY tok.pos) AS seg,
        |    CAST(SUM(f.np) AS INT) AS n_pieces
        |  FROM tok JOIN d2_fin f ON f.w = tok.w
        |  GROUP BY tok.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(ds.n_pieces, 0) AS n_pieces,
        |  md5(COALESCE(ds.seg, '')) AS seg_md5
        |FROM documents d LEFT JOIN docseg ds USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    else
      """vid AS MATERIALIZED (
        |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) - 1 AS INT)
        |    AS id
        |  FROM pruned),
        |pieces AS (
        |  SELECT tok.doc_id, tok.pos,
        |    unnest(string_split(f.path, ' ')) AS piece,
        |    generate_subscripts(string_split(f.path, ' '), 1) AS k
        |  FROM tok JOIN d2_fin f ON f.w = tok.w),
        |docids AS (
        |  SELECT p.doc_id,
        |    string_agg(CAST(COALESCE(v.id, -1) AS VARCHAR), ' '
        |      ORDER BY p.pos, p.k) AS idstr,
        |    CAST(COUNT(*) AS INT) AS n_ids
        |  FROM pieces p LEFT JOIN vid v ON v.piece = p.piece
        |  GROUP BY p.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(di.n_ids, 0) AS n_ids,
        |  md5(COALESCE(di.idstr, '')) AS ids_md5
        |FROM documents d LEFT JOIN docids di USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin}""".stripMargin
  }

  /** The DP unroll, final row = the cell at pos = length(w). */
  private def dpSqlSimple(name: String, scores: String, unk: String,
                          maxLen: Int, maxPieceLen: Int): String = {
    val stages = (1 to maxLen).map { p =>
      val cands = (1 to math.min(maxPieceLen, p)).map { j =>
        val prev = s"${name}_b${p - j}"
        val piece = s"substr(b.w, ${p - j + 1}, $j)"
        val sExpr =
          if (j == 1) s"COALESCE(s.s, (SELECT u FROM $unk))" else "s.s"
        val join = if (j == 1) "LEFT JOIN" else "JOIN"
        s"""SELECT b.w, b.score + $sExpr AS score, b.np + 1 AS np,
           |          CASE WHEN b.path = '' THEN $piece
           |               ELSE b.path || ' ' || $piece END AS path
           |        FROM $prev b $join $scores s ON s.pc = $piece
           |        WHERE length(b.w) >= $p""".stripMargin
      }.mkString("\n        UNION ALL\n        ")
      s"""${name}_b$p AS MATERIALIZED (
         |  SELECT w, score, np, path FROM (
         |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY c.w
         |        ORDER BY c.score DESC, c.np ASC, c.path ASC) AS rn
         |    FROM (
         |        $cands
         |    ) c) WHERE rn = 1)""".stripMargin
    }
    val finArms = (1 to maxLen).map(p =>
      s"SELECT w, path, np FROM ${name}_b$p WHERE length(w) = $p")
      .mkString(" UNION ALL ")
    s"""${stages.mkString(",\n")},
       |${name}_fin AS MATERIALIZED ($finArms)""".stripMargin
  }

  // --- WordPiece mirror --------------------------------------------------

  /** Full WordPiece re-derivation: normalized pre-token counts →
    * `numMerges` likelihood-ranked merge stages (exact HUGEINT score
    * compare, byte-order tie) → vocabulary → longest-match table →
    * recursive greedy walk → per-document piece-stream rollup.
    * Unit representation: the BpeProbes bracket scheme (E/F control
    * delimiters, stripped from payload by the x15-certified
    * normalization), `##` markers inside unit content — unambiguous
    * because only letter-run words are multi-unit and `#` pre-
    * tokenizes as a single-char word. */
  private def wordpieceSql(numMerges: Int): String = {
    val E = "\u001E" // token open (record separator)
    val F = "\u001F" // token close (unit separator)
    val tokPat = s"$E[^$F]*$F"
    val pat = "\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]"
    val nrmSql =
      """lower(trim(regexp_replace(regexp_replace(text,
        |    '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')))""".stripMargin
    val head =
      s"""nrm AS (SELECT doc_id, $nrmSql AS t FROM documents),
         |wraw AS (SELECT unnest(regexp_extract_all(t, '$pat')) AS w0 FROM nrm),
         |s0 AS MATERIALIZED (
         |  SELECT w0,
         |    regexp_replace(regexp_replace(w0, '(.)', '$E##\\1$F', 'g'),
         |      '^$E##', '$E') AS w,
         |    COUNT(*) AS f
         |  FROM wraw GROUP BY 1)""".stripMargin
    val stages = (1 to numMerges).map { i =>
      s"""u$i AS (
         |  SELECT unit, SUM(f) AS uc FROM (
         |    SELECT unnest(regexp_extract_all(w, '$tokPat')) AS unit, f
         |    FROM s${i - 1})
         |  GROUP BY 1),
         |p$i AS (
         |  SELECT a, b, SUM(f) AS cnt FROM (
         |    SELECT t[g] AS a, t[g+1] AS b, f
         |    FROM (SELECT regexp_extract_all(w, '$tokPat') AS t, f,
         |                 unnest(generate_series(1,
         |                   len(regexp_extract_all(w, '$tokPat')) - 1)) AS g
         |          FROM s${i - 1}))
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT a, b,
         |    '$E' || replace(replace(a, '$E', ''), '$F', '') ||
         |    regexp_replace(replace(replace(b, '$E', ''), '$F', ''), '^##', '') ||
         |    '$F' AS mu
         |  FROM (
         |    SELECT p.a, p.b,
         |      (CAST(p.cnt AS HUGEINT) * 1000000000000000000)
         |        // (CAST(ua.uc AS HUGEINT) * ub.uc) AS score
         |    FROM p$i p
         |    JOIN u$i ua ON ua.unit = p.a
         |    JOIN u$i ub ON ub.unit = p.b)
         |  ORDER BY score DESC, a, b LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT x.w0, replace(x.w, m.a || m.b, m.mu) AS w, x.f
         |  FROM s${i - 1} x, m$i m)""".stripMargin
    }.mkString(",\n")
    val mergedArms = (1 to numMerges).map(i => s"SELECT mu FROM m$i")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $head,
       |$stages,
       |vocab AS MATERIALIZED (
       |  SELECT DISTINCT replace(replace(u, '$E', ''), '$F', '') AS piece
       |  FROM (SELECT unnest(regexp_extract_all(w, '$tokPat')) AS u FROM s0
       |        UNION ALL $mergedArms)),
       |dw AS MATERIALIZED (SELECT DISTINCT w0 FROM wraw),
       |lm AS MATERIALIZED (
       |  SELECT w0, p, MAX(l) AS l FROM (
       |    SELECT c.w0, c.p, c.l
       |    FROM (SELECT w0, p.p,
       |            unnest(generate_series(1, length(w0) - p.p + 1)) AS l
       |          FROM dw,
       |               (SELECT unnest(generate_series(1, 200)) AS p) p
       |          WHERE p.p <= length(w0)) c
       |    JOIN vocab v ON v.piece =
       |      CASE WHEN c.p = 1 THEN substr(c.w0, 1, CAST(c.l AS INT))
       |           ELSE '##' || substr(c.w0, CAST(c.p AS INT), CAST(c.l AS INT))
       |      END)
       |  GROUP BY 1, 2),
       |walk AS (
       |  SELECT w0, CAST(1 AS BIGINT) AS p, '' AS acc FROM dw
       |  UNION ALL
       |  SELECT w.w0, w.p + lm.l,
       |    w.acc || '|' ||
       |    CASE WHEN w.p = 1 THEN substr(w.w0, 1, CAST(lm.l AS INT))
       |         ELSE '##' || substr(w.w0, CAST(w.p AS INT), CAST(lm.l AS INT))
       |    END
       |  FROM walk w JOIN lm ON lm.w0 = w.w0 AND lm.p = w.p),
       |done AS (
       |  SELECT w0, substr(acc, 2) AS toks,
       |         length(acc) - length(replace(acc, '|', '')) AS n
       |  FROM walk WHERE p = length(w0) + 1),
       |seg AS MATERIALIZED (
       |  SELECT dw.w0,
       |    CASE WHEN length(dw.w0) > 100 OR d.w0 IS NULL
       |         THEN '[UNK]' ELSE d.toks END AS toks,
       |    CASE WHEN length(dw.w0) > 100 OR d.w0 IS NULL
       |         THEN 1 ELSE d.n END AS n
       |  FROM dw LEFT JOIN done d USING (w0)),
       |docw AS (
       |  SELECT doc_id, j.j AS ord, j.x AS w0
       |  FROM (SELECT doc_id, regexp_extract_all(t, '$pat') AS ws FROM nrm),
       |       LATERAL (SELECT unnest(ws) AS x,
       |                generate_subscripts(ws, 1) AS j) j),
       |agg AS (
       |  SELECT doc_id, SUM(n) AS n_tokens,
       |    string_agg(toks, '|' ORDER BY ord) AS tokens_str
       |  FROM docw JOIN seg USING (w0) GROUP BY 1)
       |SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS INT) AS n_tokens,
       |  md5(COALESCE(a.tokens_str, '')) AS toks_md5
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }
}

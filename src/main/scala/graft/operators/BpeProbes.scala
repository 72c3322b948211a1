package graft.operators

import org.apache.spark.sql.functions._

import graft.expressions.BpeOps
import graft.sources.Tables
import graft.util.Stage

/** Certification probes for the BPE tokenizer (graft.operators.Bpe):
  * encode, train, token-budget chunking and token-budget packing, each
  * mirrored exactly in DuckDB.
  *
  * Mirror technique: a token list is represented in SQL as a string of
  * ` tok ` units (words joined by a space so merges cannot
  * cross pre-token boundaries), and one merge = one non-overlapping
  * left-to-right `replace()` — precisely the pass semantics the Scala
  * kernel contracts to. The delimiters are control characters, which
  * `TextOps.normalizeText` (itself oracle-certified as x15) removes
  * from the input first, so they can never occur in the payload.
  *
  * The training mirror goes further: each merge-selection round is a
  * MATERIALIZED CTE stage (pair explode → argmax with byte-order
  * tie-break → replace), so DuckDB independently re-derives the entire
  * merge table that Spark's distributed-count + driver-loop trainer
  * produces — the trained table itself is hash-certified, not just the
  * encode under a fixed table.
  */
object BpeProbes {

  private val E = "\u001E" // token open (record separator)
  private val F = "\u001F" // token close (unit separator)
  private val G = "\u001D" // adjacent-pre-token boundary (group separator)

  /** Fixed, well-formed public merge table for the encode/chunk/pack
    * probes (ranks matter; every multi-char side is produced by an
    * earlier rank). Lowercase because the probes normalize first. */
  val FixedMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r",
    "an" -> "d", "in" -> "g", "t" -> "o", "e" -> "s", "o" -> "f",
    "a" -> "l", "i" -> "s", "i" -> "t", "o" -> "u", "a" -> "r",
    "s" -> "t", "l" -> "e", "h" -> "e", "s" -> "e", "th" -> "at",
    "e" -> "d", "c" -> "o", "d" -> "e", "m" -> "e", "w" -> "h")

  /** Byte-level fixtures: `bm`/`bu` map text through GPT-2's
    * bytes_to_unicode (the mapping itself is pinned by published
    * anchors in BpeSpec — Ġ for 0x20, Ċ for 0x0A); the fixed merge
    * table fuses é's two UTF-8 bytes and 世's three back into
    * whole-character tokens, the byte-crossing regime char-level BPE
    * cannot express. */
  private[graft] def bm(s: String): String = BpeOps.byteInit(s).mkString
  val FixedByteMerges: Seq[(String, String)] = {
    val e = BpeOps.byteInit("é")
    val w = BpeOps.byteInit("世")
    Seq("t" -> "h", "th" -> "e", e(0) -> e(1),
      w(0) -> w(1), (w(0) + w(1)) -> w(2))
  }

  // --- SQL fragments -----------------------------------------------------

  /** x15-certified normalization mirror. */
  private val nrmSql =
    """lower(trim(regexp_replace(regexp_replace(text,
      |    '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')))""".stripMargin

  /** Initial encoding: split the (normalized, single-space-separated)
    * text into segments on ' ', pre-tokenize each segment, wrap every
    * codepoint as a delimited unit; adjacent pre-tokens inside one
    * segment are joined with the G separator (so merges cannot cross a
    * pre-token boundary but no space mark arises), segments with ' '. */
  private def encInitSql(t: String): String =
    s"""array_to_string(list_transform(string_split($t, ' '),
       |    seg -> array_to_string(list_transform(
       |      regexp_extract_all(seg, '\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]'),
       |      x -> regexp_replace(x, '(.)', '$E\\1$F', 'g')), '$G')), ' ')""".stripMargin

  /** Chained replace applying `merges` in rank order. */
  private def mergeChainSql(inner: String,
                            merges: Seq[(String, String)]): String =
    merges.foldLeft(inner) { case (acc, (l, r)) =>
      s"replace($acc, '$E$l$F$E$r$F', '$E$l$r$F')"
    }

  /** Full fixed-table encode of the normalized `text` column. */
  private val fixedEncodeSql: String =
    mergeChainSql(s"(${encInitSql(nrmSql)})", FixedMerges)

  /** tokens_str mirror: '|' between tokens, word-initial tokens keep
    * their space mark (matches array_join of the space-marked kernel
    * output). */
  private def tokensStrSql(f: String): String =
    s"replace(replace(replace(replace(replace($f, '$F$G$E', '|'), " +
      s"'$F $E', '| '), '$F$E', '|'), '$E', ''), '$F', '')"

  /** Space-marked token LIST mirror (for chunking). */
  private def tokenListSql(f: String): String =
    s"regexp_extract_all(replace(replace($f, '$F $E', '$F$E '), " +
      s"'$F$G$E', '$F$E'), '$E([^$F]*)$F', 1)"

  private def nTokensSql(f: String): String =
    s"CAST(length($f) - length(replace($f, '$E', '')) AS INT)"

  /** The shared training-stage pipeline: `numMerges` materialized
    * stages of (pair counts → argmax → replace) over the word-type
    * dictionary. Each dictionary row carries the ORIGINAL word `w0`
    * through every stage, so the final stage is also the full
    * word→token-list encoding under the trained table (what x55 joins
    * documents against). */
  private def trainStagesSql(numMerges: Int): Seq[String] = {
    val tokPat = s"$E[^$F]*$F"
    val head =
      s"""nrm AS (SELECT doc_id, $nrmSql AS t FROM documents),
         |wraw AS (SELECT unnest(regexp_extract_all(t,
         |         '\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]')) AS w0 FROM nrm),
         |s0 AS MATERIALIZED (
         |  SELECT w0, regexp_replace(w0, '(.)', '$E\\1$F', 'g') AS w, COUNT(*) AS f
         |  FROM wraw GROUP BY 1)""".stripMargin
    val stages = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT t[g] || t[g+1] AS pair, SUM(f) AS cnt
         |  FROM (SELECT regexp_extract_all(w, '$tokPat') AS t, f,
         |               unnest(generate_series(1,
         |                 len(regexp_extract_all(w, '$tokPat')) - 1)) AS g
         |        FROM s${i - 1})
         |  GROUP BY 1),
         |m$i AS MATERIALIZED (SELECT pair FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT x.w0, replace(x.w, m.pair,
         |           '$E' || replace(replace(m.pair, '$E', ''), '$F', '') || '$F') AS w,
         |         x.f
         |  FROM s${i - 1} x, m$i m)""".stripMargin
    }
    Seq(head) ++ stages
  }

  /** x51 mirror: the merge list re-read out of the per-stage argmax
    * CTEs. */
  private def trainSql(numMerges: Int): String = {
    val outs = (1 to numMerges).map { i =>
      s"""f$i AS (SELECT $i AS merge_rank,
         |  regexp_extract(pair, '$E([^$F]*)$F', 1) AS lhs,
         |  regexp_extract(pair, '$E[^$F]*$F$E([^$F]*)$F', 1) AS rhs
         |FROM m$i)""".stripMargin
    }
    val union = (1 to numMerges).map(i => s"SELECT * FROM f$i").mkString(" UNION ALL ")
    "WITH " + (trainStagesSql(numMerges) ++ outs).mkString(",\n") +
      s"\n$union ORDER BY merge_rank"
  }

  /** x55 mirror: documents re-tokenized under the TRAINED table — the
    * final stage's word dictionary IS the encoding, so per-document
    * token counts are one join from pre-token occurrences to it. */
  private def trainedCountSql(numMerges: Int): String = {
    val tail =
      s"""docw AS (SELECT doc_id, unnest(regexp_extract_all(t,
         |           '\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]')) AS w0 FROM nrm),
         |cnts AS (SELECT w0,
         |           length(w) - length(replace(w, '$E', '')) AS k
         |         FROM s$numMerges),
         |dt AS (SELECT doc_id, SUM(k) AS n
         |       FROM docw JOIN cnts USING (w0) GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(dt.n, 0) AS INT) AS n_tokens
         |FROM documents d LEFT JOIN dt USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    "WITH " + (trainStagesSql(numMerges) :+ tail).mkString(",\n")
  }

  val probes: Seq[Probe] = Seq(

    // Bpe.tokens under the fixed table: per-document real-token count
    // and the full token stream — certifies the encode kernel
    // (pre-tokenization, rank-order passes, space marking) end to end
    Probe("x50_bpe_encode",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("__toks",
            Bpe.tokens(TextOps.normalizeText(col("text")), FixedMerges,
              spaceMark = true))
          .select(col("doc_id"),
            size(col("__toks")).as("n_tokens"),
            array_join(col("__toks"), "|").as("tokens_str"))
          .orderBy("doc_id")
      },
      Some(s"""WITH fin AS (SELECT doc_id, $fixedEncodeSql AS f FROM documents)
              |SELECT doc_id,
              |  ${nTokensSql("f")} AS n_tokens,
              |  ${tokensStrSql("f")} AS tokens_str
              |FROM fin ORDER BY doc_id""".stripMargin)),

    // Bpe.train: the distributed-count + driver-loop trainer vs a full
    // in-SQL re-derivation of every merge round --------------------------
    Probe("x51_bpe_train",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(TextOps.normalizeText(col("text")).as("text"))
        Bpe.mergesDF(s, Bpe.train(docs, numMerges = 24))
          .orderBy("merge_rank")
      },
      Some(trainSql(24))),

    // Bpe.tokenIds: encode straight to vocabulary ids — the id-order
    // contract (byte-sorted base alphabet, then merge products by
    // rank) re-derived independently in SQL and joined token-by-token
    Probe("x56_bpe_token_ids",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.normalizeText(col("text")).as("text"))
        val voc = Bpe.vocab(Bpe.baseChars(docs), FixedMerges)
        docs
          .withColumn("__ids", Bpe.tokenIds(col("text"), FixedMerges, voc))
          .select(col("doc_id"),
            size(col("__ids")).as("n_tokens"),
            concat_ws(",", transform(col("__ids"), _.cast("string")))
              .as("ids_str"))
          .orderBy("doc_id")
      },
      Some {
        val mergeRows = FixedMerges.zipWithIndex
          .map { case ((l, r), i) => s"('${l + r}', $i)" }.mkString(", ")
        s"""WITH nrm AS (SELECT doc_id, $nrmSql AS t FROM documents),
           |wt AS (SELECT DISTINCT unnest(regexp_extract_all(t,
           |         '\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]')) AS w FROM nrm),
           |bc AS (SELECT DISTINCT unnest(regexp_extract_all(w, '.')) AS tok FROM wt),
           |vb AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY tok) - 1 AS id FROM bc),
           |nb AS (SELECT COUNT(*) AS n FROM vb),
           |vm AS (SELECT t.tok, nb.n + t.r AS id
           |       FROM (VALUES $mergeRows) AS t(tok, r), nb),
           |voc AS (SELECT tok, id FROM vb UNION ALL SELECT tok, id FROM vm),
           |fin AS (SELECT doc_id, $fixedEncodeSql AS f FROM documents),
           |tl AS (SELECT doc_id,
           |         regexp_extract_all(f, '$E([^$F]*)$F', 1) AS l FROM fin),
           |tok AS (SELECT doc_id, g.i AS ord, l[g.i] AS tok
           |        FROM tl, (SELECT unnest(generate_series(1, 100000)) AS i) g
           |        WHERE g.i <= len(l)),
           |ids AS (SELECT t.doc_id,
           |          string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY t.ord) AS ids_str,
           |          COUNT(*) AS n_tokens
           |        FROM tok t JOIN voc v USING (tok) GROUP BY t.doc_id)
           |SELECT d.doc_id, CAST(COALESCE(i.n_tokens, 0) AS INT) AS n_tokens,
           |  COALESCE(i.ids_str, '') AS ids_str
           |FROM documents d LEFT JOIN ids i USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      }),

    // Bpe.tokens → Bpe.detokenize round trip: tokenization is
    // LOSSLESS — space-marked tokens concatenate back to the
    // normalized text exactly. The oracle is the independent x15
    // normalization mirror alone: any encode path that drops, reorders
    // or re-spaces a character diverges from it ---------------------
    Probe("x59_bpe_roundtrip",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            Bpe.detokenize(Bpe.tokens(
              TextOps.normalizeText(col("text")), FixedMerges,
              spaceMark = true)).as("text"))
          .select(col("doc_id"), col("text"),
            length(col("text")).cast("int").as("n_chars_nrm"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, $nrmSql AS text,
              |  CAST(length($nrmSql) AS INT) AS n_chars_nrm
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Bpe.train → Bpe.tokens composition: documents re-counted under
    // the table trained on themselves — certifies that the trained
    // merges actually DRIVE the encode kernel (x50 certifies encode
    // under a fixed table, x51 the trained table; this closes the loop)
    Probe("x55_bpe_trained_counts",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.normalizeText(col("text")).as("text"))
        val merges = Bpe.train(docs, numMerges = 24)
        docs.select(col("doc_id"),
            Bpe.tokenCount(col("text"), merges).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(trainedCountSql(24))),

    // Bpe.chunkByTokens: sliding-window chunking budgeted in real
    // tokens, chunk text reassembled from space-marked tokens ------------
    Probe("x52_chunk_by_tokens",
      (s, d) => {
        Bpe.chunkByTokens(
            Tables.documents(s, d)
              .select(col("doc_id"), TextOps.normalizeText(col("text")).as("text")),
            FixedMerges, size = 32, overlap = 8)
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""WITH fin AS (SELECT doc_id, $fixedEncodeSql AS f FROM documents),
              |tl AS (SELECT doc_id, ${tokenListSql("f")} AS l FROM fin),
              |n AS (SELECT doc_id, l, len(l) AS n,
              |        CAST(CEIL(GREATEST(len(l) - 32, 0) / 24.0) AS INT) + 1
              |          AS n_chunks
              |      FROM tl),
              |c AS (SELECT doc_id, l,
              |        unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
              |      FROM n)
              |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
              |  CAST(chunk_idx * 24 AS INT) AS start_token,
              |  CAST(len(l[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS INT)
              |    AS n_tokens,
              |  ltrim(array_to_string(l[chunk_idx * 24 + 1 : chunk_idx * 24 + 32],
              |    '')) AS chunk_text
              |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Sampling.packSequences budgeted by Bpe.tokenCount: GPT-style
    // packing where the budget is REAL tokens (x31 is the
    // whitespace-proxy twin) --------------------------------------------
    Probe("x53_pack_by_tokens",
      (s, d) => {
        Sampling.packSequences(
            Tables.documents(s, d)
              .select(col("doc_id"), col("lang"),
                Bpe.tokenCount(TextOps.normalizeText(col("text")), FixedMerges)
                  .as("n_tokens")),
            budget = 512, tokenCol = "n_tokens", shardCol = "lang")
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("start_offset"), col("pack_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH fin AS (SELECT doc_id, lang, $fixedEncodeSql AS f FROM documents),
              |t AS (SELECT doc_id, lang, ${nTokensSql("f")} AS n_tokens FROM fin),
              |o AS (
              |  SELECT doc_id, lang, n_tokens,
              |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              |      AS start_offset
              |  FROM t)
              |SELECT doc_id, lang, n_tokens, start_offset,
              |  CAST(FLOOR(start_offset / 512) AS BIGINT) AS pack_id
              |FROM o ORDER BY doc_id""".stripMargin)),

    // TOKEN-SIDE FLAGSHIP: the x38 analogue for the tokenizer DAG —
    // normalize → exact dedup (md5 keeper) → REAL-token counting
    // under the fixed table → global token-budget fill (longest
    // first) → per-language sequence packing, certified id-for-id
    // against ONE DuckDB mirror that chains the x15/x05/x50/x64/x53
    // machinery. Every stage was certified alone; this certifies the
    // composition, the shape a real assemble-a-training-set job runs
    Probe("x72_token_pipeline",
      (s, d) => {
        // the normalize kernel feeds both the keeper agg and the
        // join-back, and the (slim) token-count relation is
        // re-referenced by the budget fill AND the packing join —
        // lazily composed, the BPE tokenCount kernel re-scans the
        // corpus per reference. The normalized corpus is corpus-sized
        // (at rest); the per-doc counts are three numeric columns.
        val docs = Stage.atRest(Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            TextOps.normalizeText(col("text")).as("text")),
          "x72_normalized")
        val keep = docs.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val deduped = docs.join(keep.select("doc_id"), Seq("doc_id"))
        val counted = Stage.truncate(deduped.select(col("doc_id"), col("lang"),
          Bpe.tokenCount(col("text"), FixedMerges).cast("long").as("n_toks")))
        val sel = Sampling.tokenBudgetSelect(
          counted.withColumn("score", col("n_toks").cast("double")),
          budget = 30000L, scoreCol = "score", tokenCol = "n_toks")
        Sampling.packSequences(
            sel.join(counted.select("doc_id", "lang"), Seq("doc_id"))
              .select(col("doc_id"), col("lang"),
                col("n_tokens").cast("int").as("n_tokens")),
            budget = 512, tokenCol = "n_tokens", shardCol = "lang")
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("start_offset"), col("pack_id"))
          .orderBy("doc_id")
      },
      Some {
        val enc = mergeChainSql(s"(${encInitSql("t")})", FixedMerges)
        s"""WITH nrm AS (SELECT doc_id, lang, $nrmSql AS t FROM documents),
           |k AS (SELECT MIN(doc_id) AS doc_id FROM nrm GROUP BY md5(t)),
           |ded AS (SELECT nrm.* FROM nrm JOIN k USING (doc_id)),
           |cnt AS (SELECT doc_id, lang, ${nTokensSql(enc)} AS n0 FROM ded),
           |sel AS (
           |  SELECT doc_id, lang, n0 FROM (
           |    SELECT doc_id, lang, n0,
           |      SUM(n0) OVER (ORDER BY CAST(n0 AS DOUBLE) DESC, doc_id
           |                    ROWS UNBOUNDED PRECEDING) AS cum
           |    FROM cnt)
           |  WHERE cum <= 30000),
           |o AS (
           |  SELECT doc_id, lang, n0 AS n_tokens,
           |    CAST(COALESCE(SUM(n0) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS start_offset
           |  FROM sel)
           |SELECT doc_id, lang, n_tokens, start_offset,
           |  CAST(FLOOR(start_offset / 512) AS BIGINT) AS pack_id
           |FROM o ORDER BY doc_id""".stripMargin
      }),

    // GPT-2 BYTE-LEVEL BPE: pre-tokens start as their UTF-8 bytes
    // mapped through bytes_to_unicode, merges cross multi-byte
    // character boundaries, and bpe_unmap inverts the stream. Text is
    // synthesized from a bounded multilingual alphabet so the oracle
    // can restate the byte mapping as literal replaces; the merge
    // chain and token extraction reuse the x50 mirror machinery over
    // byte units, and the round-trip column's oracle is the
    // normalized text itself (any byte dropped, reordered or
    // mis-unmapped diverges) ----------------------------------------
    Probe("x69_bpe_byte_level",
      (s, d) => {
        val id = col("doc_id")
        val base = when(id % 5 === 0, "the theatre")
          .when(id % 5 === 1, "café déjà vu")
          .when(id % 5 === 2, "世界 hello 世界")
          .when(id % 5 === 3, "naïve, test!")
          .otherwise("mixed é世 end")
        val text = TextOps.normalizeText(
          concat(base, lit(" "), (id % 100).cast("string")))
        val toks = Bpe.tokens(text, FixedByteMerges,
          spaceMark = false, byteLevel = true)
        val marked = Bpe.tokens(text, FixedByteMerges,
          spaceMark = true, byteLevel = true)
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(toks).as("n_tokens"),
            array_join(toks, "|").as("tokens_str"),
            Bpe.detokenizeBytes(marked).as("text_rt"))
          .orderBy("doc_id")
      },
      Some {
        val mapChain = Seq("é", "à", "ï", "世", "界")
          .foldLeft("x") { (acc, c) => s"replace($acc, '$c', '${bm(c)}')" }
        val synth = "CASE doc_id % 5 WHEN 0 THEN 'the theatre' " +
          "WHEN 1 THEN 'café déjà vu' WHEN 2 THEN '世界 hello 世界' " +
          "WHEN 3 THEN 'naïve, test!' ELSE 'mixed é世 end' END " +
          "|| ' ' || CAST(doc_id % 100 AS VARCHAR)"
        val enc = mergeChainSql(
          s"""(array_to_string(list_transform(string_split(t, ' '),
             |    seg -> array_to_string(list_transform(
             |      regexp_extract_all(seg, '\\p{L}+|\\p{N}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]'),
             |      x -> regexp_replace($mapChain, '(.)', '$E\\1$F', 'g')), '$G')), ' '))""".stripMargin,
          FixedByteMerges)
        s"""WITH nrm AS (SELECT doc_id,
           |  lower(trim(regexp_replace(regexp_replace($synth,
           |    '[\\x00-\\x1F\\x7F]', ' ', 'g'), '\\s+', ' ', 'g'))) AS t
           |  FROM documents),
           |fin AS (SELECT doc_id, t, $enc AS f FROM nrm),
           |tl AS (SELECT doc_id, t,
           |         regexp_extract_all(f, '$E([^$F]*)$F', 1) AS l FROM fin)
           |SELECT doc_id, CAST(len(l) AS INT) AS n_tokens,
           |  array_to_string(l, '|') AS tokens_str,
           |  t AS text_rt
           |FROM tl ORDER BY doc_id""".stripMargin
      }),
  )
}

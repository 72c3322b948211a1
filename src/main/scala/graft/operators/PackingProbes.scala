package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Certification probes for training-sequence materialization
  * (operators/Packing.scala): one-shot concat-and-cut packing (x146),
  * overlap chunking (x147), and the at-rest packed-stream ledger with
  * its attribution readout (x148/x149). Every oracle re-derives the
  * full layout from RAW text in SQL — shard keys, shuffled order,
  * per-shard running offsets, the cut points, and every span's token
  * coordinates — so a hash match certifies the exact sequence layout,
  * not just row counts.
  */
object PackingProbes {

  private val N_SHARDS = 8
  private val SEQ_LEN  = 128

  /** DuckDB mirror of Packing.md560. */
  private def md560Sql(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"

  /** Shared x148/x149 ledger: built once per corpus under the
    * IndexCache protocol with the two-batch schedule (even doc_ids =
    * batch 0 build, odd = batch 1 marked append) plus a deliberate
    * REPLAY of the append that must no-op — packing is positional, so
    * a landed replay would duplicate spans AND double the cursors. */
  private def ensureLedger(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    val tag = IndexCache.corpusTag("x149", d, docs, Seq("doc_id", "text"))
    val dir = IndexCache.built(s"x149_ledger_$tag") { dir =>
      Packing.writeLedger(docs.where(col("doc_id") % 2 === 0),
        "text", "doc_id", dir, N_SHARDS, SEQ_LEN, Seq("source"))
      Packing.appendToLedger(docs.where(col("doc_id") % 2 === 1),
        "text", "doc_id", dir, doneMarker = Some("b1"))
      // the at-least-once scheduler's redelivery: must be a no-op
      Packing.appendToLedger(docs.where(col("doc_id") % 2 === 1),
        "text", "doc_id", dir, doneMarker = Some("b1"))
    }
    dir
  }

  /** Oracle CTE prefix deriving per-doc packing keys; `bExpr` is the
    * batch-ordinal expression (0 for the one-shot layout). */
  private def keyedSql(bExpr: String): String =
    s"""d AS (
       |  SELECT doc_id, source, $bExpr AS b,
       |    len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
       |    ${md560Sql("'sh_' || doc_id")} % $N_SHARDS AS sh,
       |    ${md560Sql("'ok_' || doc_id")} AS okey
       |  FROM documents),
       |o AS (
       |  SELECT *, CAST(SUM(ntok) OVER (PARTITION BY sh
       |    ORDER BY b, okey, doc_id
       |    ROWS UNBOUNDED PRECEDING) - ntok AS BIGINT) AS off
       |  FROM d),
       |sp AS (
       |  SELECT sh, unnest(generate_series(off // $SEQ_LEN,
       |      (off + ntok - 1) // $SEQ_LEN)) AS seq,
       |    source, doc_id, off, ntok
       |  FROM o)""".stripMargin

  private val spanSelectSql: String =
    s"""SELECT sh, seq, source, doc_id,
       |  greatest(0, seq * $SEQ_LEN - off) AS t0,
       |  least(ntok, (seq + 1) * $SEQ_LEN - off) AS t1,
       |  greatest(0, off - seq * $SEQ_LEN) AS seq_off
       |FROM sp ORDER BY sh, seq, doc_id""".stripMargin

  val probes: Seq[Probe] = Seq(

    // Packing.packSpans: GPT-style concat-and-cut. Docs are assigned
    // to 8 md5-keyed shards, concatenated per shard in md5-shuffled
    // order, and cut every 128 tokens; the probe emits the full
    // provenance relation — one row per (doc x overlapped sequence)
    // with exact doc-local [t0, t1) and sequence-local offset. The
    // oracle replays shard keys, the shuffle order, the running
    // offsets and the cut arithmetic from raw text ------------------
    Probe("x146_pack_sequences",
      (s, d) => Packing.packSpans(Tables.documents(s, d), "text",
          "doc_id", N_SHARDS, SEQ_LEN, Seq("source"))
        .orderBy("sh", "seq", "doc_id"),
      Some(s"""WITH ${keyedSql("0")}
              |$spanSelectSql""".stripMargin)),

    // Packing.chunkTokens: overlapping token windows (w=20, s=12) per
    // doc — the retrieval-side twin. ckey certifies the CONTENT of
    // every chunk (md5 of the space-joined token slice), so a
    // boundary error anywhere diverges the hash. Map-only plan ------
    Probe("x147_chunk_overlap",
      (s, d) => Packing.chunkTokens(Tables.documents(s, d), "text",
          "doc_id", w = 20, s = 12)
        .orderBy("doc_id", "chunk"),
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    regexp_split_to_array(trim(text), '\\s+') AS toks
              |  FROM documents),
              |n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
              |c AS (
              |  SELECT doc_id, toks, n,
              |    unnest(generate_series(0, (greatest(n - 20, 0) + 11) // 12))
              |      AS chunk
              |  FROM n)
              |SELECT doc_id, chunk, chunk * 12 AS t0,
              |  least(20, n - chunk * 12) AS n_tok,
              |  md5(array_to_string(
              |    toks[chunk * 12 + 1 : chunk * 12 + 20], ' ')) AS ckey
              |FROM c ORDER BY doc_id, chunk""".stripMargin)),

    // Token-share attribution served off the PERSISTED ledger alone:
    // per source, training tokens contributed, span and distinct-
    // sequence counts, and the token share (one IEEE division of two
    // exact longs — never rounded). No raw-text read at decision
    // time; the ledger is ~1 row/doc of ids+coordinates ------------
    Probe("x148_token_attribution",
      (s, d) => {
        val sp = Packing.readLedgerSpans(s, ensureLedger(s, d))
        val per = sp.groupBy("source").agg(
          sum(col("t1") - col("t0")).as("n_tokens"),
          count(lit(1)).as("n_spans"),
          countDistinct(col("sh").cast("long") * 1000000000L +
            col("seq")).as("n_seqs"))
        val tot = per.agg(sum("n_tokens").as("tot"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"), col("n_spans"),
            col("n_seqs"), (col("n_tokens") / col("tot")).as("token_share"))
          .orderBy("source")
      },
      Some(s"""WITH ${keyedSql("doc_id % 2")},
              |spans AS (
              |  SELECT sh, seq, source,
              |    least(ntok, (seq + 1) * $SEQ_LEN - off)
              |      - greatest(0, seq * $SEQ_LEN - off) AS n
              |  FROM sp),
              |per AS (
              |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
              |    COUNT(*) AS n_spans,
              |    COUNT(DISTINCT sh * 1000000000 + seq) AS n_seqs
              |  FROM spans GROUP BY 1),
              |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per)
              |SELECT source, n_tokens, n_spans, n_seqs,
              |  n_tokens / tot AS token_share
              |FROM per, t ORDER BY source""".stripMargin)),

    // The at-rest packed-stream ledger: build on the even half
    // (batch 0), marker-gated O(batch) append of the odd half
    // continuing each shard's stream from the PERSISTED cursors
    // (batch 1), a replayed append that must no-op, then the full
    // persisted span relation. The oracle re-derives the two-batch
    // schedule from raw text — arrival order (b) outranking the
    // shuffled order — so a hash match certifies append ≡ rebuild
    // under the same schedule, including sequences that STRADDLE the
    // batch boundary (completed by batch 1 under the same seq id) ---
    Probe("x149_packed_ledger",
      (s, d) => Packing.readLedgerSpans(s, ensureLedger(s, d))
        .select("sh", "seq", "source", "doc_id", "t0", "t1", "seq_off")
        .orderBy("sh", "seq", "doc_id"),
      Some(s"""WITH ${keyedSql("doc_id % 2")}
              |$spanSelectSql""".stripMargin)),

    // Packing.materializeSequences: the writer step — ledger spans
    // joined back to the corpus, each sequence's tokens reassembled in
    // seq_off order. The md5 content key certifies the sequence TEXT
    // end-to-end (coordinates → slices → ordered concatenation), so a
    // wrong slice bound, a lost span, or a misordered piece anywhere
    // in the chain diverges the hash --------------------------------
    Probe("x150_materialize_sequences",
      (s, d) => Packing.materializeSequences(
          Packing.readLedgerSpans(s, ensureLedger(s, d)),
          Tables.documents(s, d), "text", "doc_id")
        .orderBy("sh", "seq"),
      Some(s"""WITH ${keyedSql("doc_id % 2")},
              |sp2 AS (
              |  SELECT sh, seq, doc_id,
              |    greatest(0, seq * $SEQ_LEN - off) AS t0,
              |    least(ntok, (seq + 1) * $SEQ_LEN - off) AS t1,
              |    greatest(0, off - seq * $SEQ_LEN) AS seq_off
              |  FROM sp),
              |j AS (
              |  SELECT s.sh, s.seq, s.seq_off, s.t1 - s.t0 AS n,
              |    array_to_string(list_slice(
              |      regexp_split_to_array(trim(d.text), '\\s+'),
              |      s.t0 + 1, s.t1), ' ') AS piece
              |  FROM sp2 s JOIN documents d USING (doc_id))
              |SELECT sh, seq, CAST(SUM(n) AS BIGINT) AS n_tok,
              |  md5(string_agg(piece, ' ' ORDER BY seq_off)) AS skey
              |FROM j GROUP BY sh, seq ORDER BY sh, seq""".stripMargin)),

    // Packing.packWhole: the NO-SPLIT greedy mode (padded SFT
    // batches). Greedy first-fit in arrival order is inherently
    // sequential state, so the ORACLE is a recursive CTE replaying
    // the scan row by row per shard — bin ids, offsets, the oversize
    // flag and the fill state all certified value-for-value ---------
    Probe("x151_pack_whole_docs",
      (s, d) => Packing.packWhole(Tables.documents(s, d), "text",
          "doc_id", N_SHARDS, capacity = 96, Seq("source"))
        .orderBy("sh", "bin", "bin_off", "doc_id"),
      Some(s"""WITH RECURSIVE ${greedySql("96")}
              |SELECT sh, bin, source, doc_id, ntok, bin_off, oversize
              |FROM g ORDER BY sh, bin, bin_off, doc_id""".stripMargin)),

    // Packing.binReport: the capacity-tuning governance readout over
    // the greedy layout — per shard exact bin/doc/oversize counts,
    // token mass, padding, and the utilization share (one IEEE
    // division of exact longs) --------------------------------------
    Probe("x152_bin_report",
      (s, d) => Packing.binReport(
          Packing.packWhole(Tables.documents(s, d), "text", "doc_id",
            N_SHARDS, capacity = 96, Seq("source")),
          capacity = 96)
        .orderBy("sh"),
      Some(s"""WITH RECURSIVE ${greedySql("96")},
              |bins AS (
              |  SELECT sh, bin, CAST(SUM(ntok) AS BIGINT) AS bin_tokens,
              |    MAX(CASE WHEN oversize THEN 1 ELSE 0 END) AS os
              |  FROM g GROUP BY 1, 2)
              |SELECT sh, COUNT(*) AS n_bins,
              |  CAST(SUM(os) AS BIGINT) AS n_oversize,
              |  CAST(SUM(bin_tokens) AS BIGINT) AS n_tokens,
              |  CAST(SUM(CASE WHEN os = 0 THEN 96 - bin_tokens
              |    ELSE 0 END) AS BIGINT) AS padding,
              |  CAST(SUM(bin_tokens) AS BIGINT)
              |    / (COUNT(*) * 96) AS utilization
              |FROM bins GROUP BY sh ORDER BY sh""".stripMargin)),

    // Packing.epochPlan: the epoch-3 loading schedule served off the
    // persisted CURSORS alone — sequence ids are dense per shard, so
    // the sequence universe, the md5 epoch permutation and the
    // resume-friendly positions all derive from a bounded artifact
    // read (the plan never touches spans or corpus; gated in
    // PackingSpec). The oracle re-derives per-shard token totals from
    // raw text (schedule-independent), the ceil'd sequence counts,
    // and the same keyed permutation ---------------------------------
    Probe("x154_epoch_plan",
      (s, d) => Packing.epochPlan(s, ensureLedger(s, d), epoch = 3L)
        .orderBy("sh", "epoch_pos"),
      Some(s"""WITH d AS (
              |  SELECT ${md560Sql("'sh_' || doc_id")} % $N_SHARDS AS sh,
              |    len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
              |  FROM documents),
              |c AS (
              |  SELECT sh, CAST(SUM(ntok) AS BIGINT) AS n_tokens
              |  FROM d GROUP BY 1),
              |u AS (
              |  SELECT sh, unnest(generate_series(0,
              |    (n_tokens + ${SEQ_LEN - 1}) // $SEQ_LEN - 1)) AS seq
              |  FROM c),
              |r AS (
              |  SELECT sh, seq,
              |    ${md560Sql("'ep3_' || sh || '_' || seq")} AS rk
              |  FROM u)
              |SELECT sh,
              |  CAST(row_number() OVER (PARTITION BY sh
              |    ORDER BY rk, seq) - 1 AS BIGINT) AS epoch_pos,
              |  seq
              |FROM r ORDER BY sh, epoch_pos""".stripMargin)),

    // SFT ASSEMBLY FLAGSHIP — one job composing THREE certified
    // families across their artifact boundaries: (1) the keep-top-half
    // curation decision read off the PERSISTED length histogram
    // (x130's artifact, x140's machinery — no stat pass at decision
    // time), (2) whole-doc greedy packing of the kept set (x151),
    // (3) per-bin CONTENT reconstruction through the materializer
    // (x150 machinery over whole-doc spans). One DuckDB mirror
    // re-derives the threshold chain, the kept set, the recursive
    // greedy replay AND every bin's md5 content key; the probe is a
    // pure function of corpus + persisted artifact, so a second
    // Verify run must hash-match (the x144 replay-stability stance) --
    Probe("x153_sft_assembly_flagship",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = IndexCache.lengthHistogram(s, d)
        val withLen = docs.select(col("doc_id"), col("text"),
          col("source"), length(col("text")).cast("long").as("len"))
        val kept = HistogramSketch.curateByQuantile(withLen, dir, q = 0.5)
        val packed = Packing.packWhole(kept, "text", "doc_id",
          N_SHARDS, capacity = 96, Seq("source"))
        val spans = packed.select(col("sh"), col("bin").as("seq"),
          col("doc_id"), lit(0L).as("t0"), col("ntok").as("t1"),
          col("bin_off").as("seq_off"))
        val content = Packing.materializeSequences(spans, kept,
          "text", "doc_id").withColumnRenamed("seq", "bin")
        val stats = packed.groupBy("sh", "bin").agg(
          count(lit(1)).as("n_docs"),
          max(col("oversize").cast("int")).as("os"))
        stats.join(content, Seq("sh", "bin"))
          .select(col("sh"), col("bin"), col("n_docs"), col("n_tok"),
            when(col("os") === 0, lit(96L) - col("n_tok"))
              .otherwise(lit(0L)).as("padding"),
            col("skey"))
          .orderBy("sh", "bin")
      },
      Some(s"""WITH RECURSIVE v AS (
              |  SELECT doc_id, length(text) AS len,
              |    LEAST(GREATEST(CAST(FLOOR(
              |      CAST(length(text) AS DOUBLE) / 16.0) AS BIGINT), 0), 255)
              |      AS bin
              |  FROM documents WHERE text IS NOT NULL),
              |hb AS (SELECT bin, COUNT(*) AS n FROM v GROUP BY 1),
              |hc AS (SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum FROM hb),
              |ht AS (SELECT MAX(cum) AS n_total FROM hc),
              |hsel AS (
              |  SELECT MIN(bin) AS bin
              |  FROM ht JOIN hc ON cum >= CEIL(0.5 * n_total)),
              |thr AS (SELECT CAST(bin AS DOUBLE) * 16.0 AS thr FROM hsel),
              |kept AS (
              |  SELECT dd.doc_id, dd.source, dd.text
              |  FROM documents dd CROSS JOIN thr
              |  WHERE CAST(length(dd.text) AS DOUBLE) >= thr),
              |${greedySql("96", "kept")},
              |binc AS (
              |  SELECT g.sh, g.bin, COUNT(*) AS n_docs,
              |    CAST(SUM(g.ntok) AS BIGINT) AS n_tok,
              |    MAX(CASE WHEN g.oversize THEN 1 ELSE 0 END) AS os,
              |    md5(string_agg(array_to_string(
              |      regexp_split_to_array(trim(k.text), '\\s+'), ' '),
              |      ' ' ORDER BY g.bin_off)) AS skey
              |  FROM g JOIN kept k USING (doc_id) GROUP BY 1, 2)
              |SELECT sh, bin, n_docs, n_tok,
              |  CAST(CASE WHEN os = 0 THEN 96 - n_tok ELSE 0 END
              |    AS BIGINT) AS padding, skey
              |FROM binc ORDER BY sh, bin""".stripMargin)),
  )

  /** Recursive-CTE oracle for the greedy no-split scan: CTEs `d`
    * (keys), `r` (per-shard arrival rank) and `g` (the row-by-row
    * greedy replay carrying bin/fill state). `cap` is a SQL literal;
    * `rel` the doc relation (doc_id, source, text) packed over. */
  private def greedySql(cap: String, rel: String = "documents"): String =
    s"""d AS (
       |  SELECT doc_id, source,
       |    len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
       |    ${md560Sql("'sh_' || doc_id")} % $N_SHARDS AS sh,
       |    ${md560Sql("'ok_' || doc_id")} AS okey
       |  FROM $rel),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY sh
       |    ORDER BY okey, doc_id) AS rn
       |  FROM d),
       |g AS (
       |  SELECT sh, rn, doc_id, source, ntok,
       |    0::BIGINT AS bin, 0::BIGINT AS bin_off,
       |    ntok > $cap AS oversize,
       |    CAST(CASE WHEN ntok > $cap THEN $cap ELSE ntok END
       |      AS BIGINT) AS fill
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.sh, r.rn, r.doc_id, r.source, r.ntok,
       |    g.bin + CASE WHEN r.ntok > $cap OR g.fill + r.ntok > $cap
       |      THEN 1 ELSE 0 END,
       |    CAST(CASE WHEN r.ntok > $cap OR g.fill + r.ntok > $cap
       |      THEN 0 ELSE g.fill END AS BIGINT),
       |    r.ntok > $cap,
       |    CAST(CASE WHEN r.ntok > $cap THEN $cap
       |         WHEN g.fill + r.ntok > $cap THEN r.ntok
       |         ELSE g.fill + r.ntok END AS BIGINT)
       |  FROM g JOIN r ON r.sh = g.sh AND r.rn = g.rn + 1)""".stripMargin
}

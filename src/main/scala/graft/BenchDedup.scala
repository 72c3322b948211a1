package graft

import org.apache.spark.sql.functions._

import graft.Bench.timed
import graft.operators.Dedup
import graft.util.Stage

/** Dedup-at-scale benchmark: 1M synthetic documents (deterministic
  * word salad from md5-derived vocabulary, ~2% planted near-dups)
  * through exact dedup and the full MinHash → LSH → candidate-pair
  * pipeline. Prints one JSON line with stage timings.
  */
object BenchDedup {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = Engine.local(Engine.envCores)

    // deterministic corpus: 40 words per doc from a 10k vocabulary;
    // every 50th doc is a near-copy of its predecessor (one word off)
    val base = spark.range(nDocs)
      .withColumn("seed", when(col("id") % 50 === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), lit(39)),
          i => concat(lit("w"),
            (conv(substring(md5(concat(col("seed").cast("string"), lit("_"),
              i.cast("string"))), 1, 6), 16, 10).cast("long") % 10000).cast("string")))))
      .withColumn("text",
        when(col("id") % 50 === 1, concat(col("text"), lit(" extraword"))).otherwise(col("text")))
      .select(col("id").as("doc_id"), col("text"))

    val docs = base.cache()
    val n = docs.count()

    val (nExact, tExact) = timed {
      Dedup.exactDedup(docs).where(col("n_copies") > 1).count()
    }
    val (nPairs, tLsh) = timed {
      val sig = Dedup.minhashSignatures(
        Dedup.shingles(docs, n = 3, dedupe = false), numPerm = 16)
      Dedup.lshCandidatePairs(Dedup.lshBuckets(sig, bands = 4, rowsPer = 4)).count()
    }
    val (nPairs2, tOnePass) = timed {
      val sig = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 16)
      Dedup.lshCandidatePairs(Dedup.lshBuckets(sig, bands = 4, rowsPer = 4)).count()
    }
    require(nPairs2 == nPairs, s"one-pass pair count $nPairs2 != relational $nPairs")

    // DECISION path at volume: candidate pairs → connected components
    // (DataFrame label propagation) → one keeper per group. This is
    // the iterative join loop that could die silently at 100×, so its
    // rounds AND wall time are first-class bench outputs.
    val ((nDropped, ccRounds), tCc) = timed {
      val pairs = {
        val sig = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 16)
        Dedup.lshCandidatePairs(Dedup.lshBuckets(sig, bands = 4, rowsPer = 4))
      }
      val (groups, rounds) = Dedup.nearDupGroupsDFWithRounds(
        pairs, docs.select("doc_id"))
      (groups.where(!col("keep")).count(), rounds)
    }
    // INGEST path at volume: a small daily batch tested against the
    // 1M-doc corpus through its persisted signature index — the
    // O(batch) claim measured. Index build happens once (amortized
    // across every future ingest); the batch query must not scale
    // with corpus size.
    val batch = spark.range(n, n + 10000)
      .withColumn("seed",
        when(col("id") % 100 === 1, (col("id") - n) * 97 % n) // ~1% copies of corpus docs
          .otherwise(col("id")))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), lit(39)),
          i => concat(lit("w"),
            (conv(substring(md5(concat(col("seed").cast("string"), lit("_"),
              i.cast("string"))), 1, 6), 16, 10).cast("long") % 10000).cast("string")))))
      .select(col("id").as("doc_id"), col("text"))
    val (corpusSigs, tIndex) = timed {
      Stage.truncate(Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 16))
    }
    val corpusSets = Stage.truncate(Dedup.shingleHashSets(docs, n = 3))
    val (nIngest, tIngest) = timed {
      Dedup.incrementalNearDups(batch, corpusSigs, corpusSets,
        n = 3, bands = 4, rowsPer = 4, threshold = 0.8).count()
    }
    // LINE-level dedup at volume: 5 lines per doc, a fixed boilerplate
    // line planted in 30% of docs (the C4 cookie-banner scenario) plus
    // the per-doc unique lines — first-occurrence is an AGGREGATION
    // whose map-side combine collapses the 300k-copy hot line to one
    // candidate per partition before the shuffle, so the hot key never
    // reaches a single reducer.
    val lined = docs.withColumn("text5", concat_ws("\n",
        when(col("doc_id") % 10 < 3,
          lit("accept cookies to continue reading this site"))
          .otherwise(concat(lit("head"), col("doc_id"))),
        substring(col("text"), 1, 60),
        substring(col("text"), 61, 60),
        substring(col("text"), 121, 60),
        concat(lit("tail"), col("doc_id"))))
      .select(col("doc_id"), col("text5").as("text"))
    val (nLineDropped, tLine) = timed {
      graft.operators.TextOps.lineDedup(lined)
        .agg(sum("n_dropped")).collect()(0).getLong(0)
    }
    // SPAN-level (ExactSubstr) dedup over the same planted corpus: the
    // 300k-copy boilerplate line duplicates every one of its k-grams —
    // the hot gram collapses map-side in the first-occurrence agg, and
    // the interval merge runs per-doc (high-cardinality, unskewed).
    val (nSpanRemoved, tSpan) = timed {
      graft.operators.TextOps.exactSpanDedup(lined, k = 6)
        .agg(sum("n_removed")).collect()(0).getLong(0)
    }
    require(nSpanRemoved > 0, s"span dedup degenerate: $nSpanRemoved")
    // LM quality scoring at volume: train the add-k bigram statistics
    // on the full 1M-doc corpus (~43M tokens) and score every document
    // — one window for pairing, two keyed joins against the counts
    // tables, nothing quadratic.
    val (lmWorst, tLm) = timed {
      val (c, b, v) = graft.operators.TextOps.bigramCounts(docs)
      graft.operators.TextOps.lmScore(docs, c, b, v)
        .agg(min("lm_score")).collect()(0).getDouble(0)
    }
    require(!lmWorst.isNaN && lmWorst < 0.0, s"lm score degenerate: $lmWorst")
    // Trained quality classifier at volume: NB over hashed word+bigram
    // features, trained on the full corpus (label: even doc_id) and
    // every document scored — one integer-count aggregation bounded at
    // numBuckets rows, then a broadcast-model scoring pass.
    val (qcWorst, tQc) = timed {
      val (c, t) = graft.operators.QualityClassifier.train(
        docs.withColumn("label", (col("doc_id") % 2 === 0).cast("int")),
        numBuckets = 1 << 16)
      graft.operators.QualityClassifier.score(docs, c, t, numBuckets = 1 << 16)
        .agg(min("q_score")).collect()(0).getDouble(0)
    }
    require(!qcWorst.isNaN, s"quality classifier degenerate: $qcWorst")
    // the deployment path: same pipeline with codegen'd xxhash64
    // instead of the engine-portable (DuckDB-mirrorable) md5
    val (qcFastWorst, tQcFast) = timed {
      val (c, t) = graft.operators.QualityClassifier.train(
        docs.withColumn("label", (col("doc_id") % 2 === 0).cast("int")),
        numBuckets = 1 << 16, fastHash = true)
      graft.operators.QualityClassifier.score(docs, c, t,
          numBuckets = 1 << 16, fastHash = true)
        .agg(min("q_score")).collect()(0).getDouble(0)
    }
    require(!qcFastWorst.isNaN, s"fast-hash classifier degenerate: $qcFastWorst")
    // HOT-BUCKET skew guard at volume: 100k boilerplate template pages
    // (identical body, per-page serial) that survive EXACT dedup but
    // collapse into a handful of shared LSH buckets. Uncapped, a
    // bucket of B members emits B(B−1)/2 candidate pairs — ~5e8 from
    // one bucket here, the quadratic hot key. With maxBucket the
    // over-cap buckets drop before the self-join and the pipeline
    // completes with the organic near-dup pairs intact.
    val template = (0 until 40).map(i => s"tmpl$i").mkString(" ")
    val templated = docs.unionByName(
      spark.range(n, n + 100000)
        .select(col("id").as("doc_id"),
          concat(lit(template), lit(" page"), col("id").cast("string")).as("text")))
    val (nCappedPairs, tHot) = timed {
      val sig = Dedup.minhashSignaturesOnePass(templated, n = 3, numPerm = 16)
      Dedup.lshCandidatePairs(Dedup.lshBuckets(sig, bands = 4, rowsPer = 4),
        maxBucket = 1000).count()
    }
    // FREQUENCY sketch at volume: the synthetic vocabulary is uniform
    // (no true heavy hitters), so three stopword-like tokens are
    // appended to every doc — each then holds ~1M of 43M tokens, far
    // over the N/257 guarantee line. Misra-Gries must surface all
    // three from one bounded-state pass; the exact groupBy twin (which
    // shuffles every distinct token) is timed alongside for the cost
    // comparison.
    val salted = docs.withColumn("text",
      concat(col("text"), lit(" zthe zof zand")))
    val (mgHit, tMg) = timed {
      val m = salted.agg(
          graft.operators.HeavyHitters.heavyHitters(256)(col("text")))
        .collect()(0).getMap[String, Long](0)
      Seq("zthe", "zof", "zand").forall(m.contains)
    }
    val (exactTop, tExactTop) = timed {
      salted.select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(3)
        .collect().map(_.getString(0)).toSet
    }
    require(exactTop == Set("zthe", "zof", "zand"))
    // LONG-CHAIN worst case for the label-propagation decision path:
    // organic LSH components are shallow (stars/cliques — the 2-round
    // convergence above); the adversarial shape is a long PATH where a
    // hop-only loop moves the minimum one edge per round. The hop+jump
    // (pointer-halving) rounds must be LOGARITHMIC in the diameter:
    // 1000 planted chains of diameter 20 across the 1M-vertex corpus
    // must converge in ~log2(20)+2 ≈ 7 rounds, and the recorded
    // chain_rounds is the evidence the O(log diameter) claim rests on.
    val chainLen = 21
    val nChains = 1000
    val chainEdges = spark.range(nChains.toLong * (chainLen - 1)).select(
        expr(s"id div ${chainLen - 1}").as("c"),
        (col("id") % (chainLen - 1)).as("i"))
      .select((col("c") * chainLen + col("i")).as("id_a"),
        (col("c") * chainLen + col("i") + 1).as("id_b"))
    val ((chainRounds, nChainKeep), tChain) = timed {
      val (groups, rounds) = Dedup.nearDupGroupsDFWithRounds(
        chainEdges, docs.select("doc_id"), maxRounds = 64)
      (rounds, groups.where(col("keep")).count())
    }
    require(nChainKeep == n - nChains.toLong * (chainLen - 1),
      s"chain components wrong: $nChainKeep keepers")
    require(chainRounds <= 10,
      s"diameter-${chainLen - 1} chain took $chainRounds rounds — " +
        "expected O(log diameter) ~6 from the hop+jump loop")
    // REAL-TOKENIZER at volume: train a 200-merge BPE table on the
    // full 1M-doc corpus (one distributed word-type aggregation, then
    // the driver merge loop over the ~10k-type dictionary), then
    // re-count every document in real tokens — the encode is one
    // map-only codegen scan, so the corpus pass is scan-bound. The
    // synthetic "w1234" vocabulary would pre-tokenize into single
    // letters and digits (no pairs to learn), so digits map to letters
    // first — giving 5-char letter-run word types, the shape BPE
    // actually trains on.
    val bpeDocs = docs.select(col("doc_id"),
      translate(col("text"), "0123456789", "abcdefghij").as("text"))
    val (bpeMerges, tBpeTrain) = timed {
      graft.operators.Bpe.train(bpeDocs, numMerges = 200)
    }
    val (bpeTokens, tBpeEncode) = timed {
      bpeDocs.select(graft.operators.Bpe.tokenCount(col("text"), bpeMerges).as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
    }
    require(bpeMerges.length == 200 && bpeTokens > 0,
      s"BPE volume run degenerate: ${bpeMerges.length} merges, $bpeTokens tokens")
    // encode-to-ids over the same corpus: the id resolution rides the
    // same single codegen pass, so it should cost ~the encode scan
    val bpeVocab = graft.operators.Bpe.vocab(
      graft.operators.Bpe.baseChars(bpeDocs), bpeMerges)
    val (idStats, tBpeIds) = timed {
      bpeDocs.select(graft.operators.Bpe.tokenIds(
          col("text"), bpeMerges, bpeVocab).as("ids"))
        .agg(sum(size(col("ids"))), min(array_min(col("ids"))))
        .collect()(0)
    }
    require(idStats.getLong(0) == bpeTokens && idStats.getInt(1) >= 0,
      s"BPE id encode diverged: ${idStats.getLong(0)} ids vs $bpeTokens tokens, " +
        s"min id ${idStats.getInt(1)}")
    // BYTE-LEVEL twin: the same merge table compiles byte-level (the
    // corpus is ASCII, whose chars are their own byte mapping), so the
    // token stream is IDENTICAL and the wall-time delta is exactly the
    // bytes_to_unicode mapping overhead.
    val (byteTokens, tBpeByte) = timed {
      bpeDocs.select(graft.operators.Bpe.tokenCount(col("text"), bpeMerges,
          byteLevel = true).as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
    }
    require(byteTokens == bpeTokens,
      s"byte-level diverged on ASCII: $byteTokens vs $bpeTokens")
    println(s"""{"metric":"dedup_scale","docs":$n,""" +
      s""""exact_dup_groups":$nExact,"exact_sec":${f"$tExact%.2f"},""" +
      s""""lsh_candidate_pairs":$nPairs,"minhash_lsh_sec":${f"$tLsh%.2f"},""" +
      s""""minhash_lsh_onepass_sec":${f"$tOnePass%.2f"},""" +
      s""""cc_dropped_docs":$nDropped,"cc_rounds":$ccRounds,"cc_sec":${f"$tCc%.2f"},""" +
      s""""ingest_batch":10000,"ingest_index_sec":${f"$tIndex%.2f"},""" +
      s""""ingest_hits":$nIngest,"ingest_sec":${f"$tIngest%.2f"},""" +
      s""""line_dedup_dropped":$nLineDropped,"line_dedup_sec":${f"$tLine%.2f"},""" +
      s""""span_dedup_removed_tokens":$nSpanRemoved,"span_dedup_sec":${f"$tSpan%.2f"},""" +
      s""""hot_bucket_docs":100000,"hot_bucket_capped_pairs":$nCappedPairs,""" +
      s""""hot_bucket_sec":${f"$tHot%.2f"},""" +
      s""""lm_score_sec":${f"$tLm%.2f"},"qc_train_score_sec":${f"$tQc%.2f"},""" +
      s""""qc_fast_hash_sec":${f"$tQcFast%.2f"},""" +
      s""""mg_heavy_hitters_sec":${f"$tMg%.2f"},"exact_topk_sec":${f"$tExactTop%.2f"},""" +
      s""""mg_found_planted_heavies":$mgHit,""" +
      s""""chain_diameter":${chainLen - 1},"chain_rounds":$chainRounds,""" +
      s""""chain_sec":${f"$tChain%.2f"},""" +
      s""""chain_sec_per_round":${f"${tChain / chainRounds}%.2f"},""" +
      s""""bpe_train_sec":${f"$tBpeTrain%.2f"},""" +
      s""""bpe_corpus_tokens":$bpeTokens,"bpe_encode_sec":${f"$tBpeEncode%.2f"},""" +
      s""""bpe_ids_sec":${f"$tBpeIds%.2f"},"bpe_vocab_size":${bpeVocab.length},""" +
      s""""bpe_byte_encode_sec":${f"$tBpeByte%.2f"}}""")
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale design: every step is a hash-partitioned groupBy/join on the
  * dedup key (md5, band hash, shingle) — no cross joins except within
  * LSH candidate buckets, which is exactly the point of LSH: the
  * quadratic blowup is confined to same-bucket collisions.
  *
  * Hash functions are md5-prefix-derived so the same values can be
  * recomputed in any engine (for the oracle gate) and on any cluster
  * (no JVM hashCode dependence).
  *
  * Contamination family: every train/eval overlap entry point
  * ([[contamination]], [[contaminationFromShingles]],
  * [[contaminationFromShingleIndexes]], [[contaminationBloomPruned]],
  * [[contaminationFraction]], the two removals, the shingle index and
  * `ForecastStream.contaminationStream`) only picks its gram source —
  * inline text, the persisted index, or a bloom-filtered scan — and
  * shares one core: [[shingleRows]] builds the (id, h) rows,
  * [[dropHotKeys]] is the train-side document-frequency skew guard,
  * and [[overlapCounts]] is the equi-join on h with the pair count and
  * the `minOverlap` threshold.
  */
object Dedup {

  /** md5-prefix → non-negative int64 (60 bits). Engine-portable. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---- exact dedup -----------------------------------------------------

  /** Exact dedup: keep the smallest doc_id per identical text. Returns
    * (keep_id, dups) per duplicate group plus survivors. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Soft dedup: duplicate DOWN-WEIGHTING instead of dropping. Every
    * copy of an exactly-repeated document survives with sampling
    * weight 1/n_copies, so the expected training mass of repeated
    * content equals one copy while preserving corpus diversity — the
    * "soft" alternative (e.g. SoftDeDup, Xue et al. 2024) to
    * [[exactDedup]]'s hard keeper rule; the weight column feeds any
    * downstream weighted sampler ([[Sampling]] mixtures) or a
    * loss-weighting training loader.
    *
    * Output: every input row + (n_copies, weight = 1/n_copies).
    *
    * Scale shape: multiplicity is one groupBy on the content hash
    * (COUNT partial-aggregates map-side, so a billion-copy document
    * collapses per-partition before the shuffle); the join back keys
    * the corpus by the same hash — there the billion copies DO meet
    * one reducer's partition, which is exactly the shape AQE skew-join
    * splitting handles (sort-merge, probe side split, single-row build
    * replicated). weight = 1.0/k is one IEEE division — identical on
    * any engine, no rounding pin needed. */
  def duplicationWeights(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val withHash = docs.withColumn("_h", md5(col(textCol)))
    val counts = withHash.groupBy(col("_h"))
      .agg(count(lit(1)).as("n_copies"))
    withHash.join(counts, Seq("_h"))
      .drop("_h")
      .withColumn("weight", lit(1.0) / col("n_copies"))
  }

  // ---- shingling -------------------------------------------------------

  /** Word n-gram shingles, one row per (id, shingle). Set
    * `dedupe = false` when feeding MinHash only — the min is invariant
    * under duplicates and skipping the distinct saves its shuffle
    * (measured 1.5x on the signature path). Jaccard set sizes REQUIRE
    * the default distinct. */
  def shingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
               textCol: String = "text", dedupe: Boolean = true): DataFrame = {
    // the word array binds once per row (TextOps.bindOnce) — captured
    // inline, the shingle lambda re-split the text per shingle,
    // turning every consumer of this builder O(tokens²)
    val shingleArr = TextOps.bindOnce(split(trim(col(textCol)), "\\s+")) {
      words =>
        when(size(words) < n, array(concat_ws(" ", words)))
          .otherwise(transform(
            sequence(lit(0), size(words) - n),
            i => concat_ws(" ", slice(words, i + 1, lit(n)))))
    }
    val exploded = docs
      .withColumn("shingle", explode(shingleArr))
      .select(col(idCol), col("shingle"))
    if (dedupe) exploded.distinct() else exploded
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** MinHash works in the 31-bit Mersenne-prime field: hashes and
    * permutation constants stay < 2^31, so aᵢ·h + bᵢ < 2^62 — no long
    * overflow anywhere, and every value is recomputable in SQL. */
  val MinhashPrime = 2147483647L   // 2^31 - 1 (Mersenne)

  /** Shingle hash in [0, 2^28): first 7 hex chars of md5. */
  def md5Long31(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Deterministic permutation constants (aᵢ odd, bᵢ) < p, derived from
    * md5 of the permutation index — reproducible in any engine. */
  def permutationConstants(numPerm: Int): Seq[(Long, Long)] =
    graft.expressions.MinHashOps.permutationConstants(numPerm).toSeq

  /** MinHash signatures: one row per id with `minhash` array of
    * numPerm values: min over shingles of (aᵢ·h + bᵢ) mod p, where
    * h = md5Long31(shingle). One shuffle (the groupBy on id). */
  def minhashSignatures(shingleDf: DataFrame, numPerm: Int = 16,
                        idCol: String = "doc_id"): DataFrame = {
    val consts = permutationConstants(numPerm)
    val perms = consts.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MinhashPrime).as(s"mh_$i")
    }
    shingleDf
      .withColumn("h", md5Long31(col("shingle")))
      .groupBy(col(idCol))
      .agg(perms.head, perms.tail: _*)
      .select(col(idCol), array((0 until numPerm).map(i => col(s"mh_$i")): _*).as("minhash"))
  }

  /** One-pass signatures: same values as `minhashSignatures ∘ shingles`
    * but computed per document by a single codegen'd expression
    * (graft.expressions.MinHashSignature) — a map-only scan with NO
    * shingle explosion and NO shuffle. This is the scale path: at
    * 100 TB the only shuffle left in MinHash+LSH dedup is the band
    * bucket join. Requires `GraftExtensions.register`. */
  def minhashSignaturesOnePass(docs: DataFrame, n: Int = 3, numPerm: Int = 16,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      call_function("minhash_signature", col(textCol), lit(n), lit(numPerm))
        .as("minhash"))

  /** One-pass shingle SETS as sorted distinct 60-bit md5 hashes —
    * the per-document Jaccard operand, kept as one array row instead
    * of an exploded row per shingle. */
  def shingleHashSets(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      call_function("shingle_hashes", col(textCol), lit(n)).as("sh_hashes"))

  /** Exact n-gram Jaccard for candidate pairs from the one-pass
    * shingle-hash sets: |A∩B| by sorted-array merge, |A∪B| by sizes.
    * Two equi-joins of the (small) pair list against the per-doc set
    * table — no exploded-shingle shuffle. 60-bit hashes make a
    * string-set vs hash-set count divergence ~1e-15 per document. */
  def ngramJaccardFromSets(shingleSets: DataFrame, pairs: DataFrame,
                           idCol: String = "doc_id"): DataFrame =
    pairJaccard(pairs, "id_a", shingleSets, "id_b", shingleSets, idCol)

  /** (idA, idB, jaccard) for every pair in `pairs`: each side's
    * (idCol, sh_hashes) set joined on its pair column, |A∩B| by
    * sorted-array merge, |A∪B| = |A| + |B| − |A∩B|. */
  private def pairJaccard(pairs: DataFrame, idA: String, setsA: DataFrame,
                          idB: String, setsB: DataFrame,
                          idCol: String): DataFrame = {
    val a = setsA.select(col(idCol).as(idA), col("sh_hashes").as("ha"))
    val b = setsB.select(col(idCol).as(idB), col("sh_hashes").as("hb"))
    pairs.join(a, Seq(idA)).join(b, Seq(idB))
      .withColumn("n_inter", call_function("sorted_intersect_count", col("ha"), col("hb")))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("n_inter")))
      .select(idA, idB, "jaccard")
  }

  /** LSH banding: split the signature into `bands` bands of `rowsPer`
    * values, hash each band, and emit (band_idx, band_hash, id) bucket
    * rows. Near-duplicate candidates share a bucket in ≥1 band. */
  def lshBuckets(signatures: DataFrame, bands: Int, rowsPer: Int,
                 idCol: String = "doc_id"): DataFrame = {
    require(bands * rowsPer <= 64, "bands*rowsPer must fit the signature")
    val bandRows = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        md5(concat_ws("_", slice(col("minhash"), b * rowsPer + 1, rowsPer))).as("band_hash"))
    }
    signatures
      .withColumn("band", explode(array(bandRows: _*)))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  /** Candidate near-duplicate pairs (a < b) from shared LSH buckets.
    *
    * `maxBucket` is the [[dropHotKeys]] skew guard on the bucket key: a
    * bucket with B members emits B(B−1)/2 pairs, so one band bucket
    * full of boilerplate-identical template pages — the kind that
    * survives *exact* dedup — turns the self-join quadratic on a
    * single key. Recall cost is bounded: a genuine near-dup pair
    * collides independently in each of the `bands` bands, so it
    * survives unless EVERY shared bucket is over the cap — and a
    * bucket that big is template boilerplate, which the downstream
    * exact-Jaccard verify would mostly reject anyway. */
  def lshCandidatePairs(buckets: DataFrame, idCol: String = "doc_id",
                        maxBucket: Long = Long.MaxValue): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    val pruned = dropHotKeys(buckets, Seq("band_idx", "band_hash"), maxBucket)
    val l = pruned.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val r = pruned.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
    l.join(r, Seq("band_idx", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Ingest-time incremental dedup: test a NEW batch against an
    * EXISTING corpus through the corpus's persisted signature index —
    * never re-reading or re-shingling corpus text. The index is two
    * ordinary tables built once and appended per ingest: the minhash
    * signature table (id, minhash) and the shingle-hash set table
    * (id, sh_hashes), both map-only to produce (one-pass kernels).
    * New docs compute their signatures in the scan, band-join against
    * the corpus buckets (the only shuffle proportional to data, and it
    * carries b hashes per doc, not text), and candidates verify exact
    * Jaccard against the set table. At 100 TB the index is a fraction
    * of corpus bytes and the daily batch is small — this is the shape
    * that keeps continuous ingest O(batch), not O(corpus).
    *
    * Returns (new_id, corpus_id, jaccard) for pairs ≥ threshold. */
  def incrementalNearDups(newDocs: DataFrame, corpusSignatures: DataFrame,
                          corpusShingleSets: DataFrame, n: Int = 3,
                          bands: Int = 4, rowsPer: Int = 2,
                          threshold: Double = 0.5,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val newSigs = minhashSignaturesOnePass(newDocs, n, bands * rowsPer, idCol, textCol)
    val newBuckets = lshBuckets(newSigs, bands, rowsPer, idCol)
      .select(col("band_idx"), col("band_hash"), col(idCol).as("new_id"))
    val corpusBuckets = lshBuckets(corpusSignatures, bands, rowsPer, idCol)
      .select(col("band_idx"), col("band_hash"), col(idCol).as("corpus_id"))
    val cands = newBuckets.join(corpusBuckets, Seq("band_idx", "band_hash"))
      .select("new_id", "corpus_id").distinct()
    pairJaccard(cands, "new_id", shingleHashSets(newDocs, n, idCol, textCol),
        "corpus_id", corpusShingleSets, idCol)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .where(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs,
    * computed relationally: |A∩B| via a self-join on shingle,
    * |A∪B| = |A| + |B| − |A∩B|. */
  def ngramJaccard(shingleDf: DataFrame, pairs: DataFrame,
                   idCol: String = "doc_id"): DataFrame = {
    val sizes = shingleDf.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(shingleDf.select(col(idCol).as("id_a"), col("shingle")), Seq("id_a"))
      .join(shingleDf.select(col(idCol).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .select("id_a", "id_b", "jaccard")
  }

  // ---- contamination core ----------------------------------------------

  /** (outId, h) rows: one row per distinct 60-bit shingle hash of each
    * document — the gram relation every contamination path joins. */
  private[graft] def shingleRows(df: DataFrame, n: Int, idCol: String,
                                 textCol: String, outId: String): DataFrame =
    shingleHashSets(df, n, idCol, textCol)
      .select(col(idCol).as(outId), explode(col("sh_hashes")).as("h"))

  /** SKEW GUARD: drop every row whose `keys` value occurs in more than
    * `cap` rows (its document frequency, when rows are distinct per
    * (id, key)). A stopword-like shingle ("of the and"…) in df train
    * docs and e eval docs contributes df×e join rows, so one hot key
    * makes a single partition quadratic over a web-scale corpus;
    * ubiquitous keys carry no signal, and pruning bounds every key's
    * fan-out at cap×e. The hot set has at most |rows| / cap members, so
    * it broadcasts and the prune is a broadcast LEFT ANTI join — no
    * extra shuffle of the big side. `cap = Long.MaxValue` keeps every
    * row without the extra pass. */
  private[graft] def dropHotKeys(rows: DataFrame, keys: Seq[String],
                          cap: Long): DataFrame =
    if (cap == Long.MaxValue) rows
    else {
      val hot = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
        .where(col("df") > cap).select(keys.map(col): _*)
      rows.join(broadcast(hot), keys, "left_anti")
    }

  /** (eval_id, train_id, n_shared) for every pair sharing at least
    * `minOverlap` hashes: the equi-join of (train_id, h) and
    * (eval_id, h) rows on h, keyed by shingle hash, so at 100 TB an
    * ordinary shuffle join (or map-side, when the caller hints the
    * eval side broadcast). Rows must be distinct per (id, h), so the
    * count is the number of shared shingles. Any further per-doc
    * column on either side (e.g. `eval_total`) is carried through the
    * grouping, after its side's id. */
  private[graft] def overlapCounts(trainH: DataFrame, evalH: DataFrame,
                                   minOverlap: Long): DataFrame =
    trainH.join(evalH, Seq("h"))
      .groupBy((evalH.columns ++ trainH.columns).filterNot(_ == "h")
        .distinct.map(col): _*)
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minOverlap)

  /** Train/eval CONTAMINATION check — the benchmark-leakage scan every
    * training-data pipeline needs: all (eval doc, train doc) pairs
    * sharing at least `minOverlap` word n-gram shingles, both sides
    * shingled from text. `maxShingleDf` prunes shingles whose TRAIN-side
    * document frequency exceeds it ([[dropHotKeys]]); the default keeps
    * every shingle (exact semantics). Requires GraftExtensions. */
  def contamination(train: DataFrame, eval: DataFrame, n: Int = 3,
                    minOverlap: Long = 3, idCol: String = "doc_id",
                    textCol: String = "text",
                    maxShingleDf: Long = Long.MaxValue): DataFrame =
    contaminationFromShingles(
      dropHotKeys(shingleRows(train, n, idCol, textCol, "train_id"),
        Seq("h"), maxShingleDf),
      eval, n, minOverlap, idCol, textCol)

  /** FRACTIONAL-overlap contamination — the GPT-3/PaLM-style
    * decontamination rule stated as "drop a train document if ≥
    * `minFrac` of an eval example's n-grams appear in it", rather
    * than the absolute-count rule of [[contamination]] (an absolute
    * cutoff over-flags long eval docs and under-flags short ones; the
    * fraction normalizes by the eval doc's own n-gram budget).
    * Output: (eval_id, train_id, n_shared, eval_total, overlap_frac)
    * for every pair at or above the threshold, overlap_frac =
    * n_shared / |eval doc's distinct shingles| (filtered on the exact
    * quotient, rounded to 6 decimals for display).
    *
    * Scale shape: identical to [[contamination]] (its pair scan at
    * minOverlap=1). The eval text is shingled ONCE: each (eval_id, h)
    * row carries its doc's shingle-set ARRAY SIZE as `eval_total`,
    * which rides the grouping of [[overlapCounts]] — no second eval
    * scan and no extra aggregation. Requires GraftExtensions. */
  def contaminationFraction(train: DataFrame, eval: DataFrame, n: Int = 3,
                            minFrac: Double = 0.5, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0,
      s"minFrac must lie in (0,1]: $minFrac")
    val evalH = shingleHashSets(eval, n, idCol, textCol)
      .select(col(idCol).as("eval_id"),
        size(col("sh_hashes")).cast("long").as("eval_total"),
        explode(col("sh_hashes")).as("h"))
    val frac = col("n_shared").cast("double") / col("eval_total")
    overlapCounts(shingleRows(train, n, idCol, textCol, "train_id"),
        broadcast(evalH), 1L)
      .where(frac >= minFrac)
      .select(col("eval_id"), col("train_id"), col("n_shared"),
        col("eval_total"), round(frac, 6).as("overlap_frac"))
  }

  /** N-gram NOVELTY score — the data-selection signal "how much of
    * this document's n-gram set is new relative to a reference
    * corpus" (the inverse view of contamination: selection-by-novelty
    * picks documents that ADD coverage instead of dropping leaked
    * ones). Output per doc: (id, n_matched, n_shingles, novelty =
    * 1 − matched/total distinct shingles), novelty null when the doc
    * has no shingles. Exact semantics.
    *
    * Scale shape: the reference distincts once (the at-rest artifact
    * — persist it bucketed by h and reuse, exactly like the x42
    * shingle index); scoring explodes the doc shingles ONCE carrying
    * the set size alongside, one keyed join on the 60-bit hash, one
    * per-doc agg. For a zero-shuffle scoring pass see
    * [[noveltyScoreBloom]]. Requires GraftExtensions. */
  def noveltyScore(docs: DataFrame, ref: DataFrame, n: Int = 3,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val refH = shingleHashSets(ref, n, idCol, textCol)
      .select(explode(col("sh_hashes")).as("h")).distinct()
      .withColumn("m", lit(1L))
    val ex = shingleHashSets(docs, n, idCol, textCol)
      .select(col(idCol), size(col("sh_hashes")).cast("long").as("n_shingles"),
        explode(col("sh_hashes")).as("h"))
    val agg = ex.join(refH, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(first("n_shingles").as("n_shingles"),
        coalesce(sum("m"), lit(0L)).as("n_matched"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          lit(1.0) - col("n_matched").cast("double") / col("n_shingles"))
          .as("novelty"))
  }

  /** Build a Bloom filter over the reference corpus's shingle hashes
    * for [[noveltyScoreBloom]]. `expectedItems` skips the sizing
    * count pass when the caller knows the reference's shingle volume
    * (at 100 TB you do — it is the row count of the persisted shingle
    * index); left None, one extra counting pass sizes it exactly.
    * At fpp=0.01 the filter costs ~1.2 GB per 10^9 distinct shingles
    * — broadcastable for reference sets up to low billions. */
  def buildShingleBloom(ref: DataFrame, n: Int = 3, fpp: Double = 0.01,
                        expectedItems: Option[Long] = None,
                        idCol: String = "doc_id",
                        textCol: String = "text"): Array[Byte] = {
    val rh = shingleRows(ref, n, idCol, textCol, idCol)
    bloomBytes(rh, expectedItems.getOrElse(rh.count()), fpp)
  }

  /** Serialized Bloom filter over the `h` column of `rows`, sized for
    * `items` insertions. Duplicate insertions don't change a bloom, so
    * sizing by a non-distinct row count only buys a lower fpp and the
    * build is a plain map-side aggregation with no exchange. */
  private def bloomBytes(rows: DataFrame, items: Long, fpp: Double): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    rows.stat.bloomFilter("h", math.max(items, 1L), fpp).writeTo(bos)
    bos.toByteArray
  }

  /** Persist a reference bloom as an at-rest artifact — the filter is
    * the SHAREABLE curation asset (build once over the reference
    * corpus, every future ingest/stream scores against the bytes
    * without touching the reference again), so it belongs on the
    * artifact filesystem next to the shingle/IVF indexes. Hadoop FS
    * API: works for any scheme the session can reach. */
  def writeShingleBloom(spark: org.apache.spark.sql.SparkSession,
                        bloomBytes: Array[Byte], path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // write-then-rename: a crash mid-write must not leave a torn
    // artifact at the FINAL path that a later session trusts (the
    // same atomicity stance as the index completion markers)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(bloomBytes) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed")
  }

  /** Reload a persisted reference bloom ([[writeShingleBloom]]) —
    * byte-identical, so every decision downstream is identical to the
    * build-session's (BloomArtifactSpec pins it). Sized bulk read:
    * reference blooms run to GBs (~1.2 GB per 10^9 shingles at
    * fpp=0.01), where a byte-at-a-time DataInput loop would take
    * minutes against remote storage. */
  def readShingleBloom(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"bloom artifact too large: $len bytes")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** ZERO-SHUFFLE novelty scoring against a prebuilt reference Bloom
    * filter ([[buildShingleBloom]]): shingle, probe and count inside
    * one projection — no explode survives the plan, no join, no agg,
    * so it runs unchanged on a stream. One-sided error: Bloom false
    * positives OVERCOUNT matches, so the bloom novelty is a LOWER
    * bound on the exact novelty, short by at most ~fpp of the doc's
    * shingles (spec-pinned) — the safe direction for selection (a doc
    * kept for novelty really is novel at least that much... and a doc
    * dropped as redundant might have been marginally fresher). */
  def noveltyScoreBloom(docs: DataFrame, bloomBytes: Array[Byte], n: Int = 3,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        call_function("shingle_hashes", col(textCol), lit(n)).as("sh"))
      .select(col(idCol),
        size(col("sh")).cast("long").as("n_shingles"),
        size(filter(col("sh"), h =>
          call_function("bloom_might_contain", lit(bloomBytes), h)))
          .cast("long").as("n_matched"))
      .select(col(idCol), col("n_matched"), col("n_shingles"),
        when(col("n_shingles") > 0,
          lit(1.0) - col("n_matched").cast("double") / col("n_shingles"))
          .as("novelty"))

  /** Contamination against a PRECOMPUTED train shingle table
    * (train_id, h) — at 100 TB the train index is built once,
    * persisted (ideally bucketed by h), and reused across every
    * benchmark scan instead of re-shingling the corpus per scan. Same
    * semantics as `contamination`; the streaming twin
    * (ForecastStream.contaminationStream) takes the same input.
    *
    * The eval side is dimension-sized by contract (benchmark sets), but
    * Spark cannot SEE that through the kernel+explode (unknown size
    * estimate → sort-merge join, shuffling the ENTIRE train shingle
    * relation), so it is hinted broadcast: train shingles never
    * shuffle, and the only exchange left is the pair aggregation. For
    * an eval set too big to broadcast use [[contaminationBloomPruned]]
    * or [[contaminationFromShingleIndexes]]. */
  def contaminationFromShingles(trainShingles: DataFrame, eval: DataFrame,
                                n: Int = 3, minOverlap: Long = 3,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame =
    overlapCounts(trainShingles,
      broadcast(shingleRows(eval, n, idCol, textCol, "eval_id")), minOverlap)

  /** DECONTAMINATE: the removal step over the detection scan — drop
    * every train document sharing at least `minOverlap` shingles with
    * any eval/benchmark document, returning the cleaned corpus.
    * [[decontaminateFromShingles]] over train's own shingle rows. */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int = 3,
                    minOverlap: Long = 3, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    decontaminateFromShingles(shingleRows(train, n, idCol, textCol, "train_id"),
      train, eval, n, minOverlap, idCol, textCol)

  /** SPAN-level decontamination: excise every k-token span of a train
    * document that appears verbatim (case-insensitive per token) in
    * the eval/benchmark set, keeping the REST of the document — the
    * surgical alternative to [[decontaminate]]'s whole-document drop
    * (a long document quoting one benchmark question should lose the
    * quote, not the document; the doc-drop rule is for documents that
    * ARE benchmark copies). The mechanics are [[TextOps.exactSpanDedup]]
    * with the keeper table replaced by the eval gram set — and NO
    * keeper exemption: every matching occurrence is removed, because
    * eval text must survive nowhere.
    *
    * Output: (idCol, text_clean, n_removed) for every train document
    * (text re-normalizes to the single-spaced token form, like
    * exactSpanDedup).
    *
    * Scale shape: eval grams distinct to a benchmark-sized hash set
    * (one aggregation); corpus grams are map-only; the match is one
    * semi join sized by AQE (broadcast in the normal clean-corpus
    * case); interval merge is the per-document gaps-and-islands
    * window (high-cardinality, unskewed); rebuild one groupBy. */
  def decontaminateSpans(train: DataFrame, eval: DataFrame, k: Int = 8,
                         idCol: String = "doc_id", textCol: String = "text",
                         evalTextCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(train.sparkSession)
    // per-position salted 60-bit gram hashes via the one-pass codegen
    // kernel — bit- and position-identical to the relational
    // slice+join+md5-hex chain it replaces (SpanHashKernelSpec)
    def gramRows(df: DataFrame, id: Column, tc: String): DataFrame =
      df.select(id.as("_gid"), posexplode(
        call_function("span_gram_hashes", col(tc), lit(k), lit("sd_")))
        .as(Seq("s", "h")))
    val evalHashes = gramRows(eval, lit(0L), evalTextCol)
      .select("h").distinct()
    val matches = gramRows(train, col(idCol), textCol)
      .join(evalHashes, Seq("h"), "left_semi")
      .select(col("_gid").as(idCol), col("s"), (col("s") + k).as("e"))
    val ord = Window.partitionBy(idCol).orderBy("s")
    val iv = matches
      .withColumn("prev_max",
        max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1)
            .otherwise(0))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("grp"))
      .agg(min("s").as("s"), max("e").as("e"))
    val covered = iv.select(col(idCol),
      explode(sequence(col("s"), col("e") - 1)).as("pos"))
    val removed = iv.groupBy(col(idCol))
      .agg(sum(col("e") - col("s")).as("n_removed"))
    val toks = train.select(col(idCol),
      posexplode(filter(split(trim(col(textCol)), "\\s+"), w => w =!= ""))
        .as(Seq("pos", "w")))
    val kept = toks
      .join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        s => s.getField("w"))).as("text_clean"))
    train.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .join(removed, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Decontaminate THROUGH the persisted shingle index — the 100 TB
    * composition: the corpus was shingled once ([[writeShingleIndex]]);
    * the cleaning pass consumes that table instead of re-shingling
    * `train` per benchmark sweep. `trainShingles` must be the
    * (train_id, h) index over exactly the `train` relation (read via
    * [[readShingleIndex]] so the bucket metadata rides the scan);
    * `train` itself is only scanned to RETURN surviving rows — its
    * text is never re-shingled. Same result as [[decontaminate]]. */
  def decontaminateFromShingles(trainShingles: DataFrame, train: DataFrame,
                                eval: DataFrame, n: Int = 3,
                                minOverlap: Long = 3,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    val hits = contaminationFromShingles(trainShingles, eval, n, minOverlap,
        idCol, textCol)
      .select(col("train_id").as(idCol)).distinct()
    // no broadcast hint: the hit list is contamination-sized against a
    // clean corpus, but a pathological eval overlap makes it
    // corpus-sized — AQE sees the runtime size and picks broadcast
    // exactly when it actually fits (an unconditional hint would OOM
    // the driver on the pathological case)
    train.join(hits, Seq(idCol), "left_anti")
  }

  /** Build and persist the train-side shingle index ONCE: (train_id,
    * h) rows as an external parquet table BUCKETED on `h`. This is the
    * 100 TB shape the contamination scan promises: the corpus is
    * shingled exactly once, every later benchmark scan joins the
    * persisted table (never re-reading or re-shingling corpus text),
    * and the bucketing pre-clusters the join key so a bucket-aware
    * plan shuffles only the dimension-sized eval side. Re-running
    * drops and rewrites the table (the index is derived data); a
    * recurring ingest extends it with [[appendToShingleIndex]]
    * instead of rebuilding. */
  def writeShingleIndex(train: DataFrame, path: String, table: String,
                        n: Int = 3, buckets: Int = 32,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        outIdCol: String = "train_id"): Unit = {
    // the identifier reaches a string-built DROP TABLE — refuse
    // anything that is not a plain (optionally db-qualified) name
    require(table.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?"),
      s"invalid table identifier: $table")
    val spark = train.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    shingleRows(train, n, idCol, textCol, outIdCol)
      .write.format("parquet").option("path", path)
      .bucketBy(buckets, "h")
      .mode("overwrite").saveAsTable(table)
    // the shingle size is part of the index's GEOMETRY — persist it so
    // append derives it instead of trusting a caller (an n-mismatched
    // batch would silently join n-gram hashes against m-gram hashes)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$ShingleNProp' = '$n')")
  }

  /** Table property carrying the index's shingle size. */
  private[graft] val ShingleNProp = "graft.shingle.n"

  /** Catalog metadata of a shingle index written by
    * [[writeShingleIndex]], with its bucket count — refuses anything
    * else. */
  private def shingleIndexMeta(spark: SparkSession, table: String) = {
    require(table.matches("[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?"),
      s"invalid table identifier: $table")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table has no bucket spec — not an index written by writeShingleIndex"))
    require(spec.bucketColumnNames == Seq("h"),
      s"$table is bucketed on ${spec.bucketColumnNames.mkString(",")}, expected h")
    (meta, spec.numBuckets)
  }

  /** Write `rows` as files bucketed on `h` under `path`, outside the
    * live index: bucket metadata requires `saveAsTable`, so the files
    * land through a throwaway EXTERNAL table that is dropped again
    * (dropping an external table keeps its files). The bucket id is
    * the file name's numeric suffix, so it survives a renaming prefix
    * such as the marked-append `ap-<id>__`. */
  private def writeBucketedFiles(rows: DataFrame, table: String,
                                 path: String, buckets: Int): Unit = {
    val spark = rows.sparkSession
    val scratch = s"${table}__bucket_write"
    spark.sql(s"DROP TABLE IF EXISTS $scratch")
    rows.write.format("parquet").option("path", path)
      .bucketBy(buckets, "h")
      .mode("overwrite").saveAsTable(scratch)
    spark.sql(s"DROP TABLE $scratch")
  }

  /** Append a BATCH to the persisted shingle index — the incremental-
    * ingest contract of the at-rest artifact family (int8 index,
    * IVF-PQ, corpus artifact, novelty bloom) applied to the one
    * artifact a recurring decontamination sweep appends to most
    * often. O(batch): only the new documents are shingled (one
    * map-only kernel pass over `batch`), the rows land as ADDITIONAL
    * bucket files in the existing table, and the existing corpus is
    * never read. Because the shingle kernel and the md5 bucket hash
    * are pure per-row functions, append ≡ rebuild-with-union exactly
    * (DedupSkewSpec pins it), and the bucketed-join property
    * survives: Spark groups every file carrying the same bucket id
    * into one bucket partition, so [[contaminationFromShingleIndexes]]
    * stays exchange-free below the join after any append schedule.
    *
    * The bucket count, the id column name, AND the shingle size are
    * READ from the catalog's table metadata — a caller-supplied
    * bucket count could silently bucket the batch differently from
    * the corpus it joins (Spark would reject the write), and a
    * caller-supplied shingle size would silently append n-gram
    * hashes into an m-gram index, corrupting every later overlap
    * count; deriving all three removes the footguns entirely.
    *
    * Commit: the batch's bucket files are staged and moved into the
    * index location by [[Compaction.appendWithMarker]]. With
    * `doneMarker` (e.g. the micro-batch id) a replay after the marker
    * landed is a no-op, and a retry after a crash mid-commit first
    * sweeps the files that crash already moved, so each marked batch
    * lands exactly once and `n_shared` counts are never inflated. */
  def appendToShingleIndex(batch: DataFrame, table: String,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           doneMarker: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (meta, buckets) = shingleIndexMeta(spark, table)
    val n = meta.properties.getOrElse(ShingleNProp,
      throw new IllegalArgumentException(
        s"$table carries no '$ShingleNProp' property — not an index " +
          "written by writeShingleIndex (rebuild it to stamp the " +
          "shingle size)")).toInt
    val outIdCol = meta.schema.fieldNames.filterNot(_ == "h") match {
      case Array(one) => one
      case _ => throw new IllegalArgumentException(
        s"$table schema (${meta.schema.fieldNames.mkString(", ")}) is not " +
          "the (id, h) shingle-index shape")
    }
    Compaction.appendWithMarker(spark, meta.location.toString, doneMarker) {
      writeBucketedFiles(shingleRows(batch, n, idCol, textCol, outIdCol),
        table, _, buckets)
    }
    spark.catalog.refreshTable(table)
  }

  /** Compact the bucketed shingle index after an append schedule:
    * every [[appendToShingleIndex]] lands its batch as additional
    * per-bucket files, and Spark merges same-bucket files into one
    * bucket partition at read time — correct, but after thousands of
    * micro-batches each bucket is thousands of tiny files and the
    * sweep's scan cost is open()-bound. The rewrite repartitions on
    * the bucket hash itself (`repartition(numBuckets, h)` uses the
    * same Murmur3-pmod assignment as the bucketed write, so every
    * task holds exactly one bucket's rows → ONE file per bucket) and
    * is swapped in under the ORIGINAL table by [[Compaction.swap]] —
    * the table is never dropped, so its bucket spec, the
    * `graft.shingle.n` property, and catalog identity all survive
    * untouched; bucket-id filename suffixes survive the rename, so
    * the exchange-free bucketed join
    * ([[contaminationFromShingleIndexes]]) holds after compaction.
    * Append replay markers at the table location are carried across
    * the swap, and a crashed marked append's staging refuses the
    * compaction. Value-preserving: rows are read and rewritten as-is
    * (no re-shingling). */
  def compactShingleIndex(spark: SparkSession, table: String): Unit = {
    val (meta, buckets) = shingleIndexMeta(spark, table)
    val location = meta.location.toString
    // Read the index by PATH, not spark.table: the catalog relation
    // advertises the bucket spec, and the planner then elides the
    // repartition below (satisfied-by-bucketing) while ALSO auto-
    // disabling the bucketed scan it assumed — net effect, the
    // rewrite degenerates to a per-scan-task copy (tasks × buckets
    // files, the very problem being compacted). A path read makes no
    // distribution claim, so the repartition stands, and
    // repartition(numBuckets, h) clusters by
    // HashPartitioning(h, numBuckets).partitionIdExpression — the
    // IDENTICAL function the bucketed writer assigns bucket ids
    // with — so write task i holds exactly bucket i: one file per
    // bucket. Parallelism = numBuckets (size buckets at build time
    // accordingly).
    Compaction.swap(spark, location) {
      writeBucketedFiles(spark.read.parquet(location)
        .repartition(buckets, col("h")), table, _, buckets)
    }
    spark.catalog.refreshTable(table)
  }

  /** Contamination with BOTH sides read from persisted shingle
    * indexes bucketed on `h` (built by [[writeShingleIndex]], the eval
    * side with `outIdCol = "eval_id"`) — the steady-state shape of a
    * recurring decontamination sweep: corpus and benchmark sets are
    * both shingled once, and every scan is a bucket-co-located
    * equi-join with ZERO exchange below the join and no shingle kernel
    * in the query at all. The only shuffle left is the matched-pair
    * aggregation. Benchmark sets are static, so persisting their
    * (tiny) shingle relation costs nothing and removes the per-sweep
    * eval shingling too. Same semantics as [[contamination]]. */
  def contaminationFromShingleIndexes(trainShingles: DataFrame,
                                      evalShingles: DataFrame,
                                      minOverlap: Long = 3): DataFrame =
    overlapCounts(trainShingles, evalShingles, minOverlap)

  /** The persisted shingle index as a DataFrame (bucket metadata
    * intact — reads must go through the catalog, not the path, for
    * the bucketed join to apply). */
  def readShingleIndex(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Contamination with a BLOOM-FILTER prefilter on the corpus side —
    * the 100 TB shape of the scan when the eval/benchmark set is
    * dimension-sized but its exact shingle relation is too big to
    * broadcast-join cheaply: build a bloom over the eval shingle
    * hashes (one tiny distributed aggregation), prefilter the train
    * shingle rows MAP-SIDE with `bloom_might_contain` (codegen, no
    * shuffle), and only then equi-join. Only the ~fpp fraction of
    * corpus shingles that collide with the bloom ever reach the
    * shuffle. The result is EXACT — blooms have no false negatives,
    * and the equi-join discards the false positives — so this is
    * certified against the same oracle as the unpruned scan (x35).
    * Requires GraftExtensions. */
  def contaminationBloomPruned(train: DataFrame, eval: DataFrame,
                               n: Int = 3, minOverlap: Long = 3,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               fpp: Double = 0.01): DataFrame = {
    // localCheckpoint: the eval shingle relation feeds THREE actions
    // (the sizing count, the bloom build, the final join) — one
    // materialization instead of three runs of the shingle kernel,
    // and the count over the checkpointed partitions is near-free.
    // The eval side is dimension-sized by contract, so the
    // materialized rows are small.
    val eh = shingleRows(eval, n, idCol, textCol, "eval_id").localCheckpoint()
    val bytes = bloomBytes(eh, eh.count(), fpp)
    val th = shingleRows(train, n, idCol, textCol, "train_id")
      .where(call_function("bloom_might_contain", lit(bytes), col("h")))
    overlapCounts(th, eh, minOverlap)
  }

  /** DataFrame-native connected components — the scale path for
    * near-dup group resolution. Each round combines one min-label HOP
    * (every vertex takes the minimum label in its closed neighborhood)
    * with one pointer JUMP (label(u) ← label(label(u)), the path-halving
    * shortcut of pointer-doubling CC algorithms). The hop moves the
    * component minimum one edge per round; the jump then roughly
    * doubles how far every vertex already sees — so a diameter-d chain
    * converges in O(log d) rounds, not O(d). Templated near-dup chains
    * (page A≈B≈C≈…) are exactly where long diameters appear at 100 TB,
    * and the default `maxRounds = 50` now covers diameter ~2^49
    * instead of 49 hops. Labels converge to the component's minimum id
    * (the union-find contract): labels are monotone
    * non-increasing, always the id of a vertex in the same component
    * (hop propagates along edges, jump through a component-mate), and
    * the component minimum keeps its own label — so the hop fixpoint
    * is labels constant per component at the component min.
    *
    * Scale shape per round: one edge⋈label join + groupBy(min) for the
    * hop, one label⋈label self-join for the jump. The jump join's probe
    * side keys skew toward popular labels as components collapse — AQE
    * skew-join splitting handles that. The symmetrized edge list is
    * `localCheckpoint`ed ONCE up front so an expensive upstream
    * candidate-pair plan (LSH banding) is never recomputed per round,
    * and each round's label table is checkpointed to truncate lineage.
    * Convergence detection is folded into the hop's materialization via
    * an accumulator (changed-row count piggybacks the checkpoint job) —
    * no separate full-table scan per round. Accumulator over-count on
    * task retry only costs one extra (no-op) round, never a wrong stop.
    *
    * Returns (idCol, group_id, keep) for every id in `allIds`. */
  def nearDupGroupsDF(pairs: DataFrame, allIds: DataFrame,
                      idCol: String = "doc_id", maxRounds: Int = 50): DataFrame =
    nearDupGroupsDFWithRounds(pairs, allIds, idCol, maxRounds)._1

  /** As nearDupGroupsDF, additionally reporting how many hop+jump
    * rounds ran before the fixpoint — the number to watch at scale,
    * since each round is a join+groupBy over the edge list. Expect
    * O(log max-component-diameter). */
  def nearDupGroupsDFWithRounds(pairs: DataFrame, allIds: DataFrame,
                                idCol: String = "doc_id",
                                maxRounds: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = pairs.sparkSession
    val labelSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("label", LongType, nullable = false)))
    // materialize the symmetrized edges once — every round joins this
    val sym = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(pairs
        .select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .localCheckpoint()
    var labels = allIds.select(col(idCol).cast("long").as("id"))
      .withColumn("label", col("id")).localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val changed = spark.sparkContext.longAccumulator(s"cc_changed_r$round")
      val neighborMin = sym
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("dst_label").as("nbr_label"))
      // HOP, with the convergence check folded into the checkpoint
      // job: the narrow map that counts changed rows runs inside the
      // materialization — no second scan of the label table
      val hopRows = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .rdd.mapPartitions { it =>
          it.map { r =>
            val lbl = r.getLong(2)
            if (lbl != r.getLong(1)) changed.add(1L)
            Row(r.getLong(0), lbl)
          }
        }
      val hop = spark.createDataFrame(hopRows, labelSchema).localCheckpoint()
      round += 1
      if (changed.value == 0L) {
        converged = true // closed-neighborhood fixpoint == component min
        labels = hop
      } else {
        // JUMP on the checkpointed hop table: label(u) ← label(label(u)).
        // Labels are always ids of vertices in `allIds`, so the self-join
        // hits; coalesce guards edge endpoints outside the id universe.
        // label(w) ≤ w by monotonicity, so no least() needed.
        labels = hop
          .join(hop.select(col("id").as("jid"), col("label").as("jlabel")),
            col("label") === col("jid"), "left")
          .select(col("id"), coalesce(col("jlabel"), col("label")).as("label"))
          .localCheckpoint()
      }
    }
    require(converged, s"connected components did not converge in $maxRounds rounds" +
      " (log-round hop+jump: this bounds component diameter by ~2^" + (maxRounds - 1) + ")")
    (labels.select(col("id").as(idCol), col("label").as("group_id"),
      (col("id") === col("label")).as("keep")), round)
  }

  /** Near-dup RESOLUTION by quality (the NeMo-Curator / BigScience
    * fuzzy-dedup keeper rule): collapse candidate pairs into connected
    * components, then keep the HIGHEST-quality document of each
    * component — ties broken to the smallest id — instead of blindly
    * keeping the smallest id. "Quality" is any numeric column the
    * caller already computed (length, an x02 quality score, an x81
    * logistic head, an x43/x77 LM score): when near-dup clusters mix a
    * full capture with truncated/boilerplate variants, min-id keeps a
    * coin flip; argmax-quality keeps the copy worth training on.
    *
    * Scale shape: component labels come from the log-round hop+jump
    * [[nearDupGroupsDF]]; the keeper decision then costs ONE keyed
    * 1:1 join (labels ⋈ quality on the id) plus ONE partial-aggregable
    * groupBy — `max(struct(quality, -id))` combines map-side, so a
    * mega-component (the templated-page blob) collapses per partition
    * before its reducer, never concentrating the corpus on one key —
    * and ONE join back keyed on group_id (the keepers table has one
    * row per component, AQE-sized to broadcast in the normal case).
    * Nothing corpus-sized sorts or windows.
    *
    * Returns (idCol, group_id, keep, keeper_id) for every id in
    * `docs`; singletons keep themselves. */
  def nearDupKeepBest(pairs: DataFrame, docs: DataFrame, qualityCol: String,
                      idCol: String = "doc_id", maxRounds: Int = 50): DataFrame = {
    val groups = nearDupGroupsDF(pairs, docs.select(col(idCol)), idCol, maxRounds)
      .select(col(idCol), col("group_id"))
    // null quality loses to any real score (and a tie of nulls falls
    // to the id): pin it with -inf rather than leaning on either
    // engine's null-ordering inside struct comparison
    val labeled = groups.join(
      docs.select(col(idCol),
        coalesce(col(qualityCol).cast("double"),
          lit(Double.NegativeInfinity)).as("_q")), Seq(idCol))
    // argmax(quality, tie → min id) as a partial-aggregable struct max:
    // struct compares field-by-field, so (-id) turns the id tie into
    // "largest -id" = smallest id. No window, no per-group sort.
    val keepers = labeled
      .groupBy("group_id")
      .agg(max(struct(col("_q").as("q"),
        (-col(idCol).cast("long")).as("neg_id"))).as("best"))
      .select(col("group_id"), (-col("best.neg_id")).as("keeper_id"))
    labeled.join(keepers, Seq("group_id"))
      .select(col(idCol), col("group_id"),
        (col(idCol).cast("long") === col("keeper_id")).as("keep"),
        col("keeper_id"))
  }

  // ---- SimHash ---------------------------------------------------------

  /** 16-bit SimHash from word-level md5 hashes: bit i of the
    * fingerprint is the sign of Σ_words (±1 by bit i of h(word)). */
  def simhash(docs: DataFrame, bits: Int = 16, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val words = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .withColumn("h", md5Long(col("word")))
    val bitSums = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i) % 2 === 1, 1).otherwise(-1)).as(s"s_$i")
    }
    words.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(i => when(col(s"s_$i") > 0, 1L << i).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  // ---- embedding near-dup ----------------------------------------------

  /** Embedding-cosine near-duplicate pairs above a similarity
    * threshold — brute force within LSH sign-bucket candidates is the
    * scale path (see Similarity.hyperplaneSignature); this is the
    * exact small-N variant. */
  def cosineNearDups(embs: DataFrame, threshold: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = Similarity.dot _
    val l = embs.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val r = embs.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("sim",
        dot(col("va"), col("vb")) /
          (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb")))))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pruning over an embedding corpus. Cluster with a
    * coarse quantizer, compare pairs ONLY within a cell (the
    * published method's core trick — all-pairs cosine is quadratic in
    * the corpus, within-cell is quadratic only in the cell), and drop
    * every vector that has a lower-id neighbor at cosine ≥ tau; the
    * minimum id is the deterministic stand-in for the paper's
    * keep-one-representative rule.
    *
    * Quantizer is [[IvfIndex]]'s deterministic md5-init + one-Lloyd-step
    * path, so the whole decision — cells, centroids, assignment,
    * within-cell pairs, keep flags — is one relational plan an
    * independent engine can replay (probe x29). Shape at 100 TB: one
    * shuffle on `cell`, quadratic work confined to cells (cell count
    * scales with the corpus), then a distinct + left anti-style join
    * keyed on the id. Cosine is rounded to 6 decimals before the
    * threshold compare so float-order noise cannot flip a keep flag.
    *
    * Returns (id, cell, keep) for every vector. */
  def semanticDedup(embs: DataFrame, nlist: Int, tau: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cents = IvfIndex.meanCentroids(
      IvfIndex.hashCells(embs, nlist, idCol), "cell0", vecCol)
    semanticDedupInCells(
      IvfIndex.assign(embs, cents, idCol, vecCol), tau, idCol, vecCol)
  }

  /** The within-cell SemDeDup core over an EXISTING (id, vec, cell)
    * assignment: same-cell pairs above the round-6 cosine threshold
    * mark the larger id a duplicate. Factored out so any clustering
    * (one-step quantizer, full Lloyd, at-rest cells) feeds the same
    * certified decision. */
  def semanticDedupInCells(assigned: DataFrame, tau: Double,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val dups = assigned
      .select(col("cell"), col(idCol).as("id_a"), col(vecCol).as("va"))
      .join(assigned.select(col("cell"), col(idCol).as("id_b"), col(vecCol).as("vb")),
        Seq("cell"))
      .where(col("id_a") < col("id_b") &&
        round(Similarity.cosine(col("va"), col("vb")), 6) >= tau)
      .select(col("id_b").as("dup_id")).distinct()
    assigned.select(col(idCol), col("cell"))
      .join(dups, col(idCol) === col("dup_id"), "left")
      .select(col(idCol), col("cell"), col("dup_id").isNull.as("keep"))
  }

  /** SemDeDup on FULL k-means cells (Abbas et al. 2023 cluster with
    * real k-means, not a one-step quantizer): [[IvfIndex.lloydIterate]]
    * rounds, then the same certified within-cell decision. Better
    * cells concentrate true near-duplicates (and split unrelated mass
    * apart), so the quadratic within-cell work prunes more dups per
    * comparison at the same nlist. */
  def semanticDedupKMeans(embs: DataFrame, nlist: Int, rounds: Int,
                          tau: Double, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    semanticDedupInCells(
      IvfIndex.lloydIterate(embs, nlist, rounds, idCol, vecCol)._2,
      tau, idCol, vecCol)
}

package graft

import org.apache.spark.sql.functions._

import graft.multimodal.MultimodalOps
import graft.operators.{Dedup, Sessionize, Similarity, TextOps}
import graft.sources.Tables

class ExtensionSpec extends SparkTestBase {
  import spark.implicits._

  test("minhash similarity approximates jaccard on near-identical docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "completely different content about spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, n = 3)
    val sig = Dedup.minhashSignatures(sh, numPerm = 32)
    val sigs = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Long, b: Long) =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / 32
    assert(est(1L, 2L) > 0.5)    // near-dups collide on most permutations
    assert(est(1L, 3L) < 0.2)    // unrelated docs collide on few
  }

  test("LSH candidate pairs surface the near-dup, jaccard confirms") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"),
      (3L, "z y x w v u t s r q p o n m l k"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, n = 3)
    val sig = Dedup.minhashSignatures(sh, numPerm = 16)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBuckets(sig, bands = 8, rowsPer = 2))
    val jac = Dedup.ngramJaccard(sh, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac.contains((1L, 2L)))
    assert(jac((1L, 2L)) > 0.7)
  }

  test("simhash: near-dup docs have small hamming distance") {
    val docs = Seq(
      (1L, "spark catalyst optimizer rules rewrite logical plans efficiently every day"),
      (2L, "spark catalyst optimizer rules rewrite logical plans efficiently every night"),
      (3L, "bananas oranges apples grapes melons pears plums cherries kiwis mangoes"))
      .toDF("doc_id", "text")
    val sh = Dedup.simhash(docs, bits = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("lshTopK recall vs exact cosineTopK on the embeddings table") {
    val embs = Tables.embeddings(spark, sfDir)
    val exact = Similarity.cosineTopK(embs, queryId = 0, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(embs, queryId = 0, k = 10, planes = 16, bands = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // 8 bands of 2 bits: near vectors share ≥1 band with high prob
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low; exact=$exact approx=$approx")
  }

  test("word_counts kernel tf equals the explode+groupBy formulation") {
    GraftExtensions.register(spark)
    val docs = Tables.documents(spark, sfDir)
    val kernel = graft.operators.TfIdf.termFrequencies(docs)
    val classic = docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    assert(kernel.count() === classic.count())
    assert(kernel.except(classic).count() === 0)
    assert(classic.except(kernel).count() === 0)
  }

  test("fixed-dim codegen signature equals the HOF hyperplane signature") {
    GraftExtensions.register(spark)
    val embs = Tables.embeddings(spark, sfDir).limit(200)
    val both = embs.select(
        Similarity.hyperplaneSignature(col("embedding"), planes = 16).as("hof"),
        Similarity.hyperplaneSignatureFixed(col("embedding"), planes = 16,
          dim = 64).as("fixed"))
    assert(both.where(col("hof") =!= col("fixed")).count() === 0)
  }

  test("planeWeightValue mirrors the SQL md5 derivation") {
    GraftExtensions.register(spark)
    val sqlW = spark.range(1).select(
      Similarity.planeWeight(lit(3), lit(17)).as("w")).head().getDouble(0)
    assert(Similarity.planeWeightValue(3, 17) === sqlW)
  }

  test("fingerprint is stable, normalized, and order-sensitive") {
    val df = Seq(
      (1L, "Hello World"), (2L, "hello world!"), (3L, "world hello"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))   // case + punctuation normalized away
    assert(fp(1L) != fp(3L))   // rolling hash is order-sensitive
  }

  test("language guess picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog is in that house for sure"),
      (2L, "el perro y la casa que en un lugar por los campos"),
      (3L, "der hund und die katze ist von den leuten mit ein buch"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.languageGuess(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de"))
  }

  test("multimodal: feature extraction plumbing over binary media") {
    val media = Seq(
      MultimodalOps.MediaRow(1L, Array.tabulate(256)(_.toByte), "img", 16, 16),
      MultimodalOps.MediaRow(2L, Array.fill(100)(0.toByte), "img", 10, 10),
      MultimodalOps.MediaRow(3L, null, "img", 0, 0)).toDS()
    val feats = MultimodalOps.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    // none of these payloads are decodable images → byte fallback
    assert(feats.values.forall(!_.decoded))
    assert(feats(1L).n_bytes == 256)
    // uniform byte distribution → max entropy (log2(16) = 4 bits)
    assert(math.abs(feats(1L).entropy - 4.0) < 1e-9)
    assert(feats(1L).histogram.sum > 0.999 && feats(1L).histogram.length == 16)
    // constant bytes → zero entropy, all mass in bin 0
    assert(feats(2L).entropy == 0.0 && feats(2L).histogram(0) == 1.0)
    assert(feats(3L).n_bytes == 0)
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("multimodal: real PNG decodes to exact luminance pixel stats") {
    // hand-built 4x4 PNG: top half pure red, bottom half pure white
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4)
      img.setRGB(x, y, if (y < 2) 0xff0000 else 0xffffff)
    // integer Rec.601: red → (299*255+500)/1000 = 76, white → 255
    val dec = MultimodalOps.decodeImage(pngBytes(img)).get
    assert(dec.width === 4 && dec.height === 4)
    assert(dec.luma.toSeq === (Seq.fill(8)(76) ++ Seq.fill(8)(255)))

    val media = Seq(MultimodalOps.MediaRow(9L, pngBytes(img), "png", 4, 4)).toDS()
    val f = MultimodalOps.extractFeatures(media).collect().head
    assert(f.decoded && f.width === 4 && f.height === 4)
    assert(f.mean === (8 * 76 + 8 * 255) / 16.0)
    // two equally-likely luminance bins: 76*16/256=4, 255*16/256=15
    assert(f.entropy === 1.0)
    assert(f.histogram(4) === 0.5 && f.histogram(15) === 0.5)
    // JPEG round-trips through the same path (lossy → assert shape)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jf = MultimodalOps.extractFeatures(
      Seq(MultimodalOps.MediaRow(10L, bos.toByteArray, "jpg", 4, 4)).toDS())
      .collect().head
    assert(jf.decoded && jf.width === 4 && jf.height === 4)
  }

  test("multimodal: frame sampling slices every Nth frame") {
    val media = Seq(MultimodalOps.MediaRow(1L, Array.tabulate(100)(_.toByte), "vid", 0, 0)).toDS()
    val frames = MultimodalOps.sampleFrames(media, frameBytes = 10, everyN = 3)
      .orderBy("frame_idx").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 3, 6, 9))
    assert(frames.head.getAs[Array[Byte]]("frame").toSeq == (0 until 10).map(_.toByte))
  }

  test("multimodal: resize downsamples rasters and decoded images, nulls malformed rows") {
    // 4x4 gradient raster → 2x2 nearest-neighbor picks rows 0/2, cols 0/2
    val px = Array.tabulate(16)(i => (i * 10).toByte)
    val media = Seq(
      MultimodalOps.MediaRow(1L, px, "img", 4, 4),
      MultimodalOps.MediaRow(2L, Array.fill(3)(0.toByte), "img", 4, 4), // short payload
      MultimodalOps.MediaRow(3L, null, "img", 4, 4)).toDS()
    val out = MultimodalOps.resize(media, outW = 2, outH = 2)
      .orderBy("media_id").collect()
    assert(out.head.getAs[Array[Byte]]("media").toSeq ===
      Seq(0, 20, 80, 100).map(_.toByte))
    assert(out.head.getInt(3) === 2 && out.head.getInt(4) === 2)
    assert(out(1).getAs[Array[Byte]]("media") == null)
    assert(out(2).getAs[Array[Byte]]("media") == null)
    // a real PNG resizes from its DECODED luminance plane
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) {
      val v = if (y < 2) 0 else 0xffffff  // top black, bottom white
      img.setRGB(x, y, v)
    }
    val dec = MultimodalOps.resize(
      Seq(MultimodalOps.MediaRow(4L, pngBytes(img), "png", 4, 4)).toDS(),
      outW = 2, outH = 2).collect().head
    assert(dec.getString(2) === "raster8")
    assert(dec.getAs[Array[Byte]]("media").toSeq ===
      Seq(0, 0, 255.toByte, 255.toByte))
  }

  test("lshNearDupPairs agrees with brute force above the threshold") {
    val embs = Tables.embeddings(spark, sfDir)
    val exact = Dedup.cosineNearDups(embs, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(embs, threshold = 0.9, planes = 16, bands = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH is a subset of exact (no false positives after rerank)
    assert(lsh.subsetOf(exact))
    // and with 8 bands of 2 bits, recall on >=0.9 pairs is high
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.5, s"recall ${lsh.size}/${exact.size}")
  }

  test("W10 latest cycle + S2 absolute time") {
    import graft.sources.TrackSources
    val files = Seq(("2024010100", "a"), ("2024010106", "b"), ("2024010106", "c"))
      .toDF("cycle", "f")
    val got = TrackSources.latestCycle(files).select("f").collect().map(_.getString(0)).toSet
    assert(got == Set("b", "c"))
    val parsed = Seq((1, 6.0)).toDF("x", "time_offset_h")
    val t = TrackSources.withAbsoluteTime(parsed,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      .select("time").collect().head.getTimestamp(0)
    assert(t == java.sql.Timestamp.valueOf("2024-01-01 06:00:00"))
  }

  test("cosineNearDups finds the planted near-duplicates") {
    val embs = Tables.embeddings(spark, sfDir)
    val dups = Dedup.cosineNearDups(embs, threshold = 0.95)
    assert(dups.where(col("sim") > 1.0001).count() == 0)
    val all = dups.collect()
    all.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("incrementalNearDups equals the batch pipeline restricted to cross-boundary pairs") {
    val docs = Tables.documents(spark, sfDir)
    val cut = 30L
    val corpus = docs.where($"doc_id" < cut)
    val batch = docs.where($"doc_id" >= cut)
    val incr = Dedup.incrementalNearDups(batch,
        Dedup.minhashSignaturesOnePass(corpus, n = 3, numPerm = 8),
        Dedup.shingleHashSets(corpus, n = 3), threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the full-corpus pipeline, keeping only (new, corpus) pairs
    val sig = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBuckets(sig, bands = 4, rowsPer = 2))
    val full = Dedup.ngramJaccardFromSets(Dedup.shingleHashSets(docs, n = 3), pairs)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (a >= cut && b < cut) Some((a, b, j))
        else if (b >= cut && a < cut) Some((b, a, j)) else None }.toSet
    assert(incr === full)
    assert(incr.nonEmpty, "fixture should produce at least one cross-boundary candidate")
  }

  test("semanticDedup drops exactly the vectors with a lower-id cell-mate at cosine >= tau") {
    val embs = Tables.embeddings(spark, sfDir).where(col("vec_id") < 120)
    val tau = 0.2
    val got = Dedup.semanticDedup(embs, nlist = 4, tau = tau)
    // independent keep computation: collect cells + vectors, brute force
    val cells = got.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectDrop = vecs.keys.filter { id =>
      vecs.keys.exists(o => o < id && cells(o) == cells(id) &&
        BigDecimal(cos(vecs(o), vecs(id))).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= tau)
    }.toSet
    val gotDrop = got.where(!col("keep")).collect().map(_.getLong(0)).toSet
    assert(gotDrop === expectDrop)
    // every vector appears exactly once, keep + drop partition the corpus
    assert(got.count() === embs.count())
  }

  test("winnowing: shared substrings of length >= k+w-1 share a fingerprint") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val docs = Seq(
      (1L, base),
      (2L, "PREFIX entirely different words here " + base),  // shares a long substring
      (3L, "zzz qqq completely unrelated material vvv www yyy xxx uuu ttt sss"))
      .toDF("doc_id", "text")
    val fps = TextOps.winnowingFingerprints(docs, k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)   // guarantee holds
    assert((fps(1L) intersect fps(3L)).isEmpty)    // unrelated docs disjoint
    // short-text branch: fewer than w grams still fingerprints
    val short = Seq((9L, "abcdefghij")).toDF("doc_id", "text")   // 3 grams < w
    assert(TextOps.winnowingFingerprints(short, k = 8, w = 4).count() == 3)
  }

  test("near-dup groups: connected components collapse chains, keep min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val all = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val got = Dedup.nearDupGroupsDF(pairs, all)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == (1L, true) && got(2L) == (1L, false) && got(3L) == (1L, false))
    assert(got(10L) == (10L, true) && got(11L) == (10L, false))
    assert(got(99L) == (99L, true))   // singleton keeps itself
  }

  test("sessionize: gap splits sessions, summary aggregates") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2L),
      (1L, Timestamp.valueOf("2024-01-01 12:00:00"), 3L),   // > 30 min gap
      (2L, Timestamp.valueOf("2024-01-01 09:00:00"), 4L))
      .toDF("user_id", "ts", "event_id")
    val sess = Sessionize.assign(ev, gapMinutes = 30)
    val ids = sess.orderBy("event_id").collect().map(_.getAs[String]("session_id"))
    assert(ids.toSeq == Seq("1_1", "1_1", "1_2", "2_1"))
    val summ = Sessionize.summarize(sess).orderBy("user_id", "session_id").collect()
    assert(summ.length == 3)
    assert(summ.head.getAs[Long]("n_events") == 2)
    assert(summ.head.getAs[Long]("duration_sec") == 600)
  }

  test("normalizeText: idempotent cleanup of controls and whitespace runs") {
    val df = Seq((1L, "  Hello\tWORLD\n\n  again ")).toDF("doc_id", "text")
    val once = df.select(TextOps.normalizeText($"text").as("n"))
      .collect().head.getString(0)
    assert(once == "hello world again")
    val twice = df.select(TextOps.normalizeText(TextOps.normalizeText($"text")).as("n"))
      .collect().head.getString(0)
    assert(twice == once)
  }

  test("sampling: deterministic hash sample is stable and ~fraction sized") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir)
    val a = Sampling.deterministicSample(docs, 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(docs, 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)   // no RNG: same rows every run
    val frac = a.size.toDouble / docs.count()
    assert(frac > 0.15 && frac < 0.45, s"fraction $frac")
    // stratified decile sampling keeps only requested deciles
    val strat = Sampling.stratifiedByDecile(
      docs.withColumn("q", $"n_chars".cast("double")), "q",
      Map(10 -> 1.0), tieBreak = "doc_id")
    assert(strat.count() > 0)
    assert(strat.select("decile").distinct().collect().map(_.getInt(0)).toSet == Set(10))
    // deterministic: identical keeper set on re-run (hash, not RNG)
    val strat2 = Sampling.stratifiedByDecile(
      docs.withColumn("q", $"n_chars".cast("double")), "q",
      Map(10 -> 1.0), tieBreak = "doc_id")
    assert(strat.select("doc_id").collect().map(_.getLong(0)).toSet ==
      strat2.select("doc_id").collect().map(_.getLong(0)).toSet)
    // threshold semantics: decile 10 is exactly the rows above the
    // exact interpolated 0.9-percentile (ties share the lower decile)
    val t9 = docs.select($"n_chars".cast("double").as("q"))
      .agg(expr("percentile(q, 0.9)")).collect()(0).getDouble(0)
    val minKept = strat.agg(min($"n_chars".cast("double"))).collect()(0).getDouble(0)
    assert(minKept > t9, s"decile-10 floor $minKept must exceed t9 $t9")
    val nAbove = docs.where($"n_chars".cast("double") > t9).count()
    assert(strat.count() == nAbove)
    // a fraction keeps a proportional, deterministic subset
    val half = Sampling.stratifiedByDecile(
      docs.withColumn("q", $"n_chars".cast("double")), "q",
      Map(10 -> 0.5), tieBreak = "doc_id")
    val hf = half.count().toDouble / nAbove
    assert(hf > 0.3 && hf < 0.7, s"half-fraction kept $hf")
  }

  test("sampling: stratifiedByDecile survives digit-named input columns") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir)
    // an input that already carries columns "0".."8" (e.g. a pivoted
    // feature table) must not collide with the internal threshold row
    val trapped = docs.withColumn("q", $"n_chars".cast("double"))
      .withColumn("3", lit("user-col"))
      .withColumn("0", lit(-1.0))
    val strat = Sampling.stratifiedByDecile(
      trapped, "q", Map(10 -> 1.0), tieBreak = "doc_id")
    assert(strat.columns.contains("3") && strat.columns.contains("0"),
      "user columns must pass through untouched")
    assert(strat.select("3").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("user-col"))
    // same keeper set as without the trap columns
    val plain = Sampling.stratifiedByDecile(
      docs.withColumn("q", $"n_chars".cast("double")), "q",
      Map(10 -> 1.0), tieBreak = "doc_id")
    assert(strat.select("doc_id").collect().map(_.getLong(0)).toSet ===
      plain.select("doc_id").collect().map(_.getLong(0)).toSet)
    // the genuinely reserved names fail loudly, not mid-plan
    assertThrows[IllegalArgumentException](Sampling.stratifiedByDecile(
      docs.withColumn("q", $"n_chars".cast("double"))
        .withColumn("decile", lit(1)),
      "q", Map(10 -> 1.0), tieBreak = "doc_id"))
    assertThrows[IllegalArgumentException](Sampling.stratifiedByDecile(
      docs.withColumn("q", $"n_chars".cast("double"))
        .withColumn("_q4", lit(0.0)),
      "q", Map(10 -> 1.0), tieBreak = "doc_id"))
  }

  test("hashSplit: total partition, ~weights, and no migration under corpus growth") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val full = Sampling.hashSplit(docs, splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full.values.forall(Set("train", "val", "test")))  // every row labeled
    val n = full.size.toDouble
    val trainFrac = full.values.count(_ == "train") / n
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac")
    // membership is a pure function of the id: a half-corpus assigns
    // every surviving doc to the SAME split (RNG splits cannot do this)
    val half = Sampling.hashSplit(docs.where($"doc_id" % 2 === 0), splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    half.foreach { case (id, s) => assert(full(id) == s, s"doc $id migrated") }
    // split hashing is salted independently of deterministicSample's
    // bucketing: a 10% sample of the corpus must span all three splits
    // (an unsalted shared hash would draw it entirely from 'train')
    val sampled = Sampling.deterministicSample(docs, 0.1)
      .select("doc_id").collect().map(_.getLong(0))
    val splitsHit = sampled.map(full).toSet
    assert(splitsHit == Set("train", "val", "test"),
      s"10% sample only reached $splitsHit")
  }

  test("domain blocklist: exact host, subdomain, and TLD-level drops; malformed keeps") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "https://spam.com/a"),            // exact
      (2L, "https://ads.spam.com/b"),        // subdomain
      (3L, "http://good.com/c"),             // keeps
      (4L, "https://spam.com.evil.org/d"),   // not a suffix match for spam.com
      (5L, "not a url"),                     // malformed keeps
      (6L, "https://sub.tracker.net:8080/e") // port stripped, subdomain
    ).toDF("doc_id", "url")
    val kept = TextOps.domainBlocklistFilter(docs,
        Seq("spam.com", "tracker.net"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L, 5L))
    // suffix expansion itself
    val sfx = docs.where($"doc_id" === 2L)
      .select(TextOps.hostSuffixes(TextOps.extractHost($"url")))
      .collect().head.getSeq[String](0)
    assert(sfx === Seq("ads.spam.com", "spam.com", "com"))
  }

  test("domain blocklist: eTLD floor stops a careless public-suffix entry") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "https://shop.co.uk/a"),      // under the eTLD — must KEEP
      (2L, "https://co.uk/b"),           // exactly the eTLD — drops
      (3L, "https://spam.co.uk/c"),      // normal entry still drops
      (4L, "https://sub.spam.co.uk/d"),  // and its subdomains
      (5L, "https://good.org/e")
    ).toDF("doc_id", "url")
    val blocked = Seq("co.uk", "spam.co.uk")
    val psl = Seq("co.uk", "com", "org")
    val kept = TextOps.domainBlocklistFilter(docs, blocked,
        publicSuffixes = psl)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 5L))
    // without the floor, the careless "co.uk" entry nukes the family
    val keptNoFloor = TextOps.domainBlocklistFilter(docs, blocked)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNoFloor === Set(5L))
  }

  test("map-only blocklist predicate equals the join-based operator's drop set") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "https://spam.com/a"), (2L, "https://ads.spam.com/b"),
      (3L, "http://good.com/c"), (4L, "https://spam.com.evil.org/d"),
      (5L, "not a url"), (6L, "https://sub.tracker.net:8080/e"),
      (7L, null: String), (8L, "https://co.uk/x"), (9L, "https://shop.co.uk/y")
    ).toDF("doc_id", "url")
    val blocked = Seq("spam.com", "tracker.net", "co.uk")
    val psl = Seq("co.uk")
    val joinKept = TextOps.domainBlocklistFilter(docs, blocked,
        publicSuffixes = psl)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val predKept = docs
      .where(!TextOps.isBlockedDomain($"url", blocked, psl))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(predKept === joinKept)
    assert(joinKept === Set(3L, 4L, 5L, 7L, 9L))
  }

  test("chunkByChars: offsets, overlap, short-doc and exact-fit edges") {
    import graft.operators.TextOps
    val docs = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, "abcde"))
      .toDF("doc_id", "text")
    val got = TextOps.chunkByChars(docs, size = 5, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // len 10, stride 3: chunks at 0,3,6 cover the doc with 2-char overlap
    assert(got(1L).map(c => (c._3, c._4)) ===
      Seq((0, "abcde"), (3, "defgh"), (6, "ghij")))
    // shorter than size → exactly one chunk
    assert(got(2L) === Seq((2L, 0, 0, "abc")))
    // exact fit → one chunk
    assert(got(3L) === Seq((3L, 0, 0, "abcde")))
    // every character is covered by at least one chunk
    val covered = got(1L).flatMap(c => c._3 until (c._3 + c._4.length)).toSet
    assert(covered === (0 until 10).toSet)
    // NULL text counts as empty: the row still yields its one chunk
    val withNull = Seq((4L, null: String)).toDF("doc_id", "text")
    val nullRows = TextOps.chunkByChars(withNull, size = 5, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    assert(nullRows.toSeq === Seq((4L, 0, "")))
  }

  test("deterministicMixture: per-source fractions, stable and salt-independent") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir)
    val mixed = Sampling.deterministicMixture(docs,
      Map("src0" -> 1.0, "src1" -> 0.0), defaultFraction = 0.5)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") === total("src0"))        // fraction 1.0 keeps all
    assert(!bySrc.contains("src1"))                // fraction 0.0 drops all
    val restKept = bySrc.filterKeys(s => s != "src0").values.sum.toDouble
    val restAll = total.filterKeys(s => s != "src0" && s != "src1").values.sum
    assert(restKept / restAll > 0.3 && restKept / restAll < 0.7,
      s"default 0.5 kept ${restKept / restAll}")
    // deterministic: second run identical
    assert(Sampling.deterministicMixture(docs,
        Map("src0" -> 1.0, "src1" -> 0.0), defaultFraction = 0.5)
      .count() === mixed.count())
  }

  test("lmScore: fluent text under the reference model beats gibberish") {
    import graft.operators.TextOps
    val ref = Seq((0L, "the cat sat on the mat and the cat ran"),
      (2L, "the dog sat on the mat")).toDF("doc_id", "text")
    val score = Seq((10L, "the cat sat on the mat"),
      (11L, "zqx vbn mlk pqr wer tyu"),
      (12L, "x")) // single token → no bigrams
      .toDF("doc_id", "text")
    val (c, b, v) = TextOps.bigramCounts(ref)
    val got = TextOps.lmScore(score, c, b, v).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), r.getLong(2))).toMap
    val fluent = got(10L)._1.get.asInstanceOf[Double]
    val gibberish = got(11L)._1.get.asInstanceOf[Double]
    assert(fluent > gibberish, s"fluent $fluent vs gibberish $gibberish")
    assert(got(10L)._2 === 5L)
    assert(got(12L)._1.isEmpty && got(12L)._2 === 0L) // null score, densified
  }

  test("packSequences: per-shard concatenation offsets and chunk assignment") {
    import graft.operators.Sampling
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 300L), (3L, "en", 200L), (4L, "en", 50L),
      (10L, "fr", 600L), (11L, "fr", 10L))
      .toDF("doc_id", "lang", "n_tokens")
    val got = Sampling.packSequences(docs, budget = 512,
      tokenCol = "n_tokens", shardCol = "lang")
      .select("doc_id", "start_offset", "pack_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // en stream: offsets 0,100,400,600 → packs 0,0,0,1
    assert(got(1L) == (0L, 0L) && got(2L) == (100L, 0L))
    assert(got(3L) == (400L, 0L) && got(4L) == (600L, 1L))
    // fr stream restarts at 0 independently
    assert(got(10L) == (0L, 0L) && got(11L) == (600L, 1L))
  }

  test("tokenBudgetSelect equals the global-window rule; nulls excluded") {
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    // adversarial: heavy score ties (5 values over 200 rows), variable
    // token sizes, an unrankable null-score row, tiny bucket count so
    // several buckets collapse together
    val docs = ((1L to 200L).map(id =>
        (id, Some((id % 5).toDouble), Some(id % 17 + 1L))) :+
        ((201L, Option.empty[Double], Some(5L))) :+
        ((202L, Some(99.0), Option.empty[Long])))
      .toDF("doc_id", "score", "n_toks")
    for (budget <- Seq(0L, 7L, 500L, 1200L, 100000L)) {
      val fast = Sampling.tokenBudgetSelect(docs, budget, "score", "n_toks",
          numBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val naive = docs
        .where(col("score").isNotNull && col("n_toks").isNotNull)
        .withColumn("cum", sum("n_toks").over(
          Window.orderBy(col("score").desc, col("doc_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("cum") <= budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(fast === naive, s"budget=$budget")
    }
    // constant scores: everything lands in one bucket (degenerate but exact)
    val const = Seq((1L, 1.0, 10L), (2L, 1.0, 10L), (3L, 1.0, 10L))
      .toDF("doc_id", "score", "n_toks")
    val got = Sampling.tokenBudgetSelect(const, 25L, "score", "n_toks")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
  }

  test("scriptProfile: per-script counts, dominance priority, none, astral-safe") {
    val docs = Seq(
      (1L, "hello мир"),            // latin 5, cyrillic 3 → latin
      (2L, "привет hi"),            // cyrillic 6, latin 2 → cyrillic
      (3L, "αβγ abc"),              // tie 3-3 → latin (priority order)
      (4L, "123 !!!"),              // none
      (5L, "漢字 안녕"),              // cjk 2, hangul 2 → cjk (priority)
      (6L, "a😀b"))                  // astral char cancels in the count
      .toDF("doc_id", "text")
    val out = TextOps.scriptProfile(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[String]("script"),
        r.getAs[Long]("n_latin"), r.getAs[Long]("n_scripted"),
        r.getAs[Double]("script_frac")))).toMap
    assert(out(1L) === (("latin", 5L, 8L, 5.0 / 8)))
    assert(out(2L)._1 === "cyrillic")
    assert(out(3L) === (("latin", 3L, 6L, 0.5)))
    assert(out(4L) === (("none", 0L, 0L, 0.0)))
    assert(out(5L)._1 === "cjk")
    assert(out(6L) === (("latin", 2L, 2L, 1.0)))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** The one-pass codegen kernels (expressions.MinHashOps) must be
  * bit-identical to the relational reference path they replace — the
  * DuckDB oracle mirrors the relational formulation, so any divergence
  * here is a gate failure at the next scale factor.
  */
class MinHashKernelSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir).limit(200).cache()

  test("one-pass minhash signatures == relational signatures (real corpus)") {
    val rel = Dedup.minhashSignatures(
      Dedup.shingles(docs, n = 3, dedupe = false), numPerm = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fast = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast.keySet == rel.keySet)
    fast.foreach { case (id, sig) => assert(sig == rel(id), s"doc $id") }
  }

  test("one-pass kernels handle edge cases like the relational path") {
    val edge = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "one two"),
      (5L, "one two three"), (6L, "  padded   words  here  "),
      (7L, "tab\tseparated words go here"), (8L, "dup dup dup dup dup"))
      .toDF("doc_id", "text")
    val rel = Dedup.minhashSignatures(
      Dedup.shingles(edge, n = 3, dedupe = false), numPerm = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fast = Dedup.minhashSignaturesOnePass(edge, n = 3, numPerm = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast == rel)
  }

  test("shingle-hash sets are sorted, distinct, and sized like the string sets") {
    val sizes = Dedup.shingles(docs, n = 3).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sets = Dedup.shingleHashSets(docs, n = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sets.keySet == sizes.keySet)
    sets.foreach { case (id, hs) =>
      assert(hs.length == sizes(id), s"doc $id distinct count")
      assert(hs == hs.sorted && hs.distinct.length == hs.length, s"doc $id order")
    }
  }

  test("jaccard from hash sets == jaccard from exploded shingle strings") {
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBuckets(
      Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8),
      bands = 4, rowsPer = 2))
    val rel = Dedup.ngramJaccard(Dedup.shingles(docs, n = 3), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fast = Dedup.ngramJaccardFromSets(Dedup.shingleHashSets(docs, n = 3), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fast == rel)
  }

  test("one-pass winnowing sets == relational winnowing fingerprints") {
    import graft.operators.TextOps
    val edge = Seq(
      (900100L, ""), (900101L, "short"), (900102L, "exactly8"), (900103L, "nine char"),
      (900104L, "UPPER and Mixed CASE with 123 numbers!"),
      (900105L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa"))
      .toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(edge)
    val rel = TextOps.winnowingFingerprints(corpus, k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = TextOps.winnowingFingerprintSets(corpus, k = 8, w = 4)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == rel)
  }

  test("contamination finds planted train→eval leakage, skips clean docs") {
    val passage = "the quick brown fox jumps over the lazy dog near the riverbank today"
    val train = Seq(
      (1L, s"training document with $passage embedded in the middle of text"),
      (2L, "an unrelated training document about catalyst optimizer internals"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"eval prompt copied: $passage and some extra words"),
      (11L, "a completely clean eval document about volcano monitoring systems"))
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(train, eval, n = 3, minOverlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hits.contains((10L, 1L)), s"planted leak missed: $hits")
    assert(hits((10L, 1L)) >= 8) // the shared passage has >= 8 3-gram shingles
    assert(!hits.keys.exists(_._1 == 11L), "clean doc flagged")
  }

  test("DataFrame-native connected components == union-find on LSH pairs + chains") {
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBuckets(
        Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8),
        bands = 4, rowsPer = 2))
      // add a 5-node chain to exercise multi-round propagation
      .unionByName(Seq((900001L, 900002L), (900002L, 900003L),
        (900003L, 900004L), (900004L, 900005L)).toDF("id_a", "id_b"))
    val ids = docs.select("doc_id")
      .unionByName((900001L to 900005L).toDF("doc_id"))
    val viaUnionFind = UnionFind.components(
      ids.collect().map(_.getLong(0)),
      pairs.collect().map(r => (r.getLong(0), r.getLong(1))))
    val viaDF = Dedup.nearDupGroupsDF(pairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDF == viaUnionFind)
    assert(viaDF(900005L) == 900001L) // chain collapsed to min id
  }

  test("label propagation rounds are LOGARITHMIC in component diameter") {
    // a path graph is the adversarial shape: the hop alone moves the
    // min label one edge per round (O(d)); the pointer jump shortcut
    // must bring this to O(log d). After round k the label has
    // traveled ~2^(k+1)-2 hops, so d=8 needs 3 rounds + 1 to detect
    // the fixpoint.
    val d = 8
    val edges = (0L until d).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (0L to d).toDF("doc_id")
    val (groups, rounds) = Dedup.nearDupGroupsDFWithRounds(edges, ids)
    assert(groups.collect().forall(_.getLong(1) == 0L)) // all label to min id
    assert(rounds <= 6, s"diameter $d took $rounds rounds (expected O(log d) ~4)")
    // min id planted mid-chain still converges, labels to the min
    val mid = (0L until d).map(i => (i + 100, i + 101)) :+ ((104L, 50L))
    val midIds = ((100L to 100L + d) :+ 50L).toDF("doc_id")
    val (g2, rounds2) = Dedup.nearDupGroupsDFWithRounds(
      mid.toDF("id_a", "id_b"), midIds)
    assert(g2.collect().forall(_.getLong(1) == 50L))
    assert(rounds2 <= 6, s"mid-anchored chain took $rounds2 rounds")
  }

  test("a diameter-200 chain converges within the DEFAULT round budget") {
    // the shape that killed the O(diameter) loop: a templated-page
    // chain longer than maxRounds. 201 vertices in a single path —
    // diameter 200 > 50 — must converge in ~log2(200)+2 ≈ 9 rounds
    // under the default maxRounds=50, where the old min-label-only
    // loop would have burned 50 join rounds and thrown.
    val d = 200
    val edges = (0L until d).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (0L to d).toDF("doc_id")
    val (groups, rounds) = Dedup.nearDupGroupsDFWithRounds(edges, ids)
    val rows = groups.collect()
    assert(rows.forall(_.getLong(1) == 0L), "all labels collapse to min id 0")
    assert(rows.count(_.getBoolean(2)) == 1, "exactly one keeper")
    assert(rounds <= 12, s"diameter $d took $rounds rounds (expected O(log d) ~8)")
  }

  test("nearDupKeepBest keeps the argmax-quality doc, ties to min id, null loses") {
    // components: {1,2,3} path, {10,11} pair, {20} singleton, {30,31} pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L))
      .toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 7.0), // argmax mid-component, not min id
      (10L, 4.0), (11L, 4.0),          // exact tie -> smaller id keeps
      (20L, 1.0),                      // singleton keeps itself
      (30L, Double.NaN), (31L, 2.0))   // see below: NaN vs real score
      .toDF("doc_id", "q")
      // null quality: model it via a real null, not NaN (NaN ordering
      // is engine-specific; the operator pins NULL -> -inf)
      .withColumn("q", when(col("doc_id") === 30L, lit(null)).otherwise(col("q")))
    val out = Dedup.nearDupKeepBest(pairs, docs, "q")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((1L, false, 2L)))
    assert(out(2L) == ((1L, true, 2L))) // highest quality, not min id
    assert(out(3L) == ((1L, false, 2L)))
    assert(out(10L) == ((10L, true, 10L))) // tie -> smallest id
    assert(out(11L) == ((10L, false, 10L)))
    assert(out(20L) == ((20L, true, 20L))) // singleton
    assert(out(30L) == ((30L, false, 31L))) // null quality loses
    assert(out(31L) == ((30L, true, 31L)))
    assert(out.size == 8)
  }

  test("nearDupKeepBest decision plan has no window and no sort of the corpus") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val docs = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("doc_id", "q")
    val plan = Dedup.nearDupKeepBest(pairs, docs, "q")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"keeper argmax must not window:\n$plan")
    // the struct-max agg must partial-aggregate (map-side combine)
    assert(plan.contains("partial_max") || plan.contains("partial max")
      || plan.contains("HashAggregate"), s"expected partial agg:\n$plan")
  }

  test("one-pass signature plan is a map-only scan (no shuffle)") {
    val plan = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
  }
}

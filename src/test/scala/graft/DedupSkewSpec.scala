package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** The contamination df-threshold skew guard (Dedup.contamination
  * maxShingleDf): semantics-preserving when the cutoff clears every
  * train-side document frequency, and hard-bounding per-key join
  * fan-out when a stopword-like shingle goes hot. */
class DedupSkewSpec extends SparkTestBase {

  private def split(dir: String) = {
    GraftExtensions.register(spark)
    val docs = Tables.documents(spark, dir)
    (docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1))
  }

  test("cutoff above max df reproduces the unpruned scan exactly") {
    val (train, eval) = split(sfDir)
    val base = Dedup.contamination(train, eval, n = 3, minOverlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pruned = Dedup.contamination(train, eval, n = 3, minOverlap = 3,
        maxShingleDf = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(base === pruned)
    assert(base.nonEmpty)
  }

  test("hot shingle: fan-out bounded at the cutoff, real overlaps survive") {
    import spark.implicits._
    // every train doc shares the stopword shingle "of the and"; docs
    // 0/1 additionally share 3 real shingles with eval doc 100.
    val hot = "of the and"
    val real = "quick brown fox jumps over"  // 3 distinct 3-gram shingles
    val train = (0L until 40L).map { i =>
      val body = if (i < 2) real else s"unique$i tokens$i here$i"
      (i, s"$hot $body")
    }.toDF("doc_id", "text")
    val eval = Seq((100L, s"$real tail")).toDF("doc_id", "text")

    // per-shingle-hash fan-out on the train side of the join, after
    // the production prune
    def fanOut(maxDf: Long): Long =
      Dedup.dropHotKeys(
          Dedup.shingleRows(train, 3, "doc_id", "text", "train_id"),
          Seq("h"), maxDf)
        .groupBy("h").count().agg(max("count")).head().getLong(0)
    assert(fanOut(Long.MaxValue) === 40L)  // unguarded: hot key fans out to all docs
    assert(fanOut(5L) <= 5L)               // guarded: every key bounded by cutoff

    // the guarded scan still finds the genuine 4-shingle overlap with
    // docs 0 and 1 ("quick brown fox","brown fox jumps","fox jumps
    // over" + for doc 100 "jumps over tail" is eval-only), and the
    // hot shingle no longer links eval to the other 38 docs.
    val hits = Dedup.contamination(train, eval, n = 3, minOverlap = 3,
        maxShingleDf = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits === Set((100L, 0L), (100L, 1L)))
  }

  test("decontaminate drops exactly the detected train docs, keeps the rest") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val (train, eval) = split(sfDir)
    val hits = Dedup.contamination(train, eval, n = 3, minOverlap = 3)
      .select("train_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(hits.nonEmpty)
    val cleaned = Dedup.decontaminate(train, eval, n = 3, minOverlap = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = train.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleaned === all -- hits)
    // the cleaned corpus re-scans clean
    assert(Dedup.contamination(
      train.join(cleaned.toSeq.toDF("doc_id"), "doc_id"),
      eval, n = 3, minOverlap = 3).isEmpty)
  }

  test("decontaminateFromShingles: index path equals the direct scan") {
    GraftExtensions.register(spark)
    val (train, eval) = split(sfDir)
    val direct = Dedup.decontaminate(train, eval, n = 3, minOverlap = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_shidx").toString
    val table = "graft_spec_train_shingles"
    try {
      Dedup.writeShingleIndex(train, s"$dir/t", table, n = 3)
      val viaIndex = Dedup.decontaminateFromShingles(
          Dedup.readShingleIndex(spark, table), train, eval,
          n = 3, minOverlap = 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(viaIndex === direct)
      assert(direct.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("contaminationFromShingleIndexes: both-sides-at-rest equals the direct scan") {
    GraftExtensions.register(spark)
    val (train, eval) = split(sfDir)
    val direct = Dedup.contamination(train, eval, n = 3, minOverlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_shidx2").toString
    try {
      Dedup.writeShingleIndex(train, s"$dir/t", "graft_spec_tr_sh", n = 3)
      Dedup.writeShingleIndex(eval, s"$dir/e", "graft_spec_ev_sh", n = 3,
        outIdCol = "eval_id")
      val atRest = Dedup.contaminationFromShingleIndexes(
          Dedup.readShingleIndex(spark, "graft_spec_tr_sh"),
          Dedup.readShingleIndex(spark, "graft_spec_ev_sh"),
          minOverlap = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(atRest === direct)
      assert(direct.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_spec_tr_sh")
      spark.sql("DROP TABLE IF EXISTS graft_spec_ev_sh")
    }
  }

  /** Every executed plan during `f`, via a QueryExecutionListener —
    * the production plans the append ran, not a hand-built replica
    * (same technique as PqAppendSpec). */
  private def executedPlans(f: => Unit): Seq[String] = {
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      f
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("appendToShingleIndex: append == rebuild, O(batch), bucket join survives") {
    GraftExtensions.register(spark)
    val (train, eval) = split(sfDir)
    val base = train.where(col("doc_id") % 4 === 0)
    val incr = train.where(col("doc_id") % 4 === 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_shapp").toString
    try {
      // build on half the corpus, append the other half marker-gated
      Dedup.writeShingleIndex(base, s"$dir/a", "graft_spec_sh_app", n = 3)
      val ingestPlans = executedPlans {
        Dedup.appendToShingleIndex(incr, "graft_spec_sh_app",
          doneMarker = Some("batch1"))
      }
      // O(batch): no executed FileScan read the existing index files —
      // only the batch's documents are scanned; the write TARGETS the
      // index dir, so only scan lines are inspected
      ingestPlans.flatMap(_.split("\n")).filter(_.contains("FileScan"))
        .foreach { scan =>
          assert(!scan.contains(s"$dir/a"),
            s"append scanned the existing index:\n$scan")
        }
      val appended = spark.table("graft_spec_sh_app")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      // replay with the same marker is a no-op (at-least-once driver)
      Dedup.appendToShingleIndex(incr, "graft_spec_sh_app",
        doneMarker = Some("batch1"))
      assert(spark.table("graft_spec_sh_app").count() == appended.size,
        "marker-gated replay must not duplicate the batch")

      // append ≡ rebuild-with-union: same (id, h) row set
      Dedup.writeShingleIndex(train, s"$dir/r", "graft_spec_sh_reb", n = 3)
      val rebuilt = spark.table("graft_spec_sh_reb")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(appended === rebuilt)
      assert(rebuilt.nonEmpty)

      // the bucketed-join property survives the append: the x49 sweep
      // over the APPENDED table reads both sides Bucketed: true with
      // no exchange below the join (only the pair agg shuffles), and
      // returns exactly the direct scan's hits
      Dedup.writeShingleIndex(eval, s"$dir/e", "graft_spec_sh_ev", n = 3,
        outIdCol = "eval_id")
      val sweep = Dedup.contaminationFromShingleIndexes(
        Dedup.readShingleIndex(spark, "graft_spec_sh_app"),
        Dedup.readShingleIndex(spark, "graft_spec_sh_ev"), minOverlap = 3)
      val p = sweep.queryExecution.executedPlan.toString
      assert("Bucketed: true".r.findAllIn(p).size == 2,
        s"both index scans must stay bucketed after append:\n$p")
      assert("Exchange (hash|range)partitioning".r.findAllIn(p).size <= 1,
        s"only the pair aggregation may exchange:\n$p")
      val direct = Dedup.contamination(train, eval, n = 3, minOverlap = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val atRest = sweep
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(atRest === direct)
      assert(direct.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_spec_sh_app")
      spark.sql("DROP TABLE IF EXISTS graft_spec_sh_reb")
      spark.sql("DROP TABLE IF EXISTS graft_spec_sh_ev")
    }
  }

  test("appendToShingleIndex derives the shingle size from the table") {
    GraftExtensions.register(spark)
    val (train, _) = split(sfDir)
    val base = train.where(col("doc_id") % 4 === 0)
    val incr = train.where(col("doc_id") % 4 === 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_shn5").toString
    try {
      // an n=5 index: the append must shingle the batch at n=5 (the
      // persisted geometry), NOT a default — append ≡ rebuild at n=5
      Dedup.writeShingleIndex(base, s"$dir/a", "graft_spec_sh_n5", n = 5)
      Dedup.appendToShingleIndex(incr, "graft_spec_sh_n5")
      Dedup.writeShingleIndex(train, s"$dir/r", "graft_spec_sh_n5r", n = 5)
      val appended = spark.table("graft_spec_sh_n5")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rebuilt = spark.table("graft_spec_sh_n5r")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(appended === rebuilt && rebuilt.nonEmpty)
      // and it differs from an n=3 shingling — the property is load-bearing
      Dedup.writeShingleIndex(train, s"$dir/3", "graft_spec_sh_n3", n = 3)
      val n3 = spark.table("graft_spec_sh_n3")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(n3 !== rebuilt)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_spec_sh_n5")
      spark.sql("DROP TABLE IF EXISTS graft_spec_sh_n5r")
      spark.sql("DROP TABLE IF EXISTS graft_spec_sh_n3")
    }
  }

  test("appendToShingleIndex refuses a non-bucketed or wrong-shape table") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    try {
      docs.write.mode("overwrite").saveAsTable("graft_spec_sh_plain")
      intercept[IllegalArgumentException] {
        Dedup.appendToShingleIndex(docs, "graft_spec_sh_plain")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_spec_sh_plain")
  }

  test("writeShingleIndex rejects injection-shaped table identifiers") {
    val (train, _) = split(sfDir)
    intercept[IllegalArgumentException] {
      Dedup.writeShingleIndex(train, "/tmp/x", "t; DROP TABLE users")
    }
  }

  test("lsh bucket cap above max bucket size reproduces the uncapped pairs") {
    GraftExtensions.register(spark)
    val docs = Tables.documents(spark, sfDir)
    val sig = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8)
    val buckets = Dedup.lshBuckets(sig, bands = 4, rowsPer = 2)
    val base = Dedup.lshCandidatePairs(buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.lshCandidatePairs(buckets, maxBucket = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === base)
    assert(base.nonEmpty)
  }

  test("hot bucket: over-cap buckets drop, organic near-dup pairs survive") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // 50 boilerplate template pages (identical text → identical
    // signature → one 50-member bucket per band) + one organic
    // near-dup pair with its own text
    val organic = "zebra yak xylophone wombat vulture unicorn tapir seal"
    val docs = ((0L until 50L).map(i => (i, "tmplA tmplB tmplC tmplD tmplE tmplF")) ++
      Seq((200L, organic), (201L, organic + " extra")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignaturesOnePass(docs, n = 3, numPerm = 8)
    val buckets = Dedup.lshBuckets(sig, bands = 4, rowsPer = 2)
    val uncapped = Dedup.lshCandidatePairs(buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // quadratic blow-up present: all 50*49/2 template pairs emitted
    assert(uncapped.count(p => p._1 < 50L && p._2 < 50L) === 1225)
    val capped = Dedup.lshCandidatePairs(buckets, maxBucket = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 50-member buckets dropped; the organic pair (2-member
    // buckets) is untouched
    assert(!capped.exists(p => p._1 < 50L && p._2 < 50L))
    assert(capped.contains((200L, 201L)))
  }
}

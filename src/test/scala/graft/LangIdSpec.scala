package graft

import org.apache.spark.sql.functions._

import graft.operators.LangId

/** Trained language ID: the x93 oracle certifies the math on the
  * synthetic corpus (whose labels are noise); this spec certifies the
  * LEARNING on a real multilingual corpus — held-out accuracy, prior
  * behavior, determinism, and the bounded-model contract.
  */
class LangIdSpec extends SparkTestBase {

  private val en = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank",
    "she was walking through the streets with her friends that evening",
    "this is another simple english sentence about the weather today",
    "they would rather stay at home and read interesting books together",
    "the children played in the garden while their parents watched")
  private val de = Seq(
    "der schnelle braune fuchs springt über den faulen hund am fluss",
    "sie ging mit ihren freunden durch die straßen der alten stadt",
    "das ist noch ein einfacher deutscher satz über das wetter heute",
    "die kinder spielten im garten während ihre eltern zuschauten",
    "wir möchten lieber zu hause bleiben und spannende bücher lesen")
  private val fr = Seq(
    "le renard brun rapide saute par dessus le chien paresseux près de la rivière",
    "elle marchait dans les rues avec ses amis ce soir là tranquillement",
    "ceci est une autre phrase française simple sur le temps aujourd'hui",
    "les enfants jouaient dans le jardin pendant que leurs parents regardaient",
    "nous préférons rester à la maison et lire des livres intéressants")

  private def corpus = {
    import spark.implicits._
    val rows = (en.map(("en", _)) ++ de.map(("de", _)) ++ fr.map(("fr", _)))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
    rows.toDF("doc_id", "lang", "text")
  }

  test("held-out prediction recovers the language") {
    import spark.implicits._
    // train on the first 4 sentences of each language, test on the 5th
    val train = corpus.where(col("doc_id") % 5 =!= 4)
    val test = corpus.where(col("doc_id") % 5 === 4)
    val (counts, totals) = LangId.train(train, numBuckets = 1 << 14)
    val pred = LangId.predict(test, counts, totals, numBuckets = 1 << 14)
      .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select("lang", "lang_pred").as[(String, String)].collect()
    assert(pred.nonEmpty && pred.forall { case (l, p) => l == p },
      s"misclassified: ${pred.filter(x => x._1 != x._2).toList}")
  }

  test("the class prior decides featureless-overlap ties sensibly") {
    import spark.implicits._
    // a doc whose trigrams were never seen scores every language by
    // prior + unseen-mass: the bigger training class must win
    val train = corpus.where(col("lang") =!= "fr")
      .union(corpus.where(col("lang") === "en")) // en twice as many docs
    val (counts, totals) = LangId.train(train, numBuckets = 1 << 14)
    val pred = LangId.predict(
      Seq((99L, "zzzz qqqq xxxx wwww")).toDF("doc_id", "text"),
      counts, totals, numBuckets = 1 << 14).head()
    assert(pred.getAs[String]("lang_pred") === "en")
  }

  test("short texts (no trigrams) predict null with zero features") {
    import spark.implicits._
    val (counts, totals) = LangId.train(corpus, numBuckets = 1 << 14)
    val out = LangId.predict(Seq((1L, "ab"), (2L, "")).toDF("doc_id", "text"),
      counts, totals, numBuckets = 1 << 14).orderBy("doc_id").collect()
    assert(out.forall(r => r.isNullAt(1) && r.getAs[Long]("n_grams") === 0L))
  }

  test("training is partition-invariant (pure integer counts)") {
    val (c1, t1) = LangId.train(corpus.repartition(1), numBuckets = 256)
    val (c7, t7) = LangId.train(corpus.repartition(7), numBuckets = 256)
    assert(c1.orderBy("f", "lang").collect().toSeq ===
      c7.orderBy("f", "lang").collect().toSeq)
    assert(t1.orderBy("lang").collect().toSeq ===
      t7.orderBy("lang").collect().toSeq)
  }

  test("map-only scorer is row-for-row identical to the join scorer") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val (counts, totals) = LangId.train(
      docs.where(col("doc_id") % 2 === 0), numBuckets = 4096)
    val joined = LangId.predict(docs, counts, totals, numBuckets = 4096)
      .orderBy("doc_id").collect()
    val model = LangId.collectModel(counts, totals, numBuckets = 4096)
    val mapOnly = LangId.predictMapOnly(docs, model, numBuckets = 4096)
      .orderBy("doc_id").collect()
    assert(joined.length === mapOnly.length)
    joined.zip(mapOnly).foreach { case (a, b) =>
      assert(a === b, s"join $a vs map-only $b")
    }
    // the real-corpus (meaningful labels) path agrees too, and the
    // held-out accuracy carries over
    val train = corpus.where(col("doc_id") % 5 =!= 4)
    val (c2, t2) = LangId.train(train, numBuckets = 1 << 14)
    val m2 = LangId.collectModel(c2, t2, numBuckets = 1 << 14)
    val pred = LangId.predictMapOnly(corpus.where(col("doc_id") % 5 === 4),
        m2, numBuckets = 1 << 14)
      .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select("lang", "lang_pred").as[(String, String)].collect()
    assert(pred.nonEmpty && pred.forall { case (l, p) => l == p })
    // null/zero contract for featureless docs matches predict's
    val short = LangId.predictMapOnly(
      Seq((1L, "ab"), (2L, "")).toDF("doc_id", "text"), m2,
      numBuckets = 1 << 14).orderBy("doc_id").collect()
    assert(short.forall(r => r.isNullAt(1) && r.getAs[Long]("n_grams") === 0L))
  }

  test("map-only scoring plan has zero exchanges") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val (counts, totals) = LangId.train(
      docs.where(col("doc_id") % 2 === 0), numBuckets = 4096)
    val model = LangId.collectModel(counts, totals, numBuckets = 4096)
    val p = LangId.predictMapOnly(docs, model, numBuckets = 4096)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"exchange in the map-only scorer:\n$p")
    assert(!p.contains("Join"), s"join in the map-only scorer:\n$p")
  }

  test("model is bounded by numBuckets x languages") {
    val (counts, _) = LangId.train(corpus, numBuckets = 64)
    assert(counts.count() <= 64L * 3)
    // collision-heavy space still trains and predicts deterministically
    val (c2, t2) = LangId.train(corpus, numBuckets = 64)
    val a = LangId.predict(corpus, counts, t2, numBuckets = 64)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val b = LangId.predict(corpus, c2, t2, numBuckets = 64)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(a === b)
  }
}

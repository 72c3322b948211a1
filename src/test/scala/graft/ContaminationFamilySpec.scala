package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.streaming.ForecastStream

/** Every contamination entry point against one plain-Scala overlap
  * oracle on a seeded corpus: the inline scan, the from-shingles and
  * both-indexes paths, the bloom-pruned scan at a tight and a loose
  * fpp, the streaming twin, the fraction form at a vanishing threshold,
  * and both removals. The corpus plants verbatim quotes of 1..6 shared
  * trigrams (both sides of `minOverlap = 3`) and a stopword trigram in
  * every third train and every fourth eval document, so the
  * train-side df prune changes the answer. Each check runs under every
  * combination of 1 vs 7 shuffle partitions, AQE on vs off and
  * repartitioned vs as-built inputs: the results must not depend on
  * any of them. */
class ContaminationFamilySpec extends SparkTestBase {

  private val Stop = Seq("of", "the", "and")
  private val MinOverlap = 3L
  private val DfCap = 5L

  private val (trainDocs, evalDocs): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rng = new Random(20261018L)
    def words(k: Int) = Seq.fill(k)(s"w${rng.nextInt(400)}")
    val train = (0 until 60).map { i =>
      val ws = words(5 + rng.nextInt(10)) ++ (if (i % 3 == 0) Stop else Nil) ++
        words(8 + rng.nextInt(12))
      (2L * i, ws)
    }
    def quote(q: Int) = {
      val src = train(rng.nextInt(train.size))._2
      val at = rng.nextInt(src.size - q + 1)
      src.slice(at, at + q)
    }
    val eval = (0 until 24).map { j =>
      val ws = words(4) ++ (if (j % 4 == 0) Stop else Nil) ++ words(3) ++
        (if (j % 2 == 0) quote(3 + (j / 2) % 6) else Nil) ++ words(3) ++
        (if (j % 6 == 1) quote(5) ++ words(2) ++ quote(4) else Nil) ++ words(3)
      (2L * j + 1, ws)
    }
    (train.map { case (id, ws) => (id, ws.mkString(" ")) },
      eval.map { case (id, ws) => (id, ws.mkString(" ")) })
  }

  private def trigrams(text: String): Set[String] = {
    val w = text.trim.split("\\s+").toSeq
    if (w.size < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  /** (eval_id, train_id, n_shared) with train trigrams of train-side
    * document frequency above `maxDf` removed. */
  private def oracle(minOverlap: Long, maxDf: Long = Long.MaxValue): Set[(Long, Long, Long)] = {
    val tr = trainDocs.map { case (id, t) => (id, trigrams(t)) }
    val df = tr.flatMap(_._2).groupBy(identity).map { case (g, c) => (g, c.size.toLong) }
    val kept = tr.map { case (id, s) => (id, s.filter(df(_) <= maxDf)) }
    (for {
      (e, es) <- evalDocs.map { case (id, t) => (id, trigrams(t)) }
      (t, ts) <- kept
      n = (es & ts).size.toLong
      if n >= minOverlap
    } yield (e, t, n)).toSet
  }

  private def triples(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("eval_id", "train_id", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def docRows(df: DataFrame): Set[(Long, String)] =
    df.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("the seeded corpus plants hits below and above minOverlap and a prunable stopword") {
    val all = oracle(1L)
    assert(all.exists(_._3 < MinOverlap) && all.exists(_._3 >= MinOverlap))
    assert(oracle(MinOverlap, DfCap) != oracle(MinOverlap),
      "the df prune must change the answer on this corpus")
    assert(trainDocs.count(_._2.contains(Stop.mkString(" "))) > DfCap)
  }

  for (parts <- Seq(1, 7); aqe <- Seq(true, false); repart <- Seq(false, true)) {
    val tag = s"p${parts}_aqe${if (aqe) 1 else 0}_r${if (repart) 1 else 0}"
    test(s"every path agrees with the oracle: partitions=$parts aqe=$aqe repartitioned=$repart") {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      GraftExtensions.register(s)
      import s.implicits._
      val train0 = trainDocs.toDF("doc_id", "text")
      val eval0 = evalDocs.toDF("doc_id", "text")
      val (train, eval) =
        if (repart) (train0.repartition(5), eval0.repartition(3, col("doc_id")))
        else (train0, eval0)
      val dir = Files.createTempDirectory(s"graft_cfam_$tag").toString
      val (tt, et) = (s"graft_spec_cfam_tr_$tag", s"graft_spec_cfam_ev_$tag")
      try {
        val hits = oracle(MinOverlap)
        assert(hits.nonEmpty)
        assert(triples(Dedup.contamination(train, eval, n = 3, minOverlap = MinOverlap)) === hits)
        assert(triples(Dedup.contamination(train, eval, n = 3, minOverlap = MinOverlap,
          maxShingleDf = DfCap)) === oracle(MinOverlap, DfCap))

        Dedup.writeShingleIndex(train, s"$dir/t", tt, n = 3)
        Dedup.writeShingleIndex(eval, s"$dir/e", et, n = 3, outIdCol = "eval_id")
        val trainIdx = Dedup.readShingleIndex(s, tt)
        assert(triples(Dedup.contaminationFromShingles(trainIdx, eval, n = 3,
          minOverlap = MinOverlap)) === hits)
        assert(triples(Dedup.contaminationFromShingleIndexes(trainIdx,
          Dedup.readShingleIndex(s, et), MinOverlap)) === hits)
        for (fpp <- Seq(0.01, 0.5))
          assert(triples(Dedup.contaminationBloomPruned(train, eval, n = 3,
            minOverlap = MinOverlap, fpp = fpp)) === hits, s"bloom fpp=$fpp")

        val landing = s"$dir/landing"
        eval.write.parquet(landing)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType)))
        val stream = ForecastStream.contaminationStream(
          ForecastStream.trackFileStream(s, landing, schema), trainIdx,
          minOverlap = MinOverlap)
        assert(triples(ForecastStream.runAvailableNow(stream, s"cfam_$tag",
          s"$dir/ckpt", "complete")) === hits)

        val frac = Dedup.contaminationFraction(train, eval, n = 3, minFrac = 1e-9)
        assert(triples(frac) === triples(Dedup.contamination(train, eval, n = 3, minOverlap = 1L)))
        assert(triples(frac) === oracle(1L))

        val hitIds = hits.map(_._2)
        val cleaned = trainDocs.filterNot(d => hitIds.contains(d._1)).toSet
        assert(docRows(Dedup.decontaminate(train, eval, n = 3, minOverlap = MinOverlap)) === cleaned)
        assert(docRows(Dedup.decontaminateFromShingles(trainIdx, train, eval, n = 3,
          minOverlap = MinOverlap)) === cleaned)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tt")
        s.sql(s"DROP TABLE IF EXISTS $et")
        s.streams.active.foreach(_.stop())
      }
    }
  }
}

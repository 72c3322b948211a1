package graft

import org.apache.spark.sql.functions._

import graft.impact.{GbtParams, GbtTrainer, XgbBooster, XgbTree}

/** Certifies the from-scratch distributed histogram GBT trainer (X9
  * train-here, reference forecast_process.py:491-517) against an
  * INDEPENDENT single-node implementation written below from the same
  * public xgboost equations — different data layout, different
  * enumeration code, same math. The distributed histogram aggregation
  * must reproduce the single-node trees exactly (structure, split
  * features, float32 conditions, leaf weights), because the per-node
  * (Σg, Σh) histograms it shuffles are sums the single-node version
  * computes sequentially.
  */
class GbtTrainerSpec extends SparkTestBase {
  import spark.implicits._

  // ------------------------------------------------------- reference impl

  /** Single-node exact GBT with the trainer's conventions: cuts are
    * float32 distinct values minus the smallest; bin(v) = #{cuts ≤ f32(v)};
    * split left iff bin ≤ b; gain = ½[GL²/(HL+λ)+GR²/(HR+λ)−G²/(H+λ)]−γ;
    * ties: first of (lower feat, lower bin, missing→right); leaf
    * −G/(H+λ)·eta added to preds as float32. Arrays + recursion, no Spark.
    */
  private object SingleNode {
    final case class Split(feat: Int, bin: Int, defaultLeft: Boolean)
    sealed trait T
    final case class Leaf(w: Double) extends T
    final case class Branch(s: Split, cond: Float, l: T, r: T) extends T

    def cuts(xs: Array[Array[Double]], nf: Int): Array[Array[Float]] =
      Array.tabulate(nf) { f =>
        xs.map(_(f)).filterNot(_.isNaN).map(_.toFloat).distinct.sorted.drop(1)
      }

    def bin(v: Double, c: Array[Float]): Int =
      if (v.isNaN) -1 else c.count(_ <= v.toFloat)

    def grow(rows: Seq[Int], bins: Array[Array[Int]], g: Array[Double],
             h: Array[Double], depth: Int, c: Array[Array[Float]],
             p: GbtParams): T = {
      val gT = rows.map(g(_)).sum
      val hT = rows.map(h(_)).sum
      def leaf = Leaf(-gT / (hT + p.lambda) * p.eta)
      if (depth == p.maxDepth || rows.isEmpty) return leaf
      val parent = gT * gT / (hT + p.lambda)
      var best: (Double, Split) = null
      for (f <- c.indices) {
        val gm = rows.iterator.filter(bins(_)(f) == -1).map(g(_)).sum
        val hm = rows.iterator.filter(bins(_)(f) == -1).map(h(_)).sum
        for (b <- c(f).indices) {
          val gl0 = rows.iterator.filter(r => bins(r)(f) >= 0 && bins(r)(f) <= b).map(g(_)).sum
          val hl0 = rows.iterator.filter(r => bins(r)(f) >= 0 && bins(r)(f) <= b).map(h(_)).sum
          for (dl <- Seq(false, true)) {
            val (gl, hl) = if (dl) (gl0 + gm, hl0 + hm) else (gl0, hl0)
            val (gr, hr) = (gT - gl, hT - hl)
            if (hl >= p.minChildWeight && hr >= p.minChildWeight) {
              val gain = 0.5 * (gl * gl / (hl + p.lambda) + gr * gr / (hr + p.lambda) - parent) - p.gamma
              if (gain > 0 && (best == null || gain > best._1))
                best = (gain, Split(f, b, dl))
            }
          }
        }
      }
      if (best == null) leaf
      else {
        val s = best._2
        val (lRows, rRows) = rows.partition { r =>
          val bb = bins(r)(s.feat)
          if (bb == -1) s.defaultLeft else bb <= s.bin
        }
        Branch(s, c(s.feat)(s.bin),
          grow(lRows, bins, g, h, depth + 1, c, p),
          grow(rRows, bins, g, h, depth + 1, c, p))
      }
    }

    def score(t: T, b: Array[Int]): Double = t match {
      case Leaf(w) => w.toFloat.toDouble
      case Branch(s, _, l, r) =>
        val bb = b(s.feat)
        if (bb == -1) score(if (s.defaultLeft) l else r, b)
        else score(if (bb <= s.bin) l else r, b)
    }

    /** Full boosting loop; returns (trees, final preds). */
    def train(xs: Array[Array[Double]], ys: Array[Double], p: GbtParams): (Seq[T], Array[Double]) = {
      val nf = xs.head.length
      val c = cuts(xs, nf)
      val bins = xs.map(r => Array.tabulate(nf)(f => bin(r(f), c(f))))
      val logistic = p.objective == "binary:logistic"
      val preds = Array.fill(xs.length)(p.baseMargin)
      val trees = (0 until p.numRound).map { _ =>
        val g = new Array[Double](xs.length)
        val h = new Array[Double](xs.length)
        for (i <- xs.indices) {
          if (logistic) {
            val pr = 1.0 / (1.0 + math.exp(-preds(i)))
            g(i) = pr - ys(i); h(i) = pr * (1.0 - pr)
          } else { g(i) = preds(i) - ys(i); h(i) = 1.0 }
        }
        val t = grow(xs.indices, bins, g, h, 0, c, p)
        for (i <- xs.indices) preds(i) += score(t, bins(i))
        t
      }
      (trees, preds)
    }

    /** Flatten to comparable (feat, cond, leafOrNot) pre-order lists. */
    def flat(t: T): Seq[(Int, Float, Boolean, Boolean)] = t match {
      case Leaf(w) => Seq((-1, w.toFloat, true, false))
      case Branch(s, cond, l, r) =>
        Seq((s.feat, cond, false, s.defaultLeft)) ++ flat(l) ++ flat(r)
    }

    def flatXgb(tr: XgbTree, n: Int = 0): Seq[(Int, Float, Boolean, Boolean)] =
      if (tr.left(n) == -1) Seq((-1, tr.cond(n), true, false))
      else Seq((tr.feat(n), tr.cond(n), false, tr.defaultLeft(n))) ++
        flatXgb(tr, tr.left(n)) ++ flatXgb(tr, tr.right(n))
  }

  // ------------------------------------------------------------- fixtures

  /** Deterministic irregular fixture: integer-ish features and labels so
    * every Σg is exact in double (sums of halves), making distributed
    * (partial-agg) and sequential summation bitwise identical. */
  private def fixture(n: Int, nf: Int, missingEvery: Int = 0): (Array[Array[Double]], Array[Double]) = {
    val rnd = new scala.util.Random(20260812L)
    val xs = Array.tabulate(n) { i =>
      Array.tabulate(nf) { f =>
        if (missingEvery > 0 && (i * nf + f) % missingEvery == missingEvery / 2) Double.NaN
        else (rnd.nextInt(17) - 4).toDouble
      }
    }
    val ys = Array.tabulate(n) { i =>
      val s = xs(i).filterNot(_.isNaN).sum
      (s + rnd.nextInt(7)).toDouble
    }
    (xs, ys)
  }

  private def localDf(xs: Array[Array[Double]], ys: Array[Double]) = {
    val nf = xs.head.length
    val rows = xs.zip(ys).toSeq.map { case (x, y) => (x.toSeq, y) }
    rows.toDF("x", "y")
      .select((0 until nf).map(f => col("x")(f).as(s"f$f")) :+ col("y").as("y"): _*)
  }

  // force multi-partition histograms
  private def toDf(xs: Array[Array[Double]], ys: Array[Double], parts: Int = 7) =
    localDf(xs, ys).repartition(parts)

  private def assertSameTrees(b: XgbBooster, ts: Seq[SingleNode.T]): Unit = {
    assert(b.trees.length == ts.length)
    b.trees.zip(ts).zipWithIndex.foreach { case ((xt, st), i) =>
      val a = SingleNode.flatXgb(xt)
      val e = SingleNode.flat(st)
      assert(a.size == e.size, s"tree $i shape: got ${a.size} nodes, want ${e.size}")
      a.zip(e).zipWithIndex.foreach { case (((af, ac, al, ad), (ef, ec, el, ed)), j) =>
        assert(al == el && af == ef && ad == ed, s"tree $i node $j structure")
        if (al) assert(math.abs(ac - ec) <= 1e-6f, s"tree $i node $j leaf $ac vs $ec")
        else assert(ac == ec, s"tree $i node $j cond")
      }
    }
  }

  test("distributed trainer == independent single-node (depth 3, 5 rounds)") {
    val (xs, ys) = fixture(400, 5)
    val p = GbtParams(numRound = 5, maxDepth = 3, eta = 0.3, gamma = 0.5,
      subsample = 1.0, minChildWeight = 1.0)
    val booster = GbtTrainer.train(toDf(xs, ys), "y", (0 until 5).map(i => s"f$i"), p)
    val (trees, _) = SingleNode.train(xs, ys, p)
    assertSameTrees(booster, trees)
  }

  test("missing values: learned default direction matches single-node") {
    val (xs, ys) = fixture(300, 4, missingEvery = 5)
    val p = GbtParams(numRound = 3, maxDepth = 3, eta = 0.2, gamma = 0.1,
      subsample = 1.0)
    val booster = GbtTrainer.train(toDf(xs, ys), "y", (0 until 4).map(i => s"f$i"), p)
    val (trees, _) = SingleNode.train(xs, ys, p)
    assert(booster.trees.exists(_.defaultLeft.exists(identity)),
      "fixture should exercise at least one missing→left default")
    assertSameTrees(booster, trees)
  }

  test("booster predictions reproduce single-node training predictions") {
    val (xs, ys) = fixture(250, 4)
    val p = GbtParams(numRound = 4, maxDepth = 4, eta = 0.25, gamma = 0.2, subsample = 1.0)
    val booster = GbtTrainer.train(toDf(xs, ys), "y", (0 until 4).map(i => s"f$i"), p)
    val (_, preds) = SingleNode.train(xs, ys, p)
    xs.indices.foreach { i =>
      assert(math.abs(booster.predict(xs(i)) - preds(i)) < 1e-9,
        s"row $i: ${booster.predict(xs(i))} vs ${preds(i)}")
    }
  }

  test("binary:logistic matches single-node: trees, defaults, probabilities") {
    val (xs, _) = fixture(350, 4)
    // binary labels correlated with the feature sum, with deterministic
    // "noise" so neither class is separable
    val ys = xs.zipWithIndex.map { case (x, i) =>
      val s = x.filterNot(_.isNaN).sum
      if (s + (i % 5) > 6) 1.0 else 0.0
    }
    val p = GbtParams(numRound = 4, maxDepth = 3, eta = 0.3, gamma = 0.1,
      subsample = 1.0, objective = "binary:logistic")
    val booster = GbtTrainer.train(toDf(xs, ys), "y", (0 until 4).map(i => s"f$i"), p)
    val (trees, margins) = SingleNode.train(xs, ys, p)
    assertSameTrees(booster, trees)
    // booster raw output is the margin; sigmoid gives probabilities
    xs.indices.foreach { i =>
      val prob = 1.0 / (1.0 + math.exp(-booster.predict(xs(i))))
      val want = 1.0 / (1.0 + math.exp(-margins(i)))
      assert(math.abs(prob - want) < 1e-9, s"row $i: $prob vs $want")
      assert(prob > 0.0 && prob < 1.0)
    }
    // the model must actually discriminate: mean p(class 1) > mean p(class 0)
    val (p1, p0) = (
      xs.indices.filter(ys(_) == 1.0).map(i => 1.0 / (1.0 + math.exp(-booster.predict(xs(i))))),
      xs.indices.filter(ys(_) == 0.0).map(i => 1.0 / (1.0 + math.exp(-booster.predict(xs(i))))))
    assert(p1.sum / p1.size > p0.sum / p0.size + 0.2,
      s"separation too weak: ${p1.sum / p1.size} vs ${p0.sum / p0.size}")
  }

  test("logistic logloss decreases across rounds and stays calibrated-ish") {
    val (xs, _) = fixture(300, 3)
    val ys = xs.map(x => if (x.filterNot(_.isNaN).sum > 2) 1.0 else 0.0)
    def logloss(rounds: Int): Double = {
      val p = GbtParams(numRound = rounds, maxDepth = 3, eta = 0.3,
        gamma = 0.0, subsample = 1.0, objective = "binary:logistic")
      val b = GbtTrainer.train(toDf(xs, ys), "y", (0 until 3).map(i => s"f$i"), p)
      xs.indices.map { i =>
        val pr = (1.0 / (1.0 + math.exp(-b.predict(xs(i)))))
          .max(1e-16).min(1.0 - 1e-16)
        -(ys(i) * math.log(pr) + (1.0 - ys(i)) * math.log(1.0 - pr))
      }.sum / xs.length
    }
    val l = Seq(1, 3, 6).map(logloss)
    assert(l(0) > l(1) && l(1) > l(2), l.toString)
  }

  test("training loss decreases monotonically across rounds") {
    val (xs, ys) = fixture(300, 4)
    def mse(p: GbtParams): Double = {
      val b = GbtTrainer.train(toDf(xs, ys), "y", (0 until 4).map(i => s"f$i"), p)
      xs.indices.map(i => math.pow(b.predict(xs(i)) - ys(i), 2)).sum / xs.length
    }
    val losses = Seq(1, 3, 6).map(r =>
      mse(GbtParams(numRound = r, maxDepth = 3, eta = 0.3, gamma = 0.0, subsample = 1.0)))
    assert(losses(0) > losses(1) && losses(1) > losses(2), losses.toString)
  }

  test("gamma large enough prunes to a single shrunk-mean leaf") {
    val (xs, ys) = fixture(200, 3)
    val p = GbtParams(numRound = 1, maxDepth = 4, eta = 1.0, gamma = 1e9, subsample = 1.0)
    val b = GbtTrainer.train(toDf(xs, ys), "y", (0 until 3).map(i => s"f$i"), p)
    assert(b.trees.length == 1 && b.trees.head.feat.length == 1)
    val n = xs.length
    val expect = -(0.5 * n - ys.sum) / (n + 1.0) // −G/(H+λ), eta=1
    assert(math.abs(b.predict(xs(0)) - (0.5 + expect)) < 1e-6)
  }

  test("min_child_weight blocks splits that would isolate few rows") {
    val (xs, ys) = fixture(60, 2)
    val p = GbtParams(numRound = 1, maxDepth = 6, eta = 0.5, gamma = 0.0,
      subsample = 1.0, minChildWeight = 25.0)
    val b = GbtTrainer.train(toDf(xs, ys), "y", (0 until 2).map(i => s"f$i"), p)
    // every split must leave ≥ 25 rows (h=1 each) on both sides: with 60
    // rows that allows at most one level of splitting
    assert(b.trees.head.feat.count(_ >= 0) <= 3)
  }

  test("early stopping truncates to the best iteration on the eval set") {
    val (xs, ys) = fixture(300, 4)
    val all = (xs.zip(ys)).zipWithIndex
    val (tr, ev) = all.partition(_._2 % 4 != 0)
    val (xsT, ysT) = (tr.map(_._1._1), tr.map(_._1._2))
    val (xsE, ysE) = (ev.map(_._1._1), ev.map(_._1._2))
    // eta large → overfits quickly → eval MAE turns up → stop early
    val p = GbtParams(numRound = 40, maxDepth = 5, eta = 0.9, gamma = 0.0,
      subsample = 1.0, earlyStoppingRounds = 3)
    val b = GbtTrainer.train(toDf(xsT, ysT), "y", (0 until 4).map(i => s"f$i"), p,
      evalDf = Some(toDf(xsE, ysE)))
    assert(b.trees.length < 40, s"expected early stop, got ${b.trees.length} trees")
    // the kept prefix must be the eval-MAE argmin over any longer run
    val pFull = p.copy(numRound = b.trees.length + 5, earlyStoppingRounds = 0)
    val bFull = GbtTrainer.train(toDf(xsT, ysT), "y", (0 until 4).map(i => s"f$i"), pFull)
    def mae(bb: XgbBooster, upto: Int): Double = {
      xsE.indices.map { i =>
        val pred = bb.baseScore.toDouble +
          bb.trees.take(upto).map { t =>
            var n = 0
            while (t.left(n) != -1) {
              val v = xsE(i)(t.feat(n))
              n = if (v.isNaN) { if (t.defaultLeft(n)) t.left(n) else t.right(n) }
                  else if (v.toFloat < t.cond(n)) t.left(n) else t.right(n)
            }
            t.cond(n).toDouble
          }.sum
        math.abs(pred - ysE(i))
      }.sum / xsE.length
    }
    val maes = (1 to bFull.trees.length).map(k => mae(bFull, k))
    assert(b.trees.length == maes.indexOf(maes.min) + 1,
      s"kept ${b.trees.length}, eval argmin ${maes.indexOf(maes.min) + 1}")
  }

  test("property: random data/params produce identical trees to single-node") {
    val rnd = new scala.util.Random(4242L)
    for (trial <- 0 until 5) {
      val n = 80 + rnd.nextInt(220)
      val nf = 2 + rnd.nextInt(4)
      val missing = if (rnd.nextBoolean()) 7 + rnd.nextInt(10) else 0
      val (xs, ys) = fixture(n, nf, missingEvery = missing)
      val logistic = trial % 2 == 1 // alternate objectives across trials
      val p = GbtParams(
        numRound = 1 + rnd.nextInt(4),
        maxDepth = 2 + rnd.nextInt(3),
        eta = 0.1 + rnd.nextDouble() * 0.5,
        gamma = rnd.nextDouble() * (if (logistic) 0.01 else 1.0),
        minChildWeight = 1.0 + (if (logistic) 0 else rnd.nextInt(5)),
        subsample = 1.0,
        objective = if (logistic) "binary:logistic" else "reg:squarederror")
      val ysObj = if (logistic) ys.map(y => if (y > ys.sum / ys.length) 1.0 else 0.0) else ys
      val booster = GbtTrainer.train(toDf(xs, ysObj), "y", (0 until nf).map(i => s"f$i"), p)
      val (trees, _) = SingleNode.train(xs, ysObj, p)
      withClue(s"trial $trial: n=$n nf=$nf missing=$missing p=$p") {
        assertSameTrees(booster, trees)
      }
    }
  }

  test("subsample < 1 is deterministic across runs and changes the fit") {
    val (xs, ys) = fixture(400, 3)
    val feats = (0 until 3).map(i => s"f$i")
    val p = GbtParams(numRound = 3, maxDepth = 3, eta = 0.3, gamma = 0.1, subsample = 0.7)
    val b1 = GbtTrainer.train(toDf(xs, ys), "y", feats, p)
    val b2 = GbtTrainer.train(toDf(xs, ys), "y", feats, p)
    def dump(b: XgbBooster) = b.trees.toSeq.map(SingleNode.flatXgb(_))
    assert(dump(b1) == dump(b2), "hash subsampling must be run-deterministic")
    val bFull = GbtTrainer.train(toDf(xs, ys), "y", feats, p.copy(subsample = 1.0))
    assert(dump(b1) != dump(bFull), "subsample should actually drop rows")
  }

  /** Train/eval split of `fixture`: every fourth row is held out. */
  private def split(xs: Array[Array[Double]], ys: Array[Double]) = {
    val (tr, ev) = xs.indices.partition(_ % 4 != 0)
    ((tr.map(xs(_)).toArray, tr.map(ys(_)).toArray), (ev.map(xs(_)).toArray, ev.map(ys(_)).toArray))
  }

  test("partition count and AQE do not change the booster (dyadic data)") {
    // integer features and labels: gradients are the 0.5 base plus
    // float32 leaf weights minus an integer, dyadic rationals short
    // enough that every histogram and metric sum over these 400 rows is
    // exact in double, so any difference is an order dependence in the
    // trainer itself
    val (xs, ys) = fixture(400, 4, missingEvery = 9)
    val ((xsT, ysT), (xsE, ysE)) = split(xs, ys)
    val feats = (0 until 4).map(i => s"f$i")
    val p = GbtParams(numRound = 4, maxDepth = 4, eta = 0.5, gamma = 0.1,
      subsample = 0.8, earlyStoppingRounds = 2)
    def dump(b: XgbBooster) = b.trees.toSeq.map(t =>
      (t.feat.toSeq, t.cond.toSeq, t.left.toSeq, t.right.toSeq, t.defaultLeft.toSeq))
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val runs = try for (aqe <- Seq("true", "false"); parts <- Seq(1, 3, 7)) yield {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      s"aqe=$aqe parts=$parts" -> dump(GbtTrainer.train(toDf(xsT, ysT, parts), "y", feats, p,
        evalDf = Some(toDf(xsE, ysE, parts))))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    assert(runs.head._2.nonEmpty && runs.head._2.exists(_._1.length > 1))
    runs.tail.foreach { case (name, trees) =>
      assert(trees == runs.head._2, s"$name differs from ${runs.head._1}")
    }
  }

  test("job-count guard: at most 3 jobs for the cuts and maxDepth + 2 per round") {
    val (xs, ys) = fixture(400, 4, missingEvery = 9)
    val ((xsT, ysT), (xsE, ysE)) = split(xs, ys)
    val p = GbtParams(numRound = 3, maxDepth = 3, eta = 0.3, gamma = 0.0,
      subsample = 0.8, earlyStoppingRounds = 3)
    val (trainDf, evalDf) = (localDf(xsT, ysT), localDf(xsE, ysE))
    val (booster, window, _) = jobsBetweenMarks(
      GbtTrainer.train(trainDf, "y", (0 until 4).map(i => s"f$i"), p, Some(evalDf)))
    val jobs = window.length
    assert(booster.trees.exists(_.feat.length == (1 << (p.maxDepth + 1)) - 1),
      "the fixture should grow a full-depth tree")
    assert(jobs <= 3 + p.numRound * (p.maxDepth + 2), s"$jobs jobs")
  }
}

package graft.impact

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** X9 TRAIN-HERE, from scratch: the Python reference retrains an
  * XGBoost regressor on every forecast run
  * (forecast_process.py:491-517 — `xgb.XGBRegressor(base_score=0.5,
  * subsample=0.8, gamma=1, max_depth=8, min_child_weight=1,
  * n_estimators=100, learning_rate=0.025, tree_method="hist",
  * grow_policy="depthwise", objective="reg:squarederror",
  * early_stopping_rounds=10)`). XGBoost4J is not on this classpath, so
  * this is a ground-up re-implementation of the `hist` algorithm with
  * xgboost's exact split mathematics, shaped for Spark:
  *
  *  - **objective reg:squarederror**: per-row gradient g = pred − y,
  *    hessian h = 1.
  *  - **histogram split finding**: features are quantized once into at
  *    most `maxBin` bins; per tree level, ONE Spark job (a collect, no
  *    shuffle) returns each partition's nonzero (Σg, Σh) slots per
  *    (node, feature, bin), and the driver adds them from 0.0 in
  *    partition-index order — a fixed summation order for a given
  *    partitioning. The driver's cost per level is O(partitions ×
  *    nonzero slots), bounded by rows × features; the reduction is the
  *    one xgboost's own AllReduce histograms do. A boosting round runs
  *    at most maxDepth + 2 jobs: one per level plus the early-stopping
  *    metric; the prediction update rides on the next round's first pass.
  *  - **gain** (xgboost param.h CalcSplitGain, λ = reg_lambda = 1):
  *    ½·[G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ)] − γ, split accepted
  *    iff gain > 0 and both children satisfy min_child_weight.
  *  - **missing values** are histogrammed separately per feature and the
  *    default direction is learned by trying both assignments, exactly
  *    xgboost's two-direction enumeration.
  *  - **leaf weight** −G/(H+λ) scaled by eta; leaves store the scaled
  *    value, matching the serialized-model convention [[XgbBooster]]
  *    reads back, so trained models flow through the identical
  *    float32-compare / double-accumulate scoring path that x24
  *    oracle-certifies against the reference's own artifact.
  *  - **early stopping** mirrors the reference's fit call: metric MAE on
  *    the LAST eval set, stop after `earlyStoppingRounds` rounds without
  *    improvement, truncate to the best iteration.
  *
  * Documented deviations from native xgboost (both immaterial to the
  * reference's use and both deterministic, which native xgboost's
  * PRNG-driven row sampling is not across thread counts):
  *  - bin cuts come from exact distinct values when a feature has at
  *    most `maxBin` distinct values (same as xgboost), else from evenly
  *    spaced ranks of a deterministic hash-sample rather than the
  *    weighted quantile sketch;
  *  - `subsample` < 1 selects rows by a 64-bit hash of (row fingerprint,
  *    round) rather than xgboost's Mersenne-Twister Bernoulli draw.
  *
  * Note the reference passes both `eta=0.05` and `learning_rate=0.025`;
  * the aliases resolve last-one-wins in xgboost's param handling, so the
  * effective shrinkage is 0.025 — [[GbtParams]] defaults follow suit.
  */
final case class GbtParams(
    numRound: Int = 100,
    maxDepth: Int = 8,
    eta: Double = 0.025,
    lambda: Double = 1.0,
    gamma: Double = 1.0,
    minChildWeight: Double = 1.0,
    subsample: Double = 0.8,
    baseScore: Float = 0.5f,
    maxBin: Int = 256,
    seed: Long = 42L,
    earlyStoppingRounds: Int = 0,
    /** rows hash-sampled for quantile cuts when a feature exceeds maxBin
      * distinct values; each partition ships at most this many rows per
      * feature, so driver memory is bounded at any input scale. */
    sketchRows: Int = 65536,
    /** "reg:squarederror" (g = pred−y, h = 1) or "binary:logistic"
      * (g = σ(margin)−y, h = σ(1−σ)) — the two objectives the reference
      * trains (xgb_model_v1.R:230,267). For logistic, `baseScore` is a
      * probability and the booster's raw output is a MARGIN — apply
      * [[GbtTrainer.sigmoid]] for probabilities, exactly like
      * xgboost's prob→margin base_score handling. */
    objective: String = "reg:squarederror") {
  require(objective == "reg:squarederror" || objective == "binary:logistic",
    s"unsupported objective $objective")
  /** Initial raw prediction: the margin-scale base score. */
  def baseMargin: Double =
    if (objective == "binary:logistic") {
      val b = baseScore.toDouble
      require(b > 0.0 && b < 1.0, "binary:logistic needs baseScore in (0,1)")
      math.log(b / (1.0 - b))
    } else baseScore.toDouble
}

object GbtTrainer {

  /** A growing tree node; `leftBins(f) ≤ splitBin` routes left. */
  private final case class Node(
      feat: Int, splitBin: Int, cond: Float, defaultLeft: Boolean,
      left: Int, right: Int, leaf: Double, isLeaf: Boolean)

  private def leafNode(w: Double): Node =
    Node(-1, -1, 0f, defaultLeft = false, -1, -1, w, isLeaf = true)

  /** One training row after quantization: bin index per feature
    * (−1 = missing), label, running prediction, and a deterministic
    * fingerprint driving per-round subsampling. */
  private final case class Binned(
      bins: Array[Int], label: Double, pred: Double, fp: Long)

  // ---------------------------------------------------------------- cuts

  /** Row count of one distinct value and its sampling hash. */
  private final class ValueRows(val hash: Long, var rows: Long) extends Serializable

  private val byHashThenValue: Ordering[(Long, Double)] =
    Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering)

  /** Sorts `rows` by (hash, value) and keeps the first `k`. */
  private def keepSmallest(rows: ArrayBuffer[(Long, Double)], k: Int): ArrayBuffer[(Long, Double)] = {
    rows.sortInPlace()(byHashThenValue)
    if (rows.length > k) rows.dropRightInPlace(rows.length - k)
    rows
  }

  /** Per-feature ascending cut values (float32 like xgboost's
    * HistogramCuts): bin(v) = #{cuts ≤ float32(v)}, so the candidate
    * split "bins ≤ b left" is exactly "v < cuts(b)" — the comparison
    * [[XgbBooster.predict]] replays at scoring time.
    *
    * At most three jobs: one `approx_count_distinct` aggregate over all
    * features (two jobs when AQE stages its exchange), then one pass
    * that keeps, per partition, every distinct value of a
    * low-cardinality feature with its row count and hash, and the
    * `sketchRows` smallest (hash, value) rows of any other feature. */
  def computeCuts(df: DataFrame, features: Seq[String], params: GbtParams): Array[Array[Float]] = {
    // order-independent cardinality probe, so a near-continuous feature
    // never pulls an unbounded distinct set onto the driver
    val approx = df.select(features.map(f => approx_count_distinct(col(f))): _*).head()
    val lowCard = features.indices.map(approx.getLong(_) <= params.maxBin * 2L).toArray
    val k = params.sketchRows
    val parts = df.select(features.flatMap { f =>
        val v = col(f).cast("double")
        Seq(v, abs(xxhash64(v, lit(params.seed))))
      }: _*).rdd.mapPartitions { it =>
        val values = lowCard.map(_ => scala.collection.mutable.HashMap.empty[Double, ValueRows])
        val sample = lowCard.map(_ => ArrayBuffer.empty[(Long, Double)])
        it.foreach { row =>
          var i = 0
          while (i < lowCard.length) {
            if (!row.isNullAt(2 * i) && !row.getDouble(2 * i).isNaN) {
              val v = row.getDouble(2 * i)
              if (lowCard(i)) values(i).getOrElseUpdate(v, new ValueRows(row.getLong(2 * i + 1), 0L)).rows += 1
              else {
                sample(i) += ((row.getLong(2 * i + 1), v))
                if (sample(i).length >= 2 * k) keepSmallest(sample(i), k)
              }
            }
            i += 1
          }
        }
        Iterator.single((values, sample.map(keepSmallest(_, k))))
      }.collect()
    features.indices.map { i =>
      if (lowCard(i)) {
        val values = scala.collection.mutable.HashMap.empty[Double, ValueRows]
        parts.foreach(_._1(i).foreach { case (v, c) =>
          values.getOrElseUpdate(v, new ValueRows(c.hash, 0L)).rows += c.rows })
        // SQL's distinct folds −0.0 into 0.0
        val distinct = values.keys.toArray.map(v => if (v == 0.0) 0f else v.toFloat).distinct.sorted
        if (distinct.length <= params.maxBin) distinct.drop(1)
        else {
          // the sketchRows smallest-hash rows, counted out of the value counts
          var taken = 0L
          quantileCuts(values.toSeq.map { case (v, c) => ((c.hash, v), c.rows) }
            .sortBy(_._1)(byHashThenValue)
            .takeWhile { case (_, rows) => val keep = taken < k; taken += rows; keep }
            .map(_._1._2), params)
        }
      } else quantileCuts(keepSmallest(ArrayBuffer.from(parts.iterator.flatMap(_._2(i))), k).map(_._2).toSeq, params)
    }.toArray
  }

  /** Evenly spaced ranks of a deterministic hash-sample (deviation note
    * in the object Scaladoc; xgboost uses a weighted sketch here). */
  private def quantileCuts(sampledRows: Seq[Double], params: GbtParams): Array[Float] = {
    val sampled = sampledRows.map(_.toFloat).distinct.sorted.toArray
    if (sampled.length <= 1) return Array.empty
    val n = math.min(params.maxBin - 1, sampled.length - 1)
    (1 to n).map(i => sampled((i.toLong * (sampled.length - 1) / n).toInt)).distinct.toArray
  }

  private def binOf(v: Double, cuts: Array[Float]): Int = {
    if (java.lang.Double.isNaN(v)) return -1
    val vf = v.toFloat
    // upper_bound: number of cuts ≤ vf
    var lo = 0; var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts(mid) <= vf) lo = mid + 1 else hi = mid
    }
    lo
  }

  // ------------------------------------------------------------- driver

  /** Walk the partial tree with bin indices; returns the node id the row
    * currently sits in, or −1 once it reaches a finished leaf. */
  private def nodeOf(tree: Array[Node], bins: Array[Int]): Int = {
    var n = 0
    while (!tree(n).isLeaf && tree(n).left != -1) {
      val nd = tree(n)
      val b = bins(nd.feat)
      n = if (b == -1) { if (nd.defaultLeft) nd.left else nd.right }
          else if (b <= nd.splitBin) nd.left else nd.right
    }
    if (tree(n).isLeaf) -1 else n
  }
  private final case class Best(
      gain: Double, feat: Int, bin: Int, defaultLeft: Boolean,
      gl: Double, hl: Double, gr: Double, hr: Double)

  /** xgboost's two-direction split enumeration over one node's
    * histograms. `g`/`h` are laid out [feat][bin+1] with slot 0 = the
    * missing bin. Tie-break is deterministic: higher gain, then lower
    * feature, then lower bin, then missing→right. */
  private def bestSplit(g: Array[Array[Double]], h: Array[Array[Double]],
                        cuts: Array[Array[Float]], p: GbtParams): Option[Best] = {
    val gTot = g(0).sum
    val hTot = h(0).sum
    val parent = gTot * gTot / (hTot + p.lambda)
    var best: Best = null
    var f = 0
    while (f < g.length) {
      val gm = g(f)(0); val hm = h(f)(0)
      var gl = 0.0; var hl = 0.0
      var b = 0
      while (b < cuts(f).length) {
        gl += g(f)(b + 1); hl += h(f)(b + 1)
        // missing → right
        var cl = gl; var chl = hl
        var cr = gTot - gl; var chr = hTot - hl
        if (chl >= p.minChildWeight && chr >= p.minChildWeight) {
          val gain = 0.5 * (cl * cl / (chl + p.lambda) + cr * cr / (chr + p.lambda) - parent) - p.gamma
          if (gain > 0 && (best == null || gain > best.gain))
            best = Best(gain, f, b, defaultLeft = false, cl, chl, cr, chr)
        }
        // missing → left
        cl = gl + gm; chl = hl + hm
        cr = gTot - gl - gm; chr = hTot - hl - hm
        if (chl >= p.minChildWeight && chr >= p.minChildWeight) {
          val gain = 0.5 * (cl * cl / (chl + p.lambda) + cr * cr / (chr + p.lambda) - parent) - p.gamma
          if (gain > 0 && (best == null || gain > best.gain))
            best = Best(gain, f, b, defaultLeft = true, cl, chl, cr, chr)
        }
        b += 1
      }
      f += 1
    }
    Option(best)
  }

  private def leafWeight(gSum: Double, hSum: Double, p: GbtParams): Double =
    -gSum / (hSum + p.lambda) * p.eta

  // ------------------------------------------------------------ training

  /** Train on `df` (feature columns castable to double, NaN/null =
    * missing; label non-null double). Returns a booster scoreable by
    * [[XgbBooster.predict]] / the `xgb_score` codegen expression. */
  def train(df: DataFrame, labelCol: String, features: Seq[String],
            params: GbtParams = GbtParams(),
            evalDf: Option[DataFrame] = None): XgbBooster = {
    val cuts = computeCuts(df, features, params)
    val trainRows = binRows(df, labelCol, features, cuts, params)
    // the eval rows serve early stopping only
    val evalRows = evalDf.filter(_ => params.earlyStoppingRounds > 0)
      .map(binRows(_, labelCol, features, cuts, params))
    trainBinned(trainRows, evalRows, cuts, features, params)
  }

  /** Quantized rows, persisted lazily: the first job that reads them
    * (round 0's first histogram pass) materializes the cache. */
  private def binRows(df: DataFrame, labelCol: String, features: Seq[String],
                      cuts: Array[Array[Float]], params: GbtParams): RDD[Binned] = {
    val base = params.baseMargin
    val nf = features.length
    df.select(col(labelCol).cast("double") +: features.map(f => col(f).cast("double")): _*)
      .rdd.map { row =>
        val bins = new Array[Int](nf)
        var fp = 0xcbf29ce484222325L // FNV-1a over the quantized row
        var i = 0
        while (i < nf) {
          val v = if (row.isNullAt(i + 1)) Double.NaN else row.getDouble(i + 1)
          bins(i) = binOf(v, cuts(i))
          fp = (fp ^ bins(i)) * 0x100000001b3L
          i += 1
        }
        val y = row.getDouble(0)
        fp = (fp ^ java.lang.Double.doubleToLongBits(y)) * 0x100000001b3L
        Binned(bins, y, base, fp)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Mix a row fingerprint with the round number → [0,1) uniform; the
    * deterministic stand-in for xgboost's Bernoulli row sampling. */
  private def sampleKeep(fp: Long, round: Int, p: GbtParams): Boolean = {
    if (p.subsample >= 1.0) return true
    var x = fp ^ (p.seed + 0x9e3779b97f4a7c15L * (round + 1))
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31
    ((x >>> 11).toDouble / (1L << 53).toDouble) < p.subsample
  }

  private def trainBinned(rows0: RDD[Binned], eval0: Option[RDD[Binned]],
                          cuts: Array[Array[Float]], features: Seq[String],
                          p: GbtParams): XgbBooster = {
    val logistic = p.objective == "binary:logistic"
    val nf = features.length
    val nBins = cuts.map(_.length + 2) // [missing][bin 0..len]
    val slotOf = new Array[Int](nf + 1) // prefix offsets into the flat histogram
    var i = 0
    while (i < nf) { slotOf(i + 1) = slotOf(i) + nBins(i); i += 1 }
    val slots = slotOf(nf)

    var rows = rows0
    var evalRows = eval0
    // a predecessor stays cached until the first job that reads its
    // successor has materialized it
    var staleRows: Option[RDD[Binned]] = None
    val trees = ArrayBuffer.empty[java.util.ArrayList[Node]]
    var bestMae = Double.MaxValue
    var bestRound = -1
    var round = 0
    var stop = false

    try while (round < p.numRound && !stop) {
      val nodes = new java.util.ArrayList[Node]()
      nodes.add(Node(-1, -1, 0f, defaultLeft = false, -1, -1, 0.0, isLeaf = false))
      var frontier: Seq[Int] = Seq(0)

      var depth = 0
      while (depth <= p.maxDepth && frontier.nonEmpty) {
        val tree = nodes.toArray(new Array[Node](0))
        val frontierOf = Array.fill(tree.length)(-1)
        frontier.zipWithIndex.foreach { case (n, fi) => frontierOf(n) = fi }
        val width = frontier.size * slots
        val roundNow = round
        val atMaxDepth = depth == p.maxDepth

        // ONE job: each partition's dense histograms over the frontier,
        // shipped as its nonzero (slot, g, h) triples
        val parts = rows.mapPartitions { it =>
          val g = new Array[Double](width)
          val h = new Array[Double](width)
          it.foreach { r =>
            if (sampleKeep(r.fp, roundNow, p)) {
              val node = nodeOf(tree, r.bins)
              if (node >= 0 && frontierOf(node) >= 0) {
                val (grad, hess) =
                  if (logistic) {
                    val pr = 1.0 / (1.0 + math.exp(-r.pred))
                    (pr - r.label, pr * (1.0 - pr))
                  } else (r.pred - r.label, 1.0)
                val base = frontierOf(node) * slots
                var f = 0
                while (f < nf) {
                  val slot = base + slotOf(f) + (r.bins(f) + 1)
                  g(slot) += grad; h(slot) += hess
                  f += 1
                }
              }
            }
          }
          val nz = (0 until width).filter(h(_) > 0).toArray
          Iterator.single((nz, nz.map(g(_)), nz.map(h(_))))
        }.collect()
        staleRows.foreach(_.unpersist(blocking = false))
        staleRows = None

        // partitions added from 0.0 in partition-index order
        val g = new Array[Double](width)
        val h = new Array[Double](width)
        parts.foreach { case (nz, gs, hs) =>
          var j = 0
          while (j < nz.length) { g(nz(j)) += gs(j); h(nz(j)) += hs(j); j += 1 }
        }

        val next = ArrayBuffer.empty[Int]
        frontier.zipWithIndex.foreach { case (nodeId, fi) =>
          def slice(a: Array[Double]) = Array.tabulate(nf)(f =>
            java.util.Arrays.copyOfRange(a, fi * slots + slotOf(f), fi * slots + slotOf(f + 1)))
          val (gn, hn) = (slice(g), slice(h))
          val gTot = gn(0).sum; val hTot = hn(0).sum
          val split = if (atMaxDepth || hTot == 0.0) None else bestSplit(gn, hn, cuts, p)
          split match {
            case Some(b) =>
              val l = nodes.size()
              nodes.add(Node(-1, -1, 0f, defaultLeft = false, -1, -1, leafWeight(b.gl, b.hl, p), isLeaf = false))
              val r = nodes.size()
              nodes.add(Node(-1, -1, 0f, defaultLeft = false, -1, -1, leafWeight(b.gr, b.hr, p), isLeaf = false))
              nodes.set(nodeId, Node(b.feat, b.bin, cuts(b.feat)(b.bin), b.defaultLeft, l, r, 0.0, isLeaf = false))
              next += l; next += r
            case None =>
              val nd = nodes.get(nodeId)
              // a node that received no rows this round inherits weight 0
              val w = if (hTot == 0.0) nd.leaf else leafWeight(gTot, hTot, p)
              nodes.set(nodeId, leafNode(w))
          }
        }
        frontier = next.toSeq
        depth += 1
      }

      trees += nodes
      val tree = nodes.toArray(new Array[Node](0))
      staleRows = Some(rows)
      rows = addTree(rows, tree, round)

      evalRows match {
        case Some(e) =>
          evalRows = Some(addTree(e, tree, round))
          val metric = try evalMetric(evalRows.get, logistic) finally e.unpersist(blocking = false)
          if (metric < bestMae) { bestMae = metric; bestRound = round }
          else if (round - bestRound >= p.earlyStoppingRounds) stop = true
        case None => bestRound = round
      }
      round += 1
    } finally {
      staleRows.foreach(_.unpersist(blocking = false))
      rows.unpersist(blocking = false)
      evalRows.foreach(_.unpersist(blocking = false))
    }
    toBooster(trees.take(bestRound + 1).toSeq, features, p)
  }

  /** `rows` with the finished tree's float32 leaf weight added to each
    * prediction, persisted lazily so the next job that reads it pays
    * for the update. */
  private def addTree(rows: RDD[Binned], tree: Array[Node], round: Int): RDD[Binned] = {
    val updated = rows.map { r =>
      var n = 0
      while (!tree(n).isLeaf) {
        val x = tree(n)
        val b = r.bins(x.feat)
        n = if (b == -1) { if (x.defaultLeft) x.left else x.right }
            else if (b <= x.splitBin) x.left else x.right
      }
      // add the float32-truncated weight — exactly what the packed
      // booster will score — so training-time predictions (and any
      // early-stopping decision) match the final model bitwise
      r.copy(pred = r.pred + tree(n).leaf.toFloat.toDouble)
    }
    // cut lineage periodically so 100 rounds don't stack 100 map stages
    if ((round + 1) % 16 == 0) updated.localCheckpoint()
    else updated.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The early-stopping metric in one job — squared error: MAE on raw
    * predictions; logistic: logloss on eps-clamped probabilities
    * (xgboost's default metric). Spark's `avg` arithmetic with a fixed
    * order: each partition sums from 0.0 in row order, the driver adds
    * the partition sums in partition-index order, and exp/log are
    * StrictMath like Spark's `exp`/`log`. */
  private def evalMetric(rows: RDD[Binned], logistic: Boolean): Double = {
    val parts = rows.mapPartitions { it =>
      var sum = 0.0
      var n = 0L
      it.foreach { r =>
        sum += (
          if (logistic) {
            val pr = math.max(math.min(1.0 / (1.0 + StrictMath.exp(-r.pred)), 1.0 - 1e-16), 1e-16)
            -(r.label * StrictMath.log(pr) + (1.0 - r.label) * StrictMath.log(1.0 - pr))
          } else math.abs(r.pred - r.label))
        n += 1
      }
      Iterator.single((sum, n))
    }.collect()
    var sum = 0.0
    var n = 0L
    parts.foreach { case (s, c) => sum += s; n += c }
    sum / n.toDouble
  }
  /** Pack driver-side nodes into the xgboost array layout [[XgbBooster]]
    * scores (leaves carry their value in `cond`; left == −1 marks a
    * leaf), float32-truncating leaf weights exactly like the serialized
    * models the reference ships. */
  private def toBooster(trees: Seq[java.util.ArrayList[Node]], features: Seq[String],
                        p: GbtParams): XgbBooster = {
    val packed = trees.map { nodes =>
      val n = nodes.size()
      val feat = new Array[Int](n); val cond = new Array[Float](n)
      val left = new Array[Int](n); val right = new Array[Int](n)
      val dflt = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        val nd = nodes.get(i)
        if (nd.isLeaf) { feat(i) = 0; cond(i) = nd.leaf.toFloat; left(i) = -1; right(i) = -1; dflt(i) = false }
        else { feat(i) = nd.feat; cond(i) = nd.cond; left(i) = nd.left; right(i) = nd.right; dflt(i) = nd.defaultLeft }
        i += 1
      }
      XgbTree(feat, cond, left, right, dflt)
    }.toArray
    // margin-scale base: for binary:logistic the booster's raw output
    // is a margin (apply [[sigmoid]] for probabilities), mirroring
    // xgboost's ProbToMargin base_score handling
    new XgbBooster(p.baseMargin.toFloat, features.length, packed, features,
      p.objective)
  }

  /** Margin → probability for binary:logistic boosters: the sigmoid
    * of the booster's raw score. */
  def sigmoid(margin: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit(1.0) /
      (org.apache.spark.sql.functions.lit(1.0) +
        org.apache.spark.sql.functions.exp(org.apache.spark.sql.functions.negate(margin)))
}

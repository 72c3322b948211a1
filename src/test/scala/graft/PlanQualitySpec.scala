package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.operators.ProbeQueries
import graft.sources.Tables

/** Plan-quality gates (SURVEY.md §4): these assert the physical plans
  * have the shape that survives a 100× scale-up — filters reaching the
  * parquet scan, column pruning, broadcast joins for dimension tables,
  * whole-stage codegen over the hot paths. A correctness-green query
  * with the wrong plan fails here.
  */
class PlanQualitySpec extends SparkTestBase {

  private def executed(name: String): SparkPlan = {
    val df = ProbeQueries.queryMap(name)(spark, sfDir)
    df.queryExecution.executedPlan
  }
  private def planString(name: String): String = executed(name).toString

  test("q01: filters are pushed to the parquet scan and columns pruned") {
    val p = planString("q01_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("IsNotNull(l_quantity)") || p.contains("GreaterThan(l_quantity"))
    // scan must not read the full 11-column lineitem schema
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 4, s"scan reads too much: $readSchema")
  }

  test("q02: dimension join is broadcast, not shuffled") {
    val p = planString("q02_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q04: aggregation is partial (map-side combine) then final") {
    val p = planString("q04_hash_agg")
    assert(p.contains("HashAggregate"))
    assert("partial_sum|partial_count".r.findFirstIn(p).isDefined)
  }

  test("q13: densify broadcasts the small dimensions (region x priorities)") {
    // the orders⋈customer fact join may legitimately shuffle; the
    // densify cross product and the nation dim must broadcast
    val p = planString("q13_densify")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q27: cosine top-k broadcasts the query vector and take-ordered-limits") {
    val p = planString("q27_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("hot probe paths run inside whole-stage codegen") {
    // codegen stages print as "*(n) Op" in the executed plan string
    for (name <- Seq("q01_filter_project", "q04_hash_agg", "d01_stat_holland",
        "q15_haversine", "q16_powerlaw", "q17_piecewise")) {
      val df = ProbeQueries.queryMap(name)(spark, sfDir)
      df.collect()   // AQE finalizes (and codegen-stages) the plan on execution
      val p = df.queryExecution.executedPlan.toString
      assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, s"$name has no codegen span:\n$p")
    }
  }

  test("windfield: bbox prune join broadcasts the node side and streams the grid") {
    import spark.implicits._
    import java.sql.Timestamp
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val tracks = graft.tracks.TrackPrep.withTimeStep(Seq(
      ("S", 1, Timestamp.valueOf("2024-01-01 00:00:00"), 14.0, 125.0),
      ("S", 1, Timestamp.valueOf("2024-01-01 06:00:00"), 14.5, 124.5),
      ("S", 2, Timestamp.valueOf("2024-01-01 00:00:00"), 13.5, 125.5),
      ("S", 2, Timestamp.valueOf("2024-01-01 06:00:00"), 14.0, 125.0))
      .toDF("storm_id", "ens_id", "time", "lat", "lon"))
      .withColumn("central_pressure", lit(960.0))
      .withColumn("environmental_pressure", lit(1010.0))
      .withColumn("radius_max_wind", lit(40.0))
    val cents = graft.hazard.CentroidGrid.generate(spark, 122, 12, 126, 16, 0.5)
    val df = graft.hazard.Windfield.intensity(graft.hazard.Windfield.compute(tracks, cents))
    df.collect()   // AQE finalizes the plan on execution
    val plan = df.queryExecution.executedPlan

    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    // shuffles on the paths from the root (the intensity aggregate) down
    // to the box join; None when no box join lies below `p`
    def shufflesAboveBoxJoin(p: SparkPlan): Option[Seq[ShuffleExchangeExec]] = p match {
      case _: BroadcastNestedLoopJoinExec => Some(Nil)
      case _ =>
        val below = kids(p).flatMap(shufflesAboveBoxJoin)
        if (below.isEmpty) None
        else Some(below.flatten ++ Some(p).collect { case e: ShuffleExchangeExec => e })
    }
    def names(p: SparkPlan): Set[String] = p.output.map(_.name).toSet

    val boxJoins = all(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(boxJoins.size == 1, plan.toString)
    val box = boxJoins.head
    val (build, streamed) = if (box.buildSide == BuildRight) (box.right, box.left) else (box.left, box.right)
    assert(Set("storm_id", "ens_id", "lat", "lon").subsetOf(names(build)) &&
      !names(build).contains("centroid_id"), s"the node table must be the build side:\n$plan")
    assert(names(streamed).contains("centroid_id"), s"the centroid grid must stream:\n$plan")
    val trackKeyed = shufflesAboveBoxJoin(plan).get.filter(_.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name } == Seq("storm_id", "ens_id")
      case _ => false
    })
    assert(trackKeyed.isEmpty, s"pair stage must not be partitioned per track:\n$plan")
    // the equi-join back to nodes must not be a cartesian product
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("tumbling window agg keeps partial aggregation before the shuffle") {
    val p = planString("q20_tumbling")
    assert(p.contains("HashAggregate") && "partial_max".r.findFirstIn(p).isDefined)
  }

  test("x16 contamination plan: eval side broadcasts, train shingles never shuffle") {
    val p = planString("x16_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination must join on the hash key:\n$p")
    // the dimension-sized eval side must reach the join as a broadcast
    // (map-side join): the train shingle relation is the 100 TB side
    // and shuffling it would dominate the scan
    assert(p.contains("BroadcastHashJoin"),
      s"eval side must broadcast into the join:\n$p")
  }

  test("x25 pruned contamination: hot-shingle prune is a broadcast anti-join") {
    val p = planString("x25_contamination_pruned")
    // the skew guard must not shuffle the big exploded side a second
    // time: the hot-hash set broadcasts into a LeftAnti hash join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"df-threshold prune must broadcast the hot set:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x35 bloom contamination: prefilter sits below the join, join stays equi") {
    val p = planString("x35_bloom_contamination")
    // the bloom probe must run as a Filter on the train side BEFORE
    // the shuffle/join — a map-side prune, not a post-join residual
    assert(p.contains("bloom_might_contain"),
      s"bloom prefilter missing from the plan:\n$p")
    val joinAt = p.indexOf("Join")
    val bloomAt = p.indexOf("bloom_might_contain")
    assert(joinAt >= 0 && bloomAt > joinAt,
      "bloom filter must appear on the input side (below the join) in the plan tree")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x42 contamination-from-index: train side never re-shingles") {
    val p = planString("x42_contamination_index")
    // corpus text is scanned exactly ONCE — the eval side (the shingle
    // kernel and its pushdown copies all live on that branch); the
    // train side must be a FileScan of the persisted bucketed index,
    // not a recomputation from documents
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      s"only the eval side may read corpus text:\n$p")
    assert(p.contains("Bucketed: true"),
      s"index scan must carry its bucketing:\n$p")
  }

  test("x46 decontaminate-from-index: cleaning pass consumes the persisted index") {
    val p = planString("x46_decontaminate")
    // train text is never re-shingled: corpus text scans are the eval
    // shingle branch plus the returned-rows branch (2), and the train
    // shingle relation arrives as the bucketed index table
    assert("documents\\.parquet".r.findAllIn(p).size == 2,
      s"decontaminate must not re-shingle train from text:\n$p")
    assert(p.contains("Bucketed: true"),
      s"index scan must carry its bucketing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x49 both-sides-bucketed contamination: no text scan, no kernel, co-located join") {
    val p = planString("x49_contamination_bucketed")
    // the sweep reads ONLY the two persisted indexes — corpus text is
    // never touched and no shingle kernel runs at query time
    assert(!p.contains("documents.parquet"),
      s"fully at-rest sweep must not read corpus text:\n$p")
    assert(!p.toLowerCase.contains("shinglehashes"),
      s"no shingle kernel may run at query time:\n$p")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both index scans must carry their bucketing:\n$p")
    // the only shuffles are the matched-pair aggregation and the
    // probe's orderBy — the join itself is broadcast or bucket-zipped
    assert("Exchange (hash|range)partitioning".r.findAllIn(p).size <= 2,
      s"join must not add an exchange below it:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x43 lm score: counts join keyed, only the 1-row vocab rides nested-loop") {
    val p = planString("x43_lm_score")
    // the bigram/context joins are keyed at any scale; the single
    // permitted nested-loop is the broadcast of the 1-row vocab count
    assert(!p.contains("CartesianProduct"), s"lm score must stay keyed:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row vocab may broadcast nested-loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"counts joins must be hash/merge joins:\n$p")
    // since r8 the doc-side bigram pairing is map-only — a Window here
    // means the per-doc sort shuffle crept back in
    assert(!p.contains("Window"), s"doc-side pairing regressed to a window:\n$p")
  }

  test("x77 kneser-ney: keyed model joins, 1-row broadcasts only, no corpus window") {
    val p = planString("x77_kneser_ney")
    assert(!p.contains("CartesianProduct"), s"kn score must stay keyed:\n$p")
    // two permitted nested-loops: the 1-row bigram-type total and the
    // 1-row vocab count
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the two 1-row stats may broadcast nested-loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"model joins must be hash/merge joins:\n$p")
    assert(!p.contains("Window"), s"doc-side pairing must be map-only:\n$p")
  }

  test("x78 contamination fraction: totals broadcast, no product join") {
    val p = planString("x78_contamination_frac")
    assert(!p.contains("CartesianProduct"), s"pair scan must stay keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unkeyed broadcast join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"eval side and totals must broadcast:\n$p")
  }

  test("x80 novelty: one keyed join on the hash, no product, no window") {
    val p = planString("x80_novelty")
    assert(!p.contains("CartesianProduct"), s"novelty join must stay keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unkeyed broadcast join:\n$p")
    assert(!p.contains("Window"), s"novelty needs no window:\n$p")
  }

  test("x81 logistic quality: scoring pass is join-free and window-free") {
    // (training runs eagerly when the probe is built — its per-round
    // aggregations are separate jobs; this gates the SCORING plan)
    val p = planString("x81_logistic_quality")
    assert(!p.contains("Join"), s"scoring must not join:\n$p")
    assert(!p.contains("Window"), s"scoring needs no window:\n$p")
  }

  test("x79 temperature mixture: quotas broadcast, two-phase per-source cap") {
    val p = planString("x79_temperature_mixture")
    assert(!p.contains("CartesianProduct"), s"quota join must stay keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"quota table must broadcast:\n$p")
    // the local (source, hash-bucket) window must precede the global
    // per-source window, so one dominant source never lands whole on
    // a single reducer
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows >= 2, s"two-phase per-source cap collapsed to one window:\n$p")
  }

  test("x44 mixture: map-only, no shuffle, no join") {
    val p = planString("x44_source_mixture")
    // keep fraction is a pure projection over the scan + the probe's
    // final sort — one exchange, zero joins
    assert(!p.contains("Join"), s"mixture must not join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, s"only the sort may exchange:\n$p")
  }

  test("x34 heavy hitters: MG aggregation is partial before the single merge") {
    val p = planString("x34_heavy_hitters")
    // ObjectHashAggregate with a partial_misragries pass = map-side
    // bounded summaries; only O(capacity) state crosses the wire
    assert(p.contains("ObjectHashAggregate"), s"expected object hash agg:\n$p")
    assert("partial_".r.findFirstIn(p).isDefined,
      s"MG aggregation lost its partial (map-side) phase:\n$p")
  }

  test("x38 curation flagship: no product joins anywhere in the composed DAG") {
    // scoring/signatures are map-only; every join in the pipeline
    // (exact-dedup keeper, LSH buckets, Jaccard sets, near-dup anti)
    // must be keyed — one CartesianProduct here would be quadratic in
    // the corpus at 100 TB
    val p = planString("x38_curation_e2e")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"curation pipeline must stay keyed end-to-end:\n$p")
  }

  test("pii redact / strip html / unicode normalize: map-only single-scan plans") {
    // all three are pure per-row rewrites — any Exchange or aggregate
    // here would turn a scan-bound 100 TB cleanup pass into a shuffle
    GraftExtensions.register(spark)
    val docs = Tables.documents(spark, sfDir)
    val plans = Seq(
      "redactPii" -> graft.operators.PiiOps.redactPii(docs),
      "stripHtml" -> docs.select(col("doc_id"),
        graft.operators.TextOps.stripHtml(col("text")).as("t")),
      "unicodeNormalize" -> docs.select(col("doc_id"),
        call_function("unicode_normalize", col("text"), lit("NFKC")).as("t")))
    for ((name, df) <- plans) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
        s"$name must be map-only:\n$p")
      assert("FileScan|Scan parquet".r.findAllIn(p).size == 1,
        s"$name must read documents exactly once:\n$p")
    }
  }

  test("curation profile: all metrics in one scan, map-only plan") {
    val df = graft.operators.TextOps.curationProfile(
      Tables.documents(spark, sfDir))
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan|Scan parquet".r.findAllIn(p).size == 1,
      s"profile must read documents exactly once:\n$p")
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
      s"profile must be map-only:\n$p")
    // column values equal the individually certified operators
    val one = df.where(col("doc_id") === 0).head()
    val tok = graft.operators.TextOps.wsTokenCount(col("text"))
    val single = Tables.documents(spark, sfDir).where(col("doc_id") === 0)
      .select(tok).head().getInt(0)
    assert(one.getAs[Int]("ws_tokens") === single)
    val gopher = graft.operators.TextOps.gopherRepetitionSignals(
        Tables.documents(spark, sfDir))
      .where(col("doc_id") === 0).head()
    assert(one.getAs[Double]("dup_line_frac") ===
      gopher.getAs[Double]("dup_line_frac"))
    assert(one.getAs[Double]("top_bigram_frac") ===
      gopher.getAs[Double]("top_bigram_frac"))
  }

  test("x06 one-pass minhash plan: single stage, no exchange, codegen'd") {
    val p = planString("x06_minhash_signature")
    // the signature subtree itself is map-only; the probe's global sort
    // is the only exchange allowed (AQE hides codegen markers before an
    // action, so assert structure, not WholeStageCodegen spans)
    assert(!p.contains("HashAggregate"), s"one-pass minhash must not aggregate:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"only the sort may exchange:\n$p")
  }

  test("x28 repetition ratio: map-only, one scan, no shuffle") {
    val df = graft.operators.TextOps.repetitionRatio(
      Tables.documents(spark, sfDir))
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan|Scan parquet".r.findAllIn(p).size == 1)
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
      s"repetition ratio must be a pure projection:\n$p")
  }

  test("x30 hash split: map-only, no shuffle, no join") {
    val df = graft.operators.Sampling.hashSplit(
      Tables.documents(spark, sfDir), Seq("train" -> 0.9, "test" -> 0.1))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"hash split must be a pure projection:\n$p")
  }

  test("x60 url canonicalize: pure projection, no shuffle, no join") {
    val p = planString("x60_url_canonical")
    // the orderBy is the probe's determinism sort; everything below it
    // must be map-only
    assert(!p.contains("Join"), s"canonicalization must not join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, // the probe sort only
      s"canonicalization must be map-only before the sort:\n$p")
  }

  test("x61 url dedup: keeper agg is partial map-side (skew-immune)") {
    val p = planString("x61_url_dedup")
    // first-occurrence min(struct) must partial-aggregate before the
    // canonical-url shuffle — a hot URL collapses per input partition
    // (struct min is not hash-aggregable, so it shows as a partial
    // SortAggregate; the skew immunity is the partial, not the hash)
    assert(p.contains("partial_min"),
      s"keeper choice must map-side combine:\n$p")
    assert(p.indexOf("partial_min") > p.indexOf("Exchange hashpartitioning"),
      s"partial agg must sit below the canonical-url exchange:\n$p")
  }

  test("x62 domain quota: local pre-top-k bounds the per-host window input") {
    val p = planString("x62_domain_quota")
    // two window passes: (host, bucket) local then host global —
    // the mega-host never reaches one task unfiltered
    assert("Window".r.findAllIn(p).size >= 2,
      s"quota must run the two-phase top-k:\n$p")
    assert(p.contains("pmod"), s"phase 1 must partition by hash bucket:\n$p")
  }

  test("x64 token budget: NO global window — selection is bucketed") {
    val df = ProbeQueries.queryMap("x64_token_budget")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the only window is the boundary bucket's cumsum, keyed on _b —
    // an unkeyed window (windowspecdefinition starting with the order
    // spec instead of the _b partition column) would be the
    // single-task global cumsum this operator exists to avoid
    val specs = "windowspecdefinition\\(([^#)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected the boundary-bucket window:\n$p")
    assert(specs.forall(_.startsWith("_b")),
      s"token budget must never build an unpartitioned window: $specs\n$p")
  }

  test("x31 pack sequences: exactly one exchange (the shard window)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.operators.TextOps.wsTokenCount(col("text")).as("n_tokens"))
    val df = graft.operators.Sampling.packSequences(docs, 512, "n_tokens", "lang")
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1,
      s"packing shuffles once on the shard key:\n$p")
    assert(p.contains("Window"))
  }

  test("x50/x55 BPE encode: one text scan, no join, the sort is the only exchange") {
    for (name <- Seq("x50_bpe_encode", "x55_bpe_trained_counts")) {
      val p = planString(name)
      assert("documents\\.parquet".r.findAllIn(p).size == 1, s"$name re-scans:\n$p")
      assert(!p.contains("Join"), s"$name must not join:\n$p")
      assert("Exchange".r.findAllIn(p).size == 1, s"$name: only the sort may exchange:\n$p")
    }
  }

  test("x52 token chunking: map-side explode, no shuffle before the sort") {
    val p = planString("x52_chunk_by_tokens")
    assert(p.contains("Generate"), s"chunking explodes map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"only the sort may exchange:\n$p")
  }

  test("x54 audio features: partition-parallel map, single scan, no join") {
    val p = planString("x54_audio_features")
    assert("documents\\.parquet".r.findAllIn(p).size == 1, s"re-scans:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"only the sort may exchange:\n$p")
  }

  test("x29 semantic dedup: no cartesian product, cell join is equi") {
    val p = planString("x29_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cell pairs must come from an equi-join on cell:\n$p")
  }

  test("x21 quantile band plan: no exact-Percentile buffer, bounded windows only") {
    // the exact `Percentile` aggregate buffers every distinct value of
    // the group (O(group size) on the merge) — the corpus path must
    // use the two-phase bucketed design instead
    val df = ProbeQueries.queryMap("x21_quantile_band")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("percentile"),
      s"exact Percentile aggregate (unbounded buffer) on the corpus path:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows.foreach { w =>
      val sub = w.child.toString
      assert(sub.contains("Aggregate") || sub.contains("Join"),
        s"window over the raw corpus:\n$sub")
    }
  }

  test("stratifiedByDecile plan: no global window, no Percentile, no RNG") {
    // the old formulation was `ntile(10) over (order by score)` — ONE
    // task sorts the whole corpus; the rework must route the two-phase
    // exact percentile machinery and keep every window partitioned
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.Sampling.stratifiedByDecile(
      docs.withColumn("q", col("n_chars").cast("double")), "q",
      Map(1 -> 0.5, 10 -> 1.0))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("percentile"),
      s"exact Percentile aggregate on the corpus path:\n$p")
    assert(!p.contains("rand("), s"RNG in a deterministic sampler:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty) // the percentile machinery's bounded windows
    // the single-group trick constant-folds `_g = 1` out of the
    // partition spec, so gate on the CHILD instead (the x21 rule):
    // every window sits over a bounded aggregate or a cell-confined
    // join, never the raw corpus scan
    windows.foreach { w =>
      val sub = w.child.toString
      assert(sub.contains("Aggregate") || sub.contains("Join"),
        s"window directly over the raw corpus:\n$w")
    }
  }

  test("x70 score buckets plan: no exact-Percentile buffer, bounded windows only") {
    val df = ProbeQueries.queryMap("x70_ccnet_buckets")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("percentile"),
      s"exact Percentile aggregate (unbounded buffer) on the corpus path:\n$p")
  }

  test("x19 as-of plan: single window pass, no range/product join") {
    val p = planString("x19_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("x111/x112 batch ANN joins: the only nested-loop is the bounded centroid routing") {
    for (probe <- Seq("x111_ann_join", "x112_pq_ann_join")) {
      val p = planString(probe)
      assert(!p.contains("CartesianProduct"), s"$probe has a product join:\n$p")
      // Q × nlist centroid routing is the ONE sanctioned nested-loop
      // (bounded broadcast side, BuildRight Cross); the pre-AQE plan
      // prints it twice when the routing subtree is duplicated into a
      // dynamic-partition-pruning subquery for the codes scan — that
      // duplication is the partition pruning working, not a second
      // product. Codes/vectors/query joins must all stay keyed.
      val nl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      val nlCross = "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
      assert(nl == nlCross && nl >= 1 && nl <= 6,
        s"$probe: unexpected nested-loop shape ($nl, cross $nlCross):\n$p")
      assert(p.contains("dynamicpruningexpression"),
        s"$probe: codes scan lost dynamic partition pruning on cell:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$probe: keyed joins not broadcast at probe scale:\n$p")
      // r12: the per-query top-k/shortlist is the partial-aggregable
      // top_k_struct heap — the candidate set must never hit a window
      // (the sf1 honesty run measured the window form at 68× on 10×
      // data). Sanctioned windows: the Q×nlist cell routing ordered
      // on qdist (plus its DPP-duplicated copy) and x112's
      // Q·shortlist-bounded rerank ordered on sim. A window ordered
      // on the CANDIDATE score (int8 sim before ranking, PQ adist)
      // is the retired shape and must not come back.
      val windowSpecs = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
      windowSpecs.foreach { w =>
        val sanctioned =
          if (probe.startsWith("x111")) w.contains("qdist")
          else w.contains("qdist") || w.contains("sim#")
        assert(sanctioned && !w.contains("adist"),
          s"$probe: window ranks the candidate set:\n$w")
      }
      assert("(?i)objecthashaggregate".r.findAllIn(p).size >= 2,
        s"$probe: top-k heap not partial-aggregated map-side:\n$p")
    }
  }

  test("x123 retrieval flagship: the composed DAG has no corpus-sized shuffle shape") {
    // Since the r15 optimization round, mmrSelect materializes its
    // bounded pool and per-round picks (localCheckpoint — the lazy
    // unrolled plan re-instantiated the whole upstream chain O(2^k)
    // times and AQE replanning over the 3 MB plan dominated wall
    // time), so the probe's FINAL plan no longer contains the index
    // chains. The gate therefore runs in two halves.
    //
    // Half 1 — the composed pre-MMR chain (index → both batch joins →
    // fusion → codes join), built lazily exactly as the probe builds
    // its pool: every join keyed or a sanctioned bounded cross (the
    // Q×nlist centroid routing and its DPP-duplicated copies), every
    // top-k the partial-aggregable heap, NO window ever ranks a
    // candidate-scored set (the retired 68×-at-10× shape).
    GraftExtensions.register(spark)
    import graft.operators.{IndexCache, PqIndex, Ranking, Similarity}
    val embs = Tables.embeddings(spark, sfDir)
    val dir8 = IndexCache.annInt8Index(spark, sfDir)
    val dirP = IndexCache.annPqIndex(spark, sfDir)
    val queries = embs.where(col("vec_id") % 50 === 3)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val a = Similarity.annJoinInt8FromIndex(queries, dir8, k = 5, nprobe = 4)
    val b = PqIndex.annJoinFromIndex(queries, dirP, k = 5, nprobe = 4,
      shortlist = 40)
    val fused = Ranking.rrfFuse(a, b, k = 5)
    val pool = fused.select(col("q_id"), col("vec_id"), col("rrf").as("rel"))
      .join(Similarity.quantizeInt8(embs)
        .select(col("vec_id"), col("q_codes")), Seq("vec_id"))
    pool.collect()
    val p = pool.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"product join in the DAG:\n$p")
    val nl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val nlCross = "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert(nl == nlCross && nl >= 1,
      s"unexpected nested-loop shape ($nl, cross $nlCross):\n$p")
    val windowSpecs = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    windowSpecs.foreach { w =>
      assert((w.contains("qdist") || w.contains("sim#")) && !w.contains("adist")
          && !w.contains("rrf") && !w.contains("mmr"),
        s"window ranks a candidate set in the composed DAG:\n$w")
    }
    // the heaps (both joins' top-k/shortlist, the fused top-k) all
    // partial-aggregate map-side
    assert("(?i)objecthashaggregate".r.findAllIn(p).size >= 3,
      s"composed heaps not partial-aggregated:\n$p")
    // Half 2 — the probe's final plan (MMR output ⋈ eval over the
    // materialized rounds): still no product, no candidate-ranking
    // window, and the eval aggregation partial-aggregates.
    val pf = planString("x123_retrieval_flagship")
    assert(!pf.contains("CartesianProduct"), s"product join in the tail:\n$pf")
    "Window \\[[^\\n]*".r.findAllIn(pf).foreach { w =>
      assert(!w.contains("adist") && !w.contains("rrf") && !w.contains("mmr"),
        s"window ranks a candidate set in the eval tail:\n$w")
    }
    assert("partial_".r.findFirstIn(pf).isDefined,
      s"eval aggregation lost its map-side combine:\n$pf")
  }

  test("x74 bm25 plan: model sides broadcast, no product join, distributed top-k") {
    GraftExtensions.register(spark)
    val df = graft.operators.Bm25.topK(
      Tables.documents(spark, sfDir), Seq("spark", "vector"), k = 10)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"unbroadcast product join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k is a global sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("x75 dsir map-only scorer: ZERO exchanges — scoring is one projection") {
    val corpus = Tables.documents(spark, sfDir)
    val nb = 1 << 10
    val lut = graft.operators.Dsir.collectRatios(
      graft.operators.Dsir.logRatios(
        graft.operators.Dsir.bucketCounts(corpus, nb),
        graft.operators.Dsir.bucketCounts(corpus, nb), nb), nb)
    val df = graft.operators.Dsir.importanceWeightsMapOnly(corpus, lut, nb)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"map-only scorer shuffles:\n$p")
  }

  test("x76 cluster sample plan: partial-agg argmin, pre-bucketed window, no product") {
    val df = ProbeQueries.queryMap("x76_cluster_sample")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"unbroadcast product join:\n$p")
    assert(p.contains("partial_min"),
      s"cell assignment lost its map-side combine:\n$p")
    // the two-phase cap: a (cell, hash-bucket) window runs before the
    // per-cell window, so no single reducer ever sees a whole cell
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows >= 2, s"two-phase per-cell cap collapsed to one window:\n$p")
  }

  test("partition pruning: partitioned parquet scans only matching partitions") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sfDir)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val df = spark.read.parquet(dir).where(org.apache.spark.sql.functions.col("event_type") === "purchase")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      s"no partition filter pushed:\n$p")
  }

  test("x90 phash near-dup plan: banded equi-join, never all-pairs") {
    val p = ProbeQueries.queryMap("x90_phash_neardup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs join in phash near-dup:\n$p")
  }

  test("x92 crawl flagship plan: projections + keyed joins, no products") {
    val p = ProbeQueries.queryMap("x92_crawl_pipeline")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"product join in the crawl flagship:\n$p")
  }

  test("x94 span decontamination plan: semi join + islands window, no products") {
    val p = ProbeQueries.queryMap("x94_decontaminate_spans")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"product join in span decontamination:\n$p")
    assert(p.contains("LeftSemi"), s"eval match lost its semi join:\n$p")
  }

  test("x93 langid scoring plan: model joins broadcast, no shuffle join") {
    val docs = Tables.documents(spark, sfDir)
    val (counts, totals) = graft.operators.LangId.train(
      docs.where(col("doc_id") % 2 === 0), numBuckets = 1 << 10)
    val p = graft.operators.LangId.predict(docs, counts, totals,
        numBuckets = 1 << 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"product join in langid:\n$p")
    // model joins (counts, totals × langs) broadcast; the only
    // sort-merge join allowed is the final doc-keyed null-densify
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"model join not broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size <= 1,
      s"model join fell back to shuffle:\n$p")
  }
}

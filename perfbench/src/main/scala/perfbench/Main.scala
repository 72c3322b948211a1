package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Engine

/** One measured run of a workload in a fresh JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --inputs <dir> --work <dir> [--pinned <sha256>]
  *
  * Set-up (session, extensions, static tables) runs once, in the cold
  * JVM, as the cron pays it on every run. The decoded inputs are then
  * checked against the generated values. The first cycle runs cold and
  * gives cycle_s; peak_rss_mb is read right after it. More cycles run
  * while `seconds` have not passed. With `--trace 1`
  * the first cycle is traced and gives the per-layer metrics. Every
  * cycle's outputs are checked; the last stdout line is the JSON
  * result. */
object Main {

  val SetupSpans = Seq("engine.session", "geo.admin_map")
  val CycleSpans = Seq("sources.bufr", "sources.grib2", "tracks.prep", "hazard.windfield",
    "forecast.hazard", "rain.zonal", "forecast.features", "impact.train", "impact.score",
    "impact.triggers", "publish.payloads")
  val CurationSpans = Seq("operators.exact", "operators.minhash", "operators.lsh",
    "operators.components", "operators.index_append", "operators.contamination")
  val SpanFields = Seq("wall_s" -> "s", "busy_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB")
  val Extras = Seq("hazard.candidate_pairs" -> "count", "hazard.kept_pairs" -> "count",
    "hazard.kept_frac" -> "frac", "hazard.skew" -> "ratio", "forecast.dist_pairs" -> "count",
    "operators.candidate_pairs" -> "count", "operators.dup_frac" -> "frac",
    "operators.cc_rounds" -> "count", "task_retries" -> "count", "trace_overhead_s" -> "s",
    "trace_coverage" -> "frac")
  /** Every per-layer metric, in report order. */
  val PerLayer: Seq[(String, String)] =
    (SetupSpans ++ CycleSpans ++ CurationSpans).flatMap(s => SpanFields.map { case (f, u) => s"$s.$f" -> u }) ++ Extras

  /** Traced runs add warm cycles only while the JVM has run less than
    * this, keeping the whole run well inside its three minutes. */
  val MaxUptimeS = 130.0

  final case class CycleResult(wallS: Double, ok: Boolean, digest: String, problems: Seq[String],
                               spans: Option[Spans], counters: Map[String, Double])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val in = Paths.get(opts("inputs")).toAbsolutePath
    val work = Paths.get(opts("work")).toAbsolutePath
    val pinned = opts.get("pinned")
    val spec = Inputs.workload(workload)
    val log = if (traced) Some(new JobLog) else None

    // ---- set-up, once, in the cold JVM ----------------------------------
    val setupSpans = new Spans(log, "setup")
    val setupT0 = System.nanoTime()
    val spark = setupSpans("engine.session") { Engine.local() }
    log.foreach(spark.sparkContext.addSparkListener)
    val static = spec.forecast.map(_ => ForecastCycle.setup(spark, in, setupSpans))
    val curationStatic =
      if (spec.curation) Some(CurationCycle.setup(spark, in, work.resolve("store"), setupSpans)) else None
    val setupS = (System.nanoTime() - setupT0) / 1e9

    // ---- inputs decode to what was generated (untimed) ------------------
    val planted = if (spec.curation) Some(Inputs.corpus(seed)) else None
    val inputProblems = spec.forecast.toSeq.flatMap(Check.roundTrip(spark, _, seed, in))
    if (inputProblems.nonEmpty) {
      inputProblems.take(20).foreach(p => println(s"[perfbench] input check: $p"))
      println(json(correct = false, 1, 1, Nil))
      spark.stop()
      sys.exit(1)
    }
    if (spec.forecast.isDefined)
      println("[perfbench] input check: decoded tracks and rain equal the generated values")

    def cycle(i: Int, withTrace: Boolean): CycleResult = {
      val spans = new Spans(if (withTrace) log else None, s"c$i")
      val out = work.resolve(s"out/cycle$i")
      try {
        val forecast = spec.forecast.map(f => ForecastCycle.run(spark, f, static.get, in, out, spans))
        val batch = curationStatic.map(CurationCycle.run(spark, _, in, spans, planted.get))
        val model = if (spec.trainRounds > 0) Some(Retrain.run(spark, in, spec.trainRounds, spans)) else None
        // the cycle ends with its last span; the curation outputs are
        // collected for the check only now
        val curated = batch.map(_._1())
        forecast.foreach(_._2()); batch.foreach(_._2()); model.foreach(_._2())
        val digest = Check.sha256(forecast.toSeq.flatMap(f => Check.forecastDigestParts(f._1)) ++
          curated.toSeq.flatMap(_.digestParts) ++ model.toSeq.flatMap(_._1.digestParts))
        val problems = forecast.toSeq.flatMap(f => Check.forecast(f._1)) ++
          curated.toSeq.flatMap(_.problems) ++ model.toSeq.flatMap(_._1.problems)
        CycleResult(spans.wallS, problems.isEmpty, digest, problems, Some(spans),
          forecast.map(_._1.counters).getOrElse(Map.empty) ++ curated.map(_.counters).getOrElse(Map.empty))
      } catch {
        case e: Exception =>
          spark.catalog.clearCache()
          CycleResult(spans.wallS, ok = false, "", Seq(s"cycle threw $e"), None, Map.empty)
      }
    }

    // ---- cycles ------------------------------------------------------------
    // The first cycle runs cold, as the cron's one cycle per process does;
    // it gives cycle_s (and, traced, the per-layer metrics). Further
    // cycles run while `seconds` have not passed. With tracing, warm
    // cycles follow in the order untraced, traced, traced, untraced, so
    // the JVM's warming cancels out of the overhead estimate; they stop
    // early when another cycle could overrun the run's time limit.
    val results = mutable.ArrayBuffer[(CycleResult, Boolean)]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val abba = Seq(false, true, true, false)
    results += ((cycle(0, withTrace = traced), traced))
    // the footprint of the one-set-up, one-cycle process the cron runs
    val peakRss = peakRssMb()
    while (elapsed < seconds ||
           (traced && results.size <= abba.size && uptimeS + results.last._1.wallS < MaxUptimeS)) {
      val tr = traced && abba((results.size - 1) % abba.size)
      results += ((cycle(results.size, tr), tr))
    }

    // ---- output check across cycles --------------------------------------
    val reference = pinned.getOrElse(results.head._1.digest)
    val checked = results.map { case (r, tr) =>
      val problems = r.problems ++
        (if (r.digest.nonEmpty && r.digest != reference)
          Seq(s"digest ${r.digest} differs from ${if (pinned.isDefined) "the pinned" else "the first cycle's"} $reference")
        else Nil)
      (r.copy(ok = problems.isEmpty && r.digest.nonEmpty, problems = problems), tr)
    }
    val attempted = checked.size
    val failed = checked.count(!_._1.ok)
    checked.zipWithIndex.foreach { case ((r, tr), k) =>
      println(f"[perfbench] cycle $k%d ${if (k == 0) "cold" else "warm"} ${if (tr) "traced" else "untraced"} " +
        f"${r.wallS}%.3f s ${if (r.ok) "ok" else "FAILED"} digest ${r.digest}")
      r.spans.foreach(sp => println("[perfbench]   spans " +
        sp.done.map(x => f"${x.name}=${x.wallS}%.3f").mkString(" ")))
      if (k == 0) println("[perfbench]   counters " +
        r.counters.toSeq.sorted.map { case (n, v) => s"$n=$v" }.mkString(" "))
      r.problems.take(10).foreach(p => println(s"[perfbench]   $p"))
    }
    println(s"[perfbench] output check: ${attempted - failed}/$attempted cycles correct" +
      pinned.map(_ => " (digest pinned for this seed)").getOrElse(" (no pinned digest for this seed)"))

    val warm = checked.drop(1)
    val endToEnd = Seq(
      ("cycle_s", checked.head._1.wallS, "s"),
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", peakRss, "MB"),
      ("ok_frac", (attempted - failed).toDouble / attempted, "frac"))
    if (warm.nonEmpty)
      println(f"[perfbench] cycle_warm_s ${median(warm.map(_._1.wallS).toSeq)}%.4f s (median of ${warm.size} later cycles)")
    println(f"[perfbench] failed_frac ${failed.toDouble / attempted}%.4f frac ($failed of $attempted)")
    endToEnd.foreach { case (n, v, u) => println(s"metric $n $v $u") }

    val metrics = if (!traced) endToEnd else {
      // overhead: warm traced minus warm untraced cycles
      val overhead = median(warm.collect { case (r, true) => r.wallS }.toSeq) -
        median(warm.collect { case (r, false) => r.wallS }.toSeq)
      val perLayer = perLayerMetrics(spark, log.get, setupSpans, checked.head._1, overhead)
      perLayer.foreach { case (n, v, u) => println(s"metric $n $v $u") }
      perLayer
    }
    spark.stop()
    println(json(failed == 0, attempted, failed, metrics))
  }

  /** Per-layer metrics of the set-up and the traced cycle: per span,
    * self time, task time, driver-only time, jobs, shuffle and spill. */
  def perLayerMetrics(spark: SparkSession, log: JobLog, setup: Spans,
                      traced: CycleResult, overheadS: Double): Seq[(String, Double, String)] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def spanValues(spans: Spans): Map[String, Double] = spans.done.flatMap { s =>
      val g = log.get(s.group)
      val covered = union(g.intervals.toSeq.map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) })
      Seq(s"${s.name}.wall_s" -> s.wallS, s"${s.name}.busy_s" -> g.busyMs / 1e3,
        s"${s.name}.driver_s" -> math.max(0.0, s.wallS - covered / 1e3),
        s"${s.name}.jobs" -> g.jobs.toDouble, s"${s.name}.shuffle_mb" -> g.shuffleBytes / 1e6,
        s"${s.name}.spill_mb" -> g.spillBytes / 1e6)
    }.toMap
    val sp = traced.spans.get
    val c = traced.counters
    val kept = c.getOrElse("hazard.kept_pairs", 0.0)
    val cand = c.getOrElse("hazard.candidate_pairs", 0.0)
    val values = spanValues(setup) ++ spanValues(sp) ++ c ++ Map(
      "hazard.kept_frac" -> (if (cand > 0) kept / cand else 0.0),
      "hazard.skew" -> sp.done.find(_.name == "hazard.windfield").map(s => log.skew(s.group)).getOrElse(0.0),
      "trace_coverage" -> sp.done.map(_.wallS).sum / sp.wallS,
      "trace_overhead_s" -> overheadS,
      "task_retries" -> log.retries.toDouble)
    PerLayer.map { case (name, unit) => (name, values.getOrElse(name, 0.0), unit) }
  }

  /** Total length of the union of [start, end] intervals (ms). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a, cur)
      if (b > s) { total += b - s; cur = b }
    }
    total
  }
}

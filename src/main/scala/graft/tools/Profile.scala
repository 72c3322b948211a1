package graft.tools

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Engine, SparkEntry}

/** Probe profiler on `Engine.local(SPARK_GRAFT_CPUS)`, with Bench's
  * warm-up and Bench's `toRdd` force:
  *
  *   runMain graft.tools.Profile time <sfDir> <reps> [name ...]
  *     each rep's wall seconds, then its per-job and per-stage lines —
  *     where a first-run-vs-steady-state gap lives (scheduler, one
  *     stage, or driver time between jobs). No names: every probe.
  *   runMain graft.tools.Profile plan <sfDir> <outDir|-> <name ...>
  *     forces each probe (so per-corpus caches and indexes exist), then
  *     writes its formatted final adaptive plan to <outDir>/<name>.txt,
  *     the plans/rNN evidence format; `-` prints to stdout.
  *   runMain graft.tools.Profile sizes <sfDir>
  *     every probe's formatted-plan size in chars — a scan for plan
  *     blowup (subtrees re-referenced without materialization make AQE
  *     replanning, not execution, the wall-time driver). Probes whose
  *     builders materialize eagerly (x72, mmrSelect and MixturePlan
  *     callers) run real jobs while the DataFrame is built, and their
  *     sizes are the post-materialization leaf plans.
  */
object Profile {
  private val usage =
    "usage: Profile time <sfDir> <reps> [name ...] | " +
      "plan <sfDir> <outDir|-> <name ...> | sizes <sfDir>"

  def main(args: Array[String]): Unit = {
    val spark = Engine.local(Engine.envCores)
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** One mode on an existing session; output goes to `Console.out`. */
  private[graft] def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("time", sfDir, reps, names @ _*) => time(spark, sfDir, reps.toInt, names)
    case Seq("plan", sfDir, outDir, names @ _*) if names.nonEmpty =>
      plan(spark, sfDir, outDir, names)
    case Seq("sizes", sfDir) => sizes(spark, sfDir)
    case _ => throw new IllegalArgumentException(usage)
  }

  private def time(spark: SparkSession, sfDir: String, reps: Int,
                   names: Seq[String]): Unit = {
    Bench.warmUp(spark, sfDir)
    val events = ArrayBuffer[String]()
    def log(s: String): Unit = events.synchronized { events += s }
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = for (a <- si.submissionTime; b <- si.completionTime) yield b - a
        log(f"    stage ${si.stageId}%3d ${si.name.takeWhile(_ != '(').trim}%-24s tasks=${si.numTasks}%3d wall=${ms.getOrElse(-1L)}%5d ms")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        log(f"  job ${e.jobId}%3d end t=${e.time}")
      override def onJobStart(e: SparkListenerJobStart): Unit =
        log(f"  job ${e.jobId}%3d start t=${e.time}")
    }
    spark.sparkContext.addSparkListener(listener)
    try (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted)
      .foreach { name =>
        val fn = SparkEntry.queries(name)
        (1 to reps).foreach { i =>
          events.synchronized { events.clear() }
          val wall = Bench.timed(Bench.force(fn(spark, sfDir)))._2
          Thread.sleep(300) // let listener events drain
          println(f"[profile] run $i $name wall=$wall%.2f s")
          events.synchronized { events.foreach(println) }
        }
      }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
                   names: Seq[String]): Unit = names.foreach { name =>
    val df = SparkEntry.queries(name)(spark, sfDir)
    Bench.force(df)
    val txt = df.queryExecution.explainString(FormattedMode)
    if (outDir == "-") println(txt)
    else {
      val f = new File(outDir, s"$name.txt")
      val pw = new PrintWriter(f)
      try pw.println(txt) finally pw.close()
      println(s"[profile] wrote ${f.getPath} (${txt.length} chars)")
    }
  }

  private def sizes(spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        println(s"[profile] $name ${txt.length}")
      } catch {
        // NonFatal only: an OOM must kill the scan, not degrade to a row
        case NonFatal(e) => println(s"[profile] $name ERROR ${e.getClass.getSimpleName}")
      }
    }
}

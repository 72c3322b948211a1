package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Spans around calls into the engine's layers. A traced span runs its
  * body under a Spark job group of its own, so the [[JobLog]] listener
  * can attribute jobs, task time, shuffle and spill to it. Untraced
  * spans only time the body. Spans are kept in memory and read out when
  * the run ends. */
final case class Span(name: String, group: String, startMs: Long, endMs: Long,
                      startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

final class Spans(log: Option[JobLog], cycle: String) {
  val done = mutable.ArrayBuffer[Span]()

  def apply[T](name: String)(body: => T): T = {
    val group = s"pb$cycle:$name"
    // the session does not exist yet inside the span that creates it
    val sc = if (log.isDefined) SparkSession.getActiveSession.map(_.sparkContext) else None
    sc.foreach(_.setJobGroup(group, name, interruptOnCancel = false))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.foreach(_.clearJobGroup())
      done += Span(name, group, startMs, System.currentTimeMillis(), t0, t1)
    }
  }

  /** First span start to last span end. */
  def wallS: Double =
    if (done.isEmpty) 0.0 else (done.map(_.endNs).max - done.map(_.startNs).min) / 1e9
}

/** Per-job-group counters from the scheduler's events. */
final class JobLog extends SparkListener {
  final class Group {
    var jobs = 0
    var busyMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var retries = 0
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val groups = mutable.Map[String, Group]()
  private val jobInfo = mutable.Map[Int, (String, Long)]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("<none>")
    jobInfo(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    val acc = group(g)
    acc.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (g, start) => group(g).intervals += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "<none>"))
    val info = e.taskInfo
    g.busyMs += info.duration
    if (info.failed || info.killed || info.attemptNumber > 0 || info.speculative) g.retries += 1
    Option(e.taskMetrics).foreach { m =>
      g.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
    }
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += info.duration
  }

  def get(g: String): Group = synchronized(groups.getOrElse(g, new Group))

  /** max/median task time of the stage with the most task time among
    * the group's stages (1.0 when it has no stage). */
  def skew(g: String): Double = synchronized {
    val stages = stageGroup.collect { case (s, gg) if gg == g => stageTasks.get(s) }.flatten
    if (stages.isEmpty) 1.0
    else {
      val largest = stages.maxBy(_.sum).sorted
      val median = largest(largest.size / 2).max(1L)
      largest.last.toDouble / median
    }
  }

  def retries: Int = synchronized(groups.values.map(_.retries).sum)
}

/** Reads SQL metrics from executed physical plans, looking through
  * adaptive plans, query stages, reused exchanges and cached
  * relations. */
object PlanMetrics {

  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case m: InMemoryTableScanExec => walk(m.relation.cacheBuilder.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def outputNames(p: SparkPlan): Set[String] = p.output.map(_.name).toSet

  /** Output rows of every final (post-shuffle) aggregate whose output
    * carries all `names` and none of `without`. */
  def finalAggRows(plan: SparkPlan, names: Set[String], without: Set[String]): Long =
    nodes(plan).collect {
      case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined &&
          names.subsetOf(outputNames(a)) && (without & outputNames(a)).isEmpty => rows(a)
    }.sum

  /** Output rows of every join whose output carries all `names`. */
  def joinRows(plan: SparkPlan, names: Set[String]): Long =
    nodes(plan).collect { case j: BaseJoinExec if names.subsetOf(outputNames(j)) => rows(j) }.sum
}

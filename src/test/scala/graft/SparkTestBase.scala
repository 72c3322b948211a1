package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), 4 threads. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.local(4)
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` between two marker jobs under a `SparkListener` and
    * returns its result, every job it started as (job group, SQL
    * execution id) — null where unset — and each SQL execution's
    * description by id. Listener events arrive in order, so once the
    * closing marker is seen every job of `body` has been too. */
  def jobsBetweenMarks[T](body: => T): (T, Seq[(String, String)], Map[String, String]) = {
    val mark = "graft-job-mark"
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val executions = scala.collection.concurrent.TrieMap.empty[String, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.synchronized {
          jobs += ((p.map(_.getProperty("spark.jobGroup.id")).orNull,
            p.map(_.getProperty("spark.sql.execution.id")).orNull))
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.description)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    def markJob(): Unit = {
      sc.setJobGroup(mark, mark)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val result = try {
      markJob()
      val r = body
      markJob()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (jobs.synchronized(jobs.count(_._1 == mark)) < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      r
    } finally sc.removeSparkListener(listener)
    val seen = jobs.synchronized(jobs.toList)
    assert(seen.count(_._1 == mark) == 2, s"mark jobs seen: ${seen.count(_._1 == mark)}")
    (result, seen.dropWhile(_._1 != mark).drop(1).takeWhile(_._1 != mark),
      executions.toMap)
  }
}

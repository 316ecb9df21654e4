package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.GraftShims

/** The one measurement path of the timing mains ([[Bench]] and the
  * PerfHarness `scale` and `ccsoak` modes): a listener on `sc`, removed
  * on [[close]], that counts jobs, executor task time and shuffle bytes.
  * [[measure]] times a body and reads what the body caused beside its
  * wall seconds, so a wall-clock reading always comes with the
  * load-independent measures of the same run.
  *
  * The listener bus delivers asynchronously: a job's last task and stage
  * events can arrive after the action returned. `measure` drains the bus
  * before and after the body, outside the timed region, so a late event
  * lands on the run that caused it and not on the next one. Only jobs the
  * body runs count, including other threads' jobs in that window.
  */
final class QueryProbe(sc: SparkContext) extends AutoCloseable {
  private val jobs, taskMs, shuffleWrite, shuffleRead = new LongAdder

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) taskMs.add(e.taskMetrics.executorRunTime)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }
  sc.addSparkListener(listener)

  private def counts(): Array[Long] =
    Array(jobs.sum(), taskMs.sum(), shuffleWrite.sum(), shuffleRead.sum())

  /** Run `body`; return its value and what it cost. Only `body` is timed. */
  def measure[T](body: => T): (T, QueryProbe.Reading) = {
    GraftShims.drainListenerBus(sc, QueryProbe.DrainTimeoutMs)
    val before = counts()
    val t0 = System.nanoTime()
    val value = body
    val sec = (System.nanoTime() - t0) / 1e9
    GraftShims.drainListenerBus(sc, QueryProbe.DrainTimeoutMs)
    val d = counts().zip(before).map { case (a, b) => a - b }
    (value, QueryProbe.Reading(sec, d(0), d(1) / 1e3, d(2), d(3)))
  }

  override def close(): Unit = sc.removeSparkListener(listener)
}

object QueryProbe {
  /** Longest wait for the listener bus to drain around a measured body
    * (the probe's listener only adds counters, so a drain takes far less). */
  val DrainTimeoutMs = 20000L

  /** What one [[QueryProbe.measure]] body cost: wall seconds, jobs started,
    * executor task seconds (sum of `executorRunTime`) and shuffle bytes
    * written and read by its completed stages. */
  final case class Reading(wallSec: Double, jobs: Long, taskSec: Double,
      shuffleWriteBytes: Long, shuffleReadBytes: Long)
}

package org.apache.spark.perfbenchshim

import java.util.Properties

import org.apache.spark.{Success, TaskState}
import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler._

/** Hand-made listener events for the benchmark's self-test. */
object TestEvents {
  def stage(stageId: Int): StageInfo =
    new StageInfo(stageId, 0, s"stage $stageId", 1, Nil, Nil, "", TaskMetrics.empty, Nil, None, 0,
      false, 0)

  def jobStart(jobId: Int, stageId: Int, timeMs: Long, props: Map[String, String]): SparkListenerJobStart = {
    val p = new Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    SparkListenerJobStart(jobId, timeMs, Seq(stage(stageId)), p)
  }

  def jobEnd(jobId: Int, timeMs: Long): SparkListenerJobEnd =
    SparkListenerJobEnd(jobId, timeMs, JobSucceeded)

  def taskEnd(stageId: Int, runTimeMs: Long, timeMs: Long): SparkListenerTaskEnd = {
    val metrics = TaskMetrics.empty
    metrics.setExecutorRunTime(runTimeMs)
    val info = new TaskInfo(1L, 0, 0, 0, timeMs - runTimeMs, "driver", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(TaskState.FINISHED, timeMs)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info, new ExecutorMetrics, metrics)
  }
}

package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** One timed interval at a layer boundary. `trace` is the id of the
  * trigger (micro-batch) it belongs to, -1 when it belongs to none. */
final case class Span(layer: String, name: String, startMs: Double, endMs: Double, trace: Long) {
  def durMs: Double = endMs - startMs
}

/** In-memory span buffer; written out only when the run ends. */
final class SpanLog {
  private val buf = mutable.ArrayBuffer[Span]()
  def add(s: Span): Unit = synchronized(buf += s)
  def all: Seq[Span] = synchronized(buf.toList)
  def clear(): Unit = synchronized(buf.clear())
}

object Spans {
  /** Containment slack: Spark stamps trigger and job times in whole ms. */
  val SlackMs = 2.0

  private def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it covered by
    * its children. A span's parent is the shortest other span that contains
    * it (within [[SlackMs]]); ties go to the earlier span in `spans`. */
  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Double] = {
    val parent = spans.indices.map { i =>
      val s = spans(i)
      var best = -1
      spans.indices.foreach { j =>
        val p = spans(j)
        if (j != i && p.startMs - SlackMs <= s.startMs && s.endMs <= p.endMs + SlackMs &&
          (p.durMs > s.durMs || (p.durMs == s.durMs && j < i)) &&
          (best < 0 || p.durMs < spans(best).durMs)) best = j
      }
      best
    }
    val children = spans.indices.groupBy(parent)
    spans.indices.map { i =>
      val s = spans(i)
      val kids = children.getOrElse(i, Nil).map { k =>
        (math.max(spans(k).startMs, s.startMs), math.min(spans(k).endMs, s.endMs))
      }.filter { case (a, b) => b > a }
      math.max(0.0, s.durMs - covered(kids))
    }
  }

  /** Length of the union of the spans' intervals clipped to [from, to]. */
  def union(spans: Seq[Span], from: Double, to: Double): Double =
    covered(spans.map(s => (math.max(s.startMs, from), math.min(s.endMs, to))).filter(t => t._2 > t._1))
}

/** One finished trigger as reported by Spark's progress events. `runId`
  * identifies one start of a query; restarts from a copy of the same
  * checkpoint share the query id but not the run id. */
final case class TriggerRec(
    runId: String,
    batchId: Long,
    startMs: Double,
    durations: Map[String, Long],
    numInputRows: Long,
    endOffset: Long) {
  def triggerMs: Double = durations.getOrElse("triggerExecution", 0L).toDouble
  def endMs: Double = startMs + triggerMs
}

/** Collects every progress event, keyed by run id. */
final class ProgressLog extends StreamingQueryListener {
  private val byRun = new ConcurrentHashMap[String, mutable.ArrayBuffer[TriggerRec]]()
  private val OffsetRe = """"logOffset"\s*:\s*(-?\d+)""".r

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    val end = src.flatMap(s => Option(s.endOffset))
      .flatMap(j => OffsetRe.findFirstMatchIn(j).map(_.group(1).toLong)).getOrElse(-1L)
    val rec = TriggerRec(p.runId.toString, p.batchId, Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      p.numInputRows, end)
    val buf = byRun.computeIfAbsent(rec.runId, _ => mutable.ArrayBuffer[TriggerRec]())
    buf.synchronized(buf += rec)
  }

  def triggers(q: StreamingQuery): Seq[TriggerRec] = triggers(q.runId.toString)
  def triggers(runId: String): Seq[TriggerRec] =
    Option(byRun.get(runId)).map(b => b.synchronized(b.toList)).getOrElse(Nil).sortBy(_.batchId)

  /** Rows committed so far by this run of the query: the sum over its triggers. */
  def rowsCommitted(q: StreamingQuery): Long = triggers(q).map(_.numInputRows).sum
}

/** Per-job accounting of Spark work. Each job is keyed at job start by the
  * local properties of the thread that started it: the job group (the run
  * id of a streaming query) and the micro-batch id Spark sets on its stream
  * thread. Task ends are
  * credited through their stage's job, so a task-end event delivered after
  * its trigger finished still counts toward that trigger, once the
  * listener bus has been drained. */
final class ExecLog extends SparkListener {
  final class JobRec(
      val jobId: Int, val startMs: Double, val runId: String, val batchId: Long,
      val description: String) {
    @volatile var endMs: Double = Double.NaN
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    def isListing: Boolean = description.startsWith("Listing leaf files")
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val batch = scala.util.Try(prop("streaming.sql.batchId").toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time.toDouble, prop("spark.jobGroup.id"), batch,
      prop("spark.job.description")))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageToJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    j.foreach { r =>
      r.synchronized {
        r.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.inputBytes += m.inputMetrics.bytesRead
          r.inputRecords += m.inputMetrics.recordsRead
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def all: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def ofRun(runId: String): Seq[JobRec] = all.filter(_.runId == runId)
}

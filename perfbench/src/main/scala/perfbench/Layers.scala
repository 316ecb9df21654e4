package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One streaming query run with tracing on, and what the benchmark saw of
  * its files: when each was announced and when its trigger committed. */
final case class TracedQuery(
    runId: String,
    startMs: Double,
    endMs: Double,
    out: Path,
    announcedMs: Seq[Double],
    committedMs: Seq[Option[Double]])

/** Per-layer metrics of traced queries, from the spans the benchmark
  * recorded around the source ([[TracedSource]]), Spark's progress events
  * (engine phases) and its job and task events (exec). */
object Layers {
  private def p(xs: Iterable[Double], q: Double): Double = {
    val v = Stats.quantile(xs, q)
    if (v.isNaN) 0.0 else v
  }

  private def within(s: Span, t: TriggerRec): Boolean =
    s.startMs >= t.startMs - Spans.SlackMs && s.endMs <= t.endMs + Spans.SlackMs

  /** All spans of one traced query: engine triggers (plus query start-up
    * before the first trigger and shutdown after the last), source calls,
    * and Spark jobs. */
  def spansOf(s: Session, q: TracedQuery): IndexedSeq[Span] = {
    val trig = s.progress.triggers(q.runId)
    val engine = trig.map(t => Span("engine", "trigger", t.startMs, t.endMs, t.batchId)) ++
      trig.headOption.map(t => Span("engine", "start", q.startMs, t.startMs, -1L)) ++
      trig.lastOption.map(t => Span("engine", "stop", t.endMs, q.endMs, -1L))
    def traceOf(a: Double, b: Double): Long =
      trig.find(t => a >= t.startMs - Spans.SlackMs && b <= t.endMs + Spans.SlackMs)
        .map(_.batchId).getOrElse(-1L)
    val source = TracedSource.spans.all
      .filter(x => x.startMs >= q.startMs - Spans.SlackMs && x.endMs <= q.endMs + Spans.SlackMs)
      .map(x => x.copy(trace = traceOf(x.startMs, x.endMs)))
    val exec = s.exec.ofRun(q.runId).filter(j => !j.endMs.isNaN).map { j =>
      Span("exec", if (j.isListing) "listing_job" else "job", j.startMs, j.endMs, j.batchId)
    }
    (engine ++ source ++ exec).filter(_.durMs >= 0).toIndexedSeq
  }

  def report(s: Session, qs: Seq[TracedQuery], rowsPerFile: Int, r: Report, spanFile: Path): Unit = {
    val perQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def perQ(name: String, v: Double): Unit = perQuery.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
    val triggerMs, filesPerTrigger, planning, wal, commitOffsets, addBatch = mutable.ArrayBuffer[Double]()
    val latest, getBatch, commit = mutable.ArrayBuffer[Double]()
    var triggerTotal, getBatchTotal = 0.0
    var dataTriggers, listedTriggers = 0L
    // above this many paths Spark's file index lists them with a job
    val threshold = s.spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val out = new PrintWriter(Files.newBufferedWriter(spanFile))
    try qs.foreach { q =>
      val trig = s.progress.triggers(q.runId)
      val data = trig.filter(_.numInputRows > 0)
      dataTriggers += data.size
      listedTriggers += data.count(_.numInputRows / rowsPerFile > threshold)
      data.foreach { t =>
        def d(k: String) = t.durations.getOrElse(k, 0L).toDouble
        triggerMs += t.triggerMs
        filesPerTrigger += t.numInputRows.toDouble / rowsPerFile
        planning += d("queryPlanning")
        wal += d("walCommit")
        commitOffsets += d("commitOffsets")
        addBatch += d("addBatch")
      }
      val spans = spansOf(s, q)
      spans.foreach(x => out.println(
        s"""{"run":"${q.runId}","layer":"${x.layer}","name":"${x.name}",""" +
          s""""start_ms":${x.startMs},"end_ms":${x.endMs},"trace":${x.trace}}"""))
      val src = spans.filter(_.layer == "source")
      def inData(x: Span) = data.exists(t => within(x, t))
      latest ++= src.filter(x => x.name == "latest_offset" && inData(x)).map(_.durMs)
      getBatch ++= src.filter(x => x.name == "get_batch" && inData(x)).map(_.durMs)
      commit ++= src.filter(x => x.name == "commit" && inData(x)).map(_.durMs)
      triggerTotal += data.map(_.triggerMs).sum
      getBatchTotal += src.filter(x => x.name == "get_batch" && inData(x)).map(_.durMs).sum
      perQ("source.prepare_ms", src.filter(_.name == "prepare").map(_.durMs).sum)
      perQ("engine.triggers", data.size.toDouble)
      perQ("engine.start_ms", spans.filter(x => x.layer == "engine" && x.name == "start").map(_.durMs).sum)

      // self time per layer over the query's wall time
      val wall = q.endMs - q.startMs
      val self = Spans.selfTimes(spans)
      Seq("source", "engine", "exec").foreach { layer =>
        val v = spans.indices.filter(i => spans(i).layer == layer).map(self).sum
        perQ(s"$layer.self_share", v / wall)
      }
      perQ("trace.coverage", Spans.union(spans, q.startMs, q.endMs) / wall)

      // ingest lag at each data trigger's start
      var pendingMax, lagMax = 0.0
      data.foreach { t =>
        val pending = q.announcedMs.indices.filter { i =>
          q.announcedMs(i) <= t.startMs && q.committedMs(i).forall(_ > t.startMs)
        }
        pendingMax = math.max(pendingMax, pending.size.toDouble)
        if (pending.nonEmpty) lagMax = math.max(lagMax, t.startMs - pending.map(q.announcedMs).min)
      }
      perQ("source.pending_files_max", pendingMax)
      perQ("source.lag_s_max", lagMax / 1000)

      val jobs = s.exec.ofRun(q.runId)
      val dataBatches = data.map(_.batchId).toSet
      val dataJobs = jobs.filter(j => dataBatches(j.batchId))
      perQ("exec.jobs_per_trigger", dataJobs.size.toDouble / math.max(1, data.size))
      perQ("exec.tasks_per_trigger", dataJobs.map(_.tasks).sum.toDouble / math.max(1, data.size))
      perQ("exec.listing_jobs", jobs.count(_.isListing).toDouble)
      perQ("exec.task_run_s", jobs.map(_.runMs).sum / 1000.0)
      perQ("exec.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9)
      perQ("exec.gc_s", jobs.map(_.gcMs).sum / 1000.0)
      perQ("exec.input_bytes", jobs.map(_.inputBytes).sum.toDouble)
      perQ("exec.input_records", jobs.map(_.inputRecords).sum.toDouble)
      val (files, bytes) = Fs.usage(q.out, rel => !rel.startsWith("_") && !rel.startsWith("."))
      perQ("sink.files_written", files.toDouble)
      perQ("sink.bytes_written", bytes.toDouble)
    } finally out.close()

    val n = qs.size.toLong
    def med(name: String, unit: String): Unit =
      r.put(name, p(perQuery.getOrElse(name, Nil), 0.5), unit, n)
    def dist(name: String, xs: Seq[Double], q: Double, unit: String): Unit =
      r.put(name, p(xs, q), unit, xs.size.toLong)

    dist("engine.files_per_trigger_p50", filesPerTrigger.toSeq, 0.5, "files")
    med("engine.triggers", "count")
    dist("engine.trigger_ms_p50", triggerMs.toSeq, 0.5, "ms")
    dist("engine.trigger_ms_p95", triggerMs.toSeq, 0.95, "ms")
    dist("engine.query_planning_ms_p50", planning.toSeq, 0.5, "ms")
    dist("engine.wal_commit_ms_p50", wal.toSeq, 0.5, "ms")
    dist("engine.commit_offsets_ms_p50", commitOffsets.toSeq, 0.5, "ms")
    med("engine.start_ms", "ms")
    med("source.prepare_ms", "ms")
    dist("source.latest_offset_ms_p50", latest.toSeq, 0.5, "ms")
    dist("source.latest_offset_ms_p95", latest.toSeq, 0.95, "ms")
    dist("source.get_batch_ms_p50", getBatch.toSeq, 0.5, "ms")
    dist("source.get_batch_ms_p95", getBatch.toSeq, 0.95, "ms")
    dist("source.commit_ms_p50", commit.toSeq, 0.5, "ms")
    r.put("source.get_batch_share", if (triggerTotal > 0) getBatchTotal / triggerTotal else 0.0,
      "ratio", dataTriggers)
    r.put("exec.listing_trigger_share", if (dataTriggers > 0) listedTriggers.toDouble / dataTriggers else 0.0,
      "ratio", dataTriggers)
    med("source.pending_files_max", "files")
    med("source.lag_s_max", "s")
    dist("exec.add_batch_ms_p50", addBatch.toSeq, 0.5, "ms")
    dist("exec.add_batch_ms_p95", addBatch.toSeq, 0.95, "ms")
    Seq("exec.jobs_per_trigger" -> "count", "exec.listing_jobs" -> "count",
      "exec.tasks_per_trigger" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
      "exec.gc_s" -> "s", "exec.input_bytes" -> "bytes", "exec.input_records" -> "count",
      "sink.files_written" -> "count", "sink.bytes_written" -> "bytes",
      "source.self_share" -> "ratio", "engine.self_share" -> "ratio", "exec.self_share" -> "ratio",
      "trace.coverage" -> "ratio").foreach { case (k, u) => med(k, u) }
  }
}

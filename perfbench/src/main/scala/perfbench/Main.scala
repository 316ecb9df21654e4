package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.sources.ConnectorOptions

/** What every workload run shares: its arguments, work directory and
  * report. */
final class RunContext(
    val seed: Long,
    val seconds: Int,
    val trace: Boolean,
    val work: Path,
    val spanFile: Path,
    val report: Report) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  def newSession(): Session = new Session(cores, work)
}

object RunContext {
  val RowsPerFile = 10
  /** Fewest measured drains per run. */
  val MinRepeats = 3
  val QueryTimeoutMs = 120000L
  /** The source's default `maxFileAge`, which the replayed cache keeps too. */
  val MaxFileAgeMs: Long = ConnectorOptions.durationMs(ConnectorOptions.DEFAULT_MAX_FILE_AGE)
}

/** Entry point of one benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --spans FILE`.
  * Prints one line per metric and, last, the one-line JSON result; exits 1
  * when any output was wrong, and 2 without a result when the run failed. */
object Main {
  val Workloads: Map[String, Either[DrainSpec, SteadySpec]] = Map(
    "backlog_drain" -> Left(DrainSpec(files = 200, maxFilesPerTrigger = 100, sqsDelayMs = None,
      setupRounds = 3)),
    "sqs_drain" -> Left(DrainSpec(files = 100, maxFilesPerTrigger = 50, sqsDelayMs = Some(70.0),
      setupRounds = 3)),
    "steady_ingest" -> Right(SteadySpec(historyFiles = 10000, historyMaxFilesPerTrigger = 3320,
      ratePerS = 25.0, setupRounds = 5)))

  val EndToEnd: Seq[String] = Seq(
    "setup_s", "drain_files_per_s", "ingest_latency_p50_s", "ingest_latency_p99_s", "driver_live_heap_mb")

  val PerLayer: Seq[String] = Seq(
    "queue.receive_calls", "queue.msgs_per_receive", "queue.delete_calls", "queue.inflight_max",
    "queue.redeliveries", "queue.fetch_ms",
    "parse.us_per_msg",
    "admit.validate_us_per_msg", "admit.select_ms_p50", "admit.select_ms_p95", "admit.cache_entries_max",
    "log.add_ms_p50", "log.add_ms_p95", "log.bytes_per_entry", "log.compactions", "log.restore_ms",
    "log.restore_files_read", "log.get_ms_p50",
    "source.prepare_ms", "source.latest_offset_ms_p50", "source.latest_offset_ms_p95",
    "source.get_batch_ms_p50", "source.get_batch_ms_p95", "source.commit_ms_p50",
    "source.get_batch_share", "source.pending_files_max", "source.lag_s_max", "source.self_share",
    "engine.triggers", "engine.files_per_trigger_p50", "engine.trigger_ms_p50", "engine.trigger_ms_p95",
    "engine.query_planning_ms_p50", "engine.wal_commit_ms_p50", "engine.commit_offsets_ms_p50",
    "engine.start_ms", "engine.self_share",
    "exec.add_batch_ms_p50", "exec.add_batch_ms_p95", "exec.jobs_per_trigger", "exec.listing_jobs",
    "exec.listing_trigger_share",
    "exec.tasks_per_trigger", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.input_bytes",
    "exec.input_records", "exec.self_share",
    "sink.files_written", "sink.bytes_written") ++
    RowsRun.Rows.map(n => s"rows.${n}_s") ++ Seq(
    "rows.total_s", "rows.jobs", "rows.task_s", "rows.shuffle_write_mb", "rows.spill_mb",
    "trace.coverage", "trace.overhead_ratio", "gen.late_ms_p99",
    "ref.listing_files_per_s", "ref.listing_latency_p50_s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val spec = Workloads.getOrElse(workload, usage(s"unknown workload '$workload'"))
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    val report = new Report
    val ctx = new RunContext(need("seed").toLong, need("seconds").toInt, trace, work,
      Paths.get(need("spans")).toAbsolutePath, report)
    val wanted = if (trace) PerLayer else EndToEnd
    val ok =
      try {
        spec.fold(d => new DrainRun(d, ctx).run(), st => new SteadyRun(st, ctx).run())
        true
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          false
      }
    val missing = wanted.filterNot(report.names.toSet)
    if (!ok || missing.nonEmpty) {
      if (missing.nonEmpty) System.err.println(s"perfbench: metrics not produced: ${missing.mkString(", ")}")
      report.render(Nil).init.foreach(println)
      sys.exit(2)
    }
    report.render(wanted).foreach(println)
    sys.exit(if (report.failed == 0) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}

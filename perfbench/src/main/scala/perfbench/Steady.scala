package perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions.{col, current_timestamp}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources._

/** The open-loop steady state: the query restarts on a standing checkpoint
  * holding `historyFiles` already-ingested files, then a generator writes
  * and announces files at `ratePerS` while the default trigger runs the
  * next micro-batch as soon as the previous one ends. `setup_s` is the
  * median of `setupRounds` restarts. */
final case class SteadySpec(
    historyFiles: Int, historyMaxFilesPerTrigger: Int, ratePerS: Double, setupRounds: Int)

final class SteadyRun(spec: SteadySpec, ctx: RunContext) {
  import SteadyRun._
  import RunContext.{RowsPerFile, QueryTimeoutMs}
  private val r = ctx.report
  private val inputs = new InputFiles(ctx.work.resolve("inputs"), ctx.seed, RowsPerFile)
  private val perRun = math.max(1, math.round(spec.ratePerS * ctx.seconds).toInt)
  /** A traced run reports no `setup_s`, so it sets up once. */
  private val setupRounds = if (ctx.trace) 1 else spec.setupRounds
  /** Files per open-loop pass: a traced run splits its measured time
    * between an untraced and a traced pass. */
  private val passFiles = if (ctx.trace) math.max(1, perRun / 2) else perRun
  /** Files announced at the same rate ahead of each pass's measured ones,
    * while the JVM is still warming up; their latencies are not reported. */
  private val warmFiles = math.round(spec.ratePerS * WarmUpS).toInt
  // File ids: the history is [0, historyFiles); the untraced pass, the
  // traced pass and the listing reference then take `warmFiles + perRun`
  // ids each; set-up files and the listing catch-up marker come last.
  private def passBase(k: Int): Long = spec.historyFiles + k.toLong * (warmFiles + perRun)
  private val warmBase = passBase(3)
  private val markerId = warmBase + setupRounds + 1
  private val standing = ctx.work.resolve("standing")
  private val standingOut = ctx.work.resolve("standing-out")
  private var queries = 0
  /** Listing threshold: more paths than this and Spark lists them with a job. */
  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = Clock.nowMs + QueryTimeoutMs
    while (!cond && Clock.nowMs < deadline) Thread.sleep(2)
    if (!cond) throw new IllegalStateException(s"timed out waiting for $what")
  }

  /** Build the standing checkpoint with the code under test: announce the
    * history and drain it with an AvailableNow query into the sink. The
    * sink's own log must continue from the same batches, so each restart
    * gets a copy of both directories. Paths are listed on the Spark driver here
    * only, to keep the build short. */
  private def buildStanding(s: Session): Unit = {
    val now = System.currentTimeMillis()
    val queue = InMemoryQueueRegistry.queue("history")
    (0 until spec.historyFiles).foreach { i =>
      val due = now - spec.historyFiles + i
      queue.send(InputFiles.notification(inputs.writeEmpty(i.toLong), due))
    }
    s.spark.conf.set(ListingThreshold, Int.MaxValue.toLong)
    try {
      val df = s.pushStream(traced = false, Map("queueName" -> "history",
        "maxFilesPerTrigger" -> spec.historyMaxFilesPerTrigger.toString))
      val q = s.fileSink(df, standingOut, standing, Trigger.AvailableNow())
      q.awaitTermination(QueryTimeoutMs)
      s.drainBus()
      val log = new FileBackedMetadataLog(standing.resolve("sources").resolve("0").toString,
        s.spark.sparkContext.hadoopConfiguration)
      val held = try log.getLatestBatchId.fold(0)(last => log.get(0L, last).map(_._2.length).sum)
        finally log.close()
      if (held != spec.historyFiles) {
        throw new IllegalStateException(
          s"standing checkpoint holds $held files, expected ${spec.historyFiles}")
      }
    } finally s.spark.conf.unset(ListingThreshold)
    InMemoryQueueRegistry.remove("history")
  }

  /** Restart on a fresh copy of the standing checkpoint with one warm-up
    * file announced; returns once that file's trigger has committed. */
  private def restore(s: Session, traced: Boolean, warmId: Long): Live = {
    queries += 1
    val name = s"steady-$queries"
    val cp = ctx.work.resolve(s"$name-cp")
    val out = ctx.work.resolve(s"$name-out")
    Fs.copyTree(standing, cp)
    Fs.copyTree(standingOut, out)
    val queue = InMemoryQueueRegistry.queue(name)
    val due = System.currentTimeMillis()
    val body = InputFiles.notification(inputs.write(warmId, due), due)
    queue.send(body)
    val df = s.pushStream(traced, Map("queueName" -> name))
    val t0 = Clock.nowMs
    val q = s.fileSink(df, out, cp, Trigger.ProcessingTime(0L))
    await("the restarted query's first trigger")(
      s.progress.rowsCommitted(q) >= RowsPerFile || !q.isActive)
    Live(q, queue, cp, out, t0, Seq(warmId), Seq(body))
  }

  /** Write and announce `warmFiles` and then `passFiles` files at the
    * fixed rate, then wait until all of them are committed. */
  private def openLoop(s: Session, live: Live, baseId: Long): Pass = {
    val n = warmFiles + passFiles
    val uris = new Array[String](n)
    val bodies = new Array[String](n)
    val gen = new OpenLoopGen(spec.ratePerS, n, (i, due) => {
      uris(i) = inputs.write(baseId + i, due)
      bodies(i) = InputFiles.notification(uris(i), due)
      live.queue.send(bodies(i))
    })
    val t0 = Clock.nowMs + 20
    val th = new Thread(() => gen.run(t0), "perfbench-generator")
    th.start()
    th.join()
    val want = (live.ids.size + n).toLong * RowsPerFile
    await("the open loop's files to commit")(
      s.progress.rowsCommitted(live.q) >= want || !live.q.isActive)
    val end = Clock.nowMs
    s.drainBus()
    Pass(live.copy(bodies = live.bodies ++ bodies), gen, (0 until n).map(baseId + _),
      uris.toSeq, end, Nil, warmFiles)
  }

  /** Stop the query, then check the sink and the queue and look up each
    * file's commit time. */
  private def finish(s: Session, pass: Pass, label: String): Pass = {
    val live = pass.live
    live.q.stop()
    s.drainBus()
    live.q.exception.foreach(e => r.fail(pass.ids.size.toLong, s"$label: query threw ${e.getMessage}"))
    s.checkSink(live.out, live.ids ++ pass.ids, RowsPerFile, label, r, fromId = spec.historyFiles)
    r.fail(live.queue.approximateSize.toLong, s"$label: messages left on the queue")
    val committed = s.commitTimes(live.q, live.cp, pass.uris)
    r.fail(committed.count(_.isEmpty).toLong, s"$label: files without a commit time")
    pass.copy(committed = committed)
  }

  def run(): Unit = {
    val s0 = ctx.newSession()
    Log("building the standing checkpoint")
    try buildStanding(s0) finally s0.stop()

    // set-up: session start plus the restart on the standing checkpoint,
    // several times; the last one stays up for the measurement
    var session: Session = null
    var live: Live = null
    val setupMs = (0 until setupRounds).map { k =>
      Log(s"set-up round $k")
      if (live != null) live.q.stop()
      if (session != null) session.stop()
      val t0 = Clock.nowMs
      session = ctx.newSession()
      live = restore(session, traced = false, warmBase + k)
      Clock.nowMs - t0
    }
    val s = session
    try {
      val open = openLoop(s, live, passBase(0))
      val heapMb = s.liveHeapMb()
      val untraced = finish(s, open, "steady")
      val lat = untraced.latencyMs
      if (!ctx.trace) {
        r.put("setup_s", Stats.median(setupMs) / 1000, "s", setupMs.size.toLong)
        val span = untraced.committed.flatten.max - untraced.gen.dueMs(warmFiles)
        r.put("drain_files_per_s", passFiles * 1000.0 / span, "files/s", passFiles.toLong)
        r.put("ingest_latency_p50_s", untraced.segmentedQuantileMs(0.5) / 1000, "s", lat.size.toLong)
        r.put("ingest_latency_p99_s", untraced.segmentedQuantileMs(0.99) / 1000, "s", lat.size.toLong)
        r.put("driver_live_heap_mb", heapMb, "MB")
      } else {
        val late = untraced.gen.lateMs
        r.put("gen.late_ms_p99", Stats.quantile(late, 0.99), "ms", late.size.toLong)
        TracedSource.spans.clear()
        val tlive = restore(s, traced = true, warmBase + setupRounds)
        val traced = finish(s, openLoop(s, tlive, passBase(1)), "steady-traced")
        val announced = tlive.ids.map(_ => tlive.startMs) ++ traced.gen.dueMs.map(_.toDouble)
        val committedAll = s.commitTimes(tlive.q, tlive.cp,
          Seq(inputs.uri(tlive.ids.head))) ++ traced.committed
        Layers.report(s, Seq(TracedQuery(tlive.q.runId.toString, tlive.startMs, traced.endMs, tlive.out,
          announced, committedAll)), RowsPerFile, r, ctx.spanFile)
        r.put("trace.overhead_ratio", traced.segmentedQuantileMs(0.5) / untraced.segmentedQuantileMs(0.5),
          "ratio", traced.latencyMs.size.toLong)
        listingReference(s, passBase(2))
        replay(s, Seq(untraced, traced))
        new RowsRun(ctx).run(s)
      }
    } finally s.stop()
  }

  /** Spark's listing csv source on the same directory, which by now holds
    * the history and every announced file: it catches up on them first
    * (not timed), then ingests an open loop of half a pass at the same
    * rate with the same trigger sizing. */
  private def listingReference(s: Session, baseId: Long): Unit = {
    val cp = ctx.work.resolve("ref-cp")
    val out = ctx.work.resolve("ref-out")
    def listing(maxFiles: Option[Int]) =
      s.listingStream(inputs.dir, maxFiles).withColumn("batch_ts", current_timestamp())
    // A restart re-resolves the last committed batch, so the catch-up ends
    // with a one-file batch: the measured query then does not re-list the
    // whole directory when it starts.
    s.spark.conf.set(ListingThreshold, Int.MaxValue.toLong)
    try {
      s.fileSink(listing(None), out, cp, Trigger.AvailableNow()).awaitTermination(QueryTimeoutMs)
      inputs.write(markerId, System.currentTimeMillis())
      s.fileSink(listing(None), out, cp, Trigger.AvailableNow()).awaitTermination(QueryTimeoutMs)
    } finally s.spark.conf.unset(ListingThreshold)
    val q = s.fileSink(listing(Some(ConnectorOptions.DEFAULT_MAX_FILES_PER_TRIGGER)), out, cp,
      Trigger.ProcessingTime(0L))
    val n = math.max(1, passFiles / 2)
    val gen = new OpenLoopGen(spec.ratePerS, n, (i, due) => inputs.write(baseId + i, due))
    val t0 = Clock.nowMs + 20
    gen.run(t0)
    val want = n.toLong * RowsPerFile
    await("the listing reference's files to commit")(
      s.progress.rowsCommitted(q) >= want || !q.isActive)
    q.stop()
    s.drainBus()
    val trig = s.progress.triggers(q).filter(_.numInputRows > 0)
    val rows = s.spark.read.parquet(out.toString)
      .where(col("file_id") >= baseId && col("file_id") < baseId + n)
      .groupBy("file_id", "due_ms", "batch_ts").count().collect()
    val lat = rows.toSeq.flatMap { row =>
      val batchMs = row.getTimestamp(2).getTime.toDouble
      trig.find(t => batchMs >= t.startMs - Spans.SlackMs && batchMs <= t.endMs + Spans.SlackMs)
        .map(_.endMs - row.getLong(1))
    }
    val span = trig.map(_.endMs).max - t0
    r.put("ref.listing_files_per_s", n * 1000.0 / span, "files/s", n.toLong)
    r.put("ref.listing_latency_p50_s", Stats.median(lat) / 1000, "s", lat.size.toLong)
  }

  /** Replays the notifications of both passes, in their trigger sizes,
    * through one cache and one log restored from the standing checkpoint,
    * as if a single query had ingested the whole run. */
  private def replay(s: Session, passes: Seq[Pass]): Unit = {
    val groups = passes.flatMap { pass =>
      val sizes = s.progress.triggers(pass.live.q).filter(_.numInputRows > 0)
        .map(t => (t.numInputRows / RowsPerFile).toInt)
      val bodies = pass.live.bodies
      sizes.scanLeft(0)(_ + _).zip(sizes).map { case (from, n) => bodies.slice(from, from + n) }
    }
    val q = InMemoryQueueRegistry.queue("replay")
    Replay.run(ReplayInput(groups, prefetchAll = false, ConnectorOptions.DEFAULT_MAX_FILES_PER_TRIGGER,
      RunContext.MaxFileAgeMs, Some(standing.resolve("sources").resolve("0"))),
      q, b => q.send(b), ctx.work, s.spark.sparkContext.hadoopConfiguration, r)
  }
}

object SteadyRun {
  /** A running query restored from a copy of the standing checkpoint. */
  private final case class Live(
      q: StreamingQuery, queue: InMemoryQueue, cp: Path, out: Path, startMs: Double,
      ids: Seq[Long], bodies: Seq[String])

  /** One open-loop pass: per file its due time and its commit time. The
    * files from index `measuredFrom` on are the measured ones. */
  private final case class Pass(
      live: Live, gen: OpenLoopGen, ids: Seq[Long], uris: Seq[String], endMs: Double,
      committed: Seq[Option[Double]], measuredFrom: Int) {
    private def latencyOf(i: Int): Option[Double] = committed(i).map(_ - gen.dueMs(i))
    def latencyMs: Seq[Double] = (measuredFrom until ids.size).flatMap(latencyOf)

    /** The median, over [[Segments]] consecutive runs of files in due
      * order, of each run's own `q`-quantile of latency: a host stall
      * during one segment moves one of the values, not the reported one. */
    def segmentedQuantileMs(q: Double): Double = {
      val n = ids.size - measuredFrom
      val perSegment = (0 until Segments).map { k =>
        Stats.quantile((measuredFrom + k * n / Segments until measuredFrom + (k + 1) * n / Segments)
          .flatMap(latencyOf), q)
      }
      Log(f"latency p${q * 100}%.0f per segment (ms): ${perSegment.map(v => f"$v%.0f").mkString(" ")}")
      Stats.median(perSegment)
    }
  }

  /** Segments of an open-loop pass whose latency quantiles are reported. */
  val Segments = 5
  /** Seconds of warm-up files ahead of each open-loop pass. */
  val WarmUpS = 5.0
}

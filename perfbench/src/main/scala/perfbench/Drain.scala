package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.streaming.Trigger

import graft.sources._

/** A closed backlog drain: `files` notifications are announced up front,
  * then one `Trigger.AvailableNow` query drains them at
  * `maxFilesPerTrigger` into a parquet file sink. Over the in-memory queue
  * (`sqsDelayMs` empty) or over the SQS wire protocol to [[SqsStub]]. Each
  * of the `setupRounds` set-up rounds warms up with one drain of the same
  * shape over other files; `setup_s` is their median. */
final case class DrainSpec(files: Int, maxFilesPerTrigger: Int, sqsDelayMs: Option[Double], setupRounds: Int)

final class DrainRun(spec: DrainSpec, ctx: RunContext) {
  import DrainRun._
  private val r = ctx.report
  private val inputs = new InputFiles(ctx.work.resolve("inputs"), ctx.seed, RunContext.RowsPerFile)
  private val stub = spec.sqsDelayMs.map(d => new SqsStub(AccessKey, Secret, Region, d, ctx.cores))
  private var drains = 0
  /** A traced run reports no `setup_s`, so it sets up once. */
  private val setupRounds = if (ctx.trace) 1 else spec.setupRounds

  private def options(queueName: String): Map[String, String] = {
    val base = Map("maxFilesPerTrigger" -> spec.maxFilesPerTrigger.toString)
    stub match {
      case None => base + ("queueName" -> queueName)
      case Some(s) => base ++ Map(
        "queueType" -> "sqs", "queueUrl" -> s.queueUrl, "queue.region" -> Region,
        "queue.accessKeyId" -> AccessKey, "queue.secretAccessKey" -> Secret,
        "queue.longPollingWaitTimeSeconds" -> "0")
    }
  }

  private def queueOf(name: String): InMemoryQueue =
    stub.map(_.queue).getOrElse(InMemoryQueueRegistry.queue(name))

  /** Announce `ids` and drain them with one AvailableNow query. The clock
    * runs from query start to termination; sink and queue checks follow. */
  private def drain(s: Session, ids: Seq[Long], traced: Boolean, check: Boolean): Done = {
    drains += 1
    val name = s"drain-$drains"
    val queue = queueOf(name)
    val uris = ids.map(inputs.uri)
    val bodies = uris.map(u => InputFiles.notification(u, 0L))
    bodies.foreach(queue.send)
    val announced = Clock.nowMs
    val out = ctx.work.resolve(s"$name-out")
    val cp = ctx.work.resolve(s"$name-cp")
    val df = s.pushStream(traced, options(name))
    val t0 = Clock.nowMs
    val q = s.fileSink(df, out, cp, Trigger.AvailableNow())
    val finished = q.awaitTermination(RunContext.QueryTimeoutMs)
    val t1 = Clock.nowMs
    if (!finished) q.stop()
    s.drainBus()
    q.exception.foreach(e => r.fail(ids.size.toLong, s"$name: query threw ${e.getMessage}"))
    if (!finished) r.fail(ids.size.toLong, s"$name: drain did not finish")
    Log(f"$name drained ${ids.size} files in ${(t1 - t0) / 1000}%.2fs")
    val committed = s.commitTimes(q, cp, uris)
    if (check) {
      s.checkSink(out, ids, inputs.rowsPerFile, name, r)
      r.fail(queue.approximateSize.toLong, s"$name: messages left on the queue")
    }
    if (stub.isEmpty) InMemoryQueueRegistry.remove(name)
    queue.clear()
    Done(t1 - t0, committed.flatten.map(_ - announced),
      TracedQuery(q.runId.toString, t0, t1, out, uris.map(_ => announced), committed), bodies)
  }

  def run(): Unit = try {
    (0 until spec.files).foreach(i => inputs.write(i.toLong, 0L))
    val warm = (1 to setupRounds).map(k => (0 until spec.files).map(i => k * spec.files + i.toLong))
    warm.flatten.foreach(inputs.write(_, 0L))

    // set-up: session start plus a warm-up drain, several times
    var session: Session = null
    val setupMs = warm.map { w =>
      if (session != null) session.stop()
      val t0 = Clock.nowMs
      session = ctx.newSession()
      drain(session, w, traced = false, check = false)
      Clock.nowMs - t0
    }
    val s = session
    try {
      // a traced run splits its measured time between an untraced and a traced half
      val budgetS = if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds.toDouble
      val untraced = measure(s, traced = false, budgetS)
      val heapMb = s.liveHeapMb()
      if (!ctx.trace) {
        r.put("setup_s", Stats.median(setupMs) / 1000, "s", setupMs.size.toLong)
        putEndToEnd(untraced, heapMb)
      } else {
        TracedSource.spans.clear()
        val traced = measure(s, traced = true, budgetS)
        Layers.report(s, traced.map(_.traced), RunContext.RowsPerFile, r, ctx.spanFile)
        r.put("trace.overhead_ratio",
          Stats.median(traced.map(_.wallMs)) / Stats.median(untraced.map(_.wallMs)), "ratio",
          traced.size.toLong)
        r.put("gen.late_ms_p99", 0.0, "ms")
        listingReference(s)
        replay(s, traced.head)
        new RowsRun(ctx).run(s)
      }
    } finally s.stop()
    stub.foreach(st => r.fail(st.rejectedSignatures.sum(), "stub rejected request signatures"))
  } finally stub.foreach(_.stop())

  /** Drains until `budgetS` seconds of drain time have been measured, at
    * least [[RunContext.MinRepeats]] times. */
  private def measure(s: Session, traced: Boolean, budgetS: Double): Seq[Done] = {
    val ids = InputFiles.shuffled(spec.files, ctx.seed).toSeq
    val done = mutable.ArrayBuffer[Done]()
    while (done.size < RunContext.MinRepeats || done.map(_.wallMs).sum < budgetS * 1000) {
      done += drain(s, ids, traced, check = true)
    }
    done.toSeq
  }

  private def putEndToEnd(ds: Seq[Done], heapMb: Double): Unit = {
    val n = ds.size.toLong
    r.put("drain_files_per_s", Stats.median(ds.map(d => spec.files * 1000.0 / d.wallMs)), "files/s", n)
    r.put("ingest_latency_p50_s", Stats.median(ds.map(d => Stats.quantile(d.latencyMs, 0.5))) / 1000,
      "s", ds.map(_.latencyMs.size).sum.toLong)
    r.put("ingest_latency_p99_s", Stats.median(ds.map(d => Stats.quantile(d.latencyMs, 0.99))) / 1000,
      "s", ds.map(_.latencyMs.size).sum.toLong)
    r.put("driver_live_heap_mb", heapMb, "MB")
  }

  /** Spark's listing csv source draining the same files at the same
    * trigger size, for the `ref.*` context numbers. */
  private def listingReference(s: Session): Unit = {
    val out = ctx.work.resolve("ref-out")
    val df = s.listingStream(inputs.dir, Some(spec.maxFilesPerTrigger))
    val t0 = Clock.nowMs
    val q = s.fileSink(df, out, ctx.work.resolve("ref-cp"), Trigger.AvailableNow())
    q.awaitTermination(RunContext.QueryTimeoutMs)
    val t1 = Clock.nowMs
    s.drainBus()
    val all = spec.files * (1 + setupRounds)
    val ends = s.progress.triggers(q).filter(_.numInputRows > 0)
      .flatMap(t => Seq.fill((t.numInputRows / RunContext.RowsPerFile).toInt)(t.endMs - t0))
    r.put("ref.listing_files_per_s", all * 1000.0 / (t1 - t0), "files/s", all.toLong)
    r.put("ref.listing_latency_p50_s", Stats.median(ends) / 1000, "s", ends.size.toLong)
  }

  private def replay(s: Session, d: Done): Unit = {
    val groups = d.bodies.grouped(spec.maxFilesPerTrigger).toSeq
    val (transport, send): (RawQueue, String => Unit) = stub match {
      case None =>
        val q = InMemoryQueueRegistry.queue("replay")
        (q, b => q.send(b))
      case Some(st) =>
        (new SqsHttpQueue(st.queueUrl, Region,
          StaticCredentialsProvider(QueueCredentials(AccessKey, Secret, None)), 0),
          b => st.queue.send(b))
    }
    try {
      Replay.run(ReplayInput(groups, prefetchAll = true, spec.maxFilesPerTrigger,
        RunContext.MaxFileAgeMs, None), transport, send, ctx.work,
        s.spark.sparkContext.hadoopConfiguration, r)
    } finally transport.close()
  }
}

object DrainRun {
  /** One finished drain, its clock already stopped. */
  private final case class Done(
      wallMs: Double, latencyMs: Seq[Double], traced: TracedQuery, bodies: Seq[String])

  val AccessKey = "AKIDPERFBENCH"
  val Secret = "perfbench-secret"
  val Region = "us-east-1"
}

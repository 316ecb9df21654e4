package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAdder}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.conf.Configuration

import graft.sources._

/** [[RawQueue]] wrapper that counts the calls a queue client makes: calls
  * per kind, messages received, redeliveries, and the most calls in flight
  * at once. */
final class CountingQueue(q: RawQueue) extends RawQueue {
  val receiveCalls, receivedMsgs, deleteCalls, redeliveries = new LongAdder
  private val inFlight = new AtomicInteger(0)
  private val peak = new AtomicLong(0)
  private val seen = new ConcurrentHashMap[String, AtomicInteger]()

  def inFlightPeak: Long = peak.get()

  private def call[T](body: => T): T = {
    peak.accumulateAndGet(inFlight.incrementAndGet().toLong, math.max)
    try body finally inFlight.decrementAndGet()
  }

  override def receive(max: Int, visibilityTimeoutSeconds: Int): Seq[QueueMessage] = call {
    val msgs = q.receive(max, visibilityTimeoutSeconds)
    receiveCalls.increment()
    receivedMsgs.add(msgs.size.toLong)
    msgs.foreach { m =>
      if (seen.computeIfAbsent(m.messageId, _ => new AtomicInteger).incrementAndGet() > 1) {
        redeliveries.increment()
      }
    }
    msgs
  }
  override def delete(messageId: String): Boolean = call { deleteCalls.increment(); q.delete(messageId) }
  override def deleteBatch(messageIds: Seq[String]): Map[String, Boolean] =
    call { deleteCalls.increment(); q.deleteBatch(messageIds) }
  override def changeVisibility(messageId: String, timeoutSeconds: Int): Boolean =
    call(q.changeVisibility(messageId, timeoutSeconds))
}

/** What the replay feeds: the notification bodies of each trigger, in the
  * order the run announced them. With `prefetchAll` (an AvailableNow drain)
  * every message is announced and fetched before the first trigger. */
final case class ReplayInput(
    groups: Seq[Seq[String]],
    prefetchAll: Boolean,
    maxFilesPerTrigger: Int,
    maxFileAgeMs: Long,
    standingLog: Option[Path])

/** Call-level replay of the source's driver-side layers. It drives the
  * public classes the source is built from, in the order the source calls
  * them, and times each call:
  *  - queue: a [[QueueFetchClient]] over the workload's transport;
  *  - parse: [[EventParser.parse]];
  *  - admit: [[FileValidator.isValidNewFile]] and the [[FileCache]];
  *  - log: a [[FileBackedMetadataLog]], restored from the standing
  *    checkpoint when the workload has one. */
object Replay {
  private def p(xs: Iterable[Double], q: Double): Double = {
    val v = Stats.quantile(xs, q)
    if (v.isNaN) 0.0 else v
  }

  def run(
      in: ReplayInput,
      transport: RawQueue,
      send: String => Unit,
      work: Path,
      hadoopConf: Configuration,
      r: Report): Unit = {
    val bodies = in.groups.flatten

    // parse
    var parseNs = 0L
    bodies.foreach { b =>
      val t0 = System.nanoTime()
      EventParser.parse(QueueMessage("replay", b))
      parseNs += System.nanoTime() - t0
    }

    // log: restore the standing checkpoint's log, or start empty
    val logPath = work.resolve("replay-log")
    Fs.deleteTree(logPath)
    Files.createDirectories(logPath)
    in.standingLog.foreach(src => Fs.copyTree(src, logPath))
    def restore(): (FileBackedMetadataLog, Double) = {
      val t0 = Clock.nowMs
      val log = new FileBackedMetadataLog(logPath.toString, hadoopConf)
      (log, Clock.nowMs - t0)
    }
    val (log, firstRestoreMs) = restore()
    var restoreMs = firstRestoreMs
    var restoreFiles = log.lastRestoreFilesRead.toDouble
    val batchDir = logPath.resolve("graft-batches")

    val cache = new FileCache(in.maxFileAgeMs)
    val validator = new FileValidator(cache, log, None)
    val queue = new CountingQueue(transport)
    var validateNs = 0L
    var client: QueueFetchClient = null
    client = new QueueFetchClient(queue, "perfbench-replay", meta => {
      val t0 = System.nanoTime()
      val verdict = validator.isValidNewFile(meta.filePath, meta.timestampMs)
      validateNs += System.nanoTime() - t0
      verdict match {
        case FileValidResult.Ok =>
          cache.addIfAbsent(meta.filePath, QueueMessageDesc(meta.timestampMs, isProcessed = false,
            meta.messageId))
        case FileValidResult.ExistInCacheNotProcessed =>
          client.setMessageVisibility(meta.messageId, ConnectorOptions.DEFAULT_VISIBILITY_TIMEOUT_SECONDS)
        case _ => client.deleteMessage(meta.messageId)
      }
    }, Some(in.maxFilesPerTrigger), ConnectorOptions.DEFAULT_VISIBILITY_TIMEOUT_SECONDS,
      ConnectorOptions.DEFAULT_MAX_CONCURRENCY, keepMessageOnConsumerError = false)

    var fetchMs = 0.0
    def fetchAll(): Unit = {
      var done = false
      while (!done) {
        val t0 = Clock.nowMs
        val res = Await.result(client.asyncFetch(5L), 120.seconds)
        fetchMs += Clock.nowMs - t0
        done = res.isEmpty || res.contains(ConsumeResult.ReceiveEmpty) ||
          res.contains(ConsumeResult.ReceiveException)
      }
    }

    val selectMs, addMs, getMs = mutable.ArrayBuffer[Double]()
    var cacheMax = 0
    var admitted = 0L
    var bytesWritten = 0L
    var batch = log.getLatestBatchId.getOrElse(-1L)
    def trigger(): Unit = {
      var t0 = Clock.nowMs
      val files = cache.getUnprocessedFiles(Some(in.maxFilesPerTrigger))
      selectMs += Clock.nowMs - t0
      cacheMax = math.max(cacheMax, cache.size)
      if (files.nonEmpty) {
        batch += 1
        val entries = files.map(f => FileEntry(f.filePath, f.timestampMs, batch)).toArray
        val before = Fs.sizes(batchDir)
        t0 = Clock.nowMs
        log.add(batch, entries)
        addMs += Clock.nowMs - t0
        bytesWritten += Fs.sizes(batchDir).collect {
          case (name, size) if !before.get(name).contains(size) => size
        }.sum
        admitted += entries.length
        files.foreach(f => cache.markProcessed(f.filePath))
        client.handleProcessedMessageBatch(files.map(_.messageId))
        cache.purge()
        t0 = Clock.nowMs
        log.get(batch, batch)
        getMs += Clock.nowMs - t0
        cache.purge()
        log.purgeBefore(cache.lastPurgeTimestamp)
      }
    }

    try {
      if (in.prefetchAll) {
        bodies.foreach(send)
        fetchAll()
        in.groups.foreach(_ => trigger())
      } else {
        in.groups.foreach { g =>
          g.foreach(send)
          fetchAll()
          trigger()
        }
      }
    } finally client.close()

    r.attempted += bodies.size
    r.fail(bodies.size - admitted, "replay: announced files not admitted to the log exactly once")
    val compactRe = """"compactions"\s*:\s*(\d+)""".r
    val nCompactions = compactRe.findFirstMatchIn(log.metricsJson).map(_.group(1).toDouble).getOrElse(0.0)
    log.close()
    if (in.standingLog.isEmpty) {
      // no standing checkpoint: time the restart of the log just written
      val (again, ms) = restore()
      restoreMs = ms
      restoreFiles = again.lastRestoreFilesRead.toDouble
      again.close()
    }

    val n = bodies.size.max(1).toDouble
    val calls = queue.receiveCalls.sum().toDouble
    r.put("queue.receive_calls", calls, "count")
    r.put("queue.msgs_per_receive", if (calls > 0) queue.receivedMsgs.sum() / calls else 0.0, "msgs",
      calls.toLong)
    r.put("queue.delete_calls", queue.deleteCalls.sum().toDouble, "count")
    r.put("queue.inflight_max", queue.inFlightPeak.toDouble, "count")
    r.put("queue.redeliveries", queue.redeliveries.sum().toDouble, "count")
    r.put("queue.fetch_ms", fetchMs, "ms")
    r.put("parse.us_per_msg", parseNs / 1e3 / n, "us", bodies.size.toLong)
    r.put("admit.validate_us_per_msg", validateNs / 1e3 / n, "us", bodies.size.toLong)
    r.put("admit.select_ms_p50", p(selectMs, 0.5), "ms", selectMs.size.toLong)
    r.put("admit.select_ms_p95", p(selectMs, 0.95), "ms", selectMs.size.toLong)
    r.put("admit.cache_entries_max", cacheMax.toDouble, "count")
    r.put("log.add_ms_p50", p(addMs, 0.5), "ms", addMs.size.toLong)
    r.put("log.add_ms_p95", p(addMs, 0.95), "ms", addMs.size.toLong)
    r.put("log.bytes_per_entry", if (admitted > 0) bytesWritten.toDouble / admitted else 0.0, "bytes",
      admitted)
    r.put("log.compactions", nCompactions, "count")
    r.put("log.restore_ms", restoreMs, "ms")
    r.put("log.restore_files_read", restoreFiles, "count")
    r.put("log.get_ms_p50", p(getMs, 0.5), "ms", getMs.size.toLong)
  }
}

package graft.sources

import java.nio.charset.StandardCharsets

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => ConnectorOffset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceOffset
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.StructType

/** Push-based (event-notification-driven) streaming file source.
  *
  * The Spark-native rebuild of the reference connector's core
  * (S3ConnectorSource.scala): instead of listing storage every
  * micro-batch, file paths arrive as queue notifications, are validated
  * and deduplicated against an in-memory cache + persistent metadata log,
  * and each trigger commits an offset = one durable batch of file paths.
  * `getBatch` does not discover the files a second time: [[BatchRelation]]
  * stats the batch's paths on the driver and builds the relation over
  * those statuses, so no Spark listing job runs however many files a
  * batch holds. Row reading is fully delegated to Spark's file index and
  * FileFormat machinery, so Catalyst pushdown/pruning and the vectorized
  * parquet reader apply downstream unchanged.
  *
  * Queue acks: once a batch's files are in the metadata log, its
  * messages' deletes go out on the queue client's pool and `latestOffset`
  * returns without them, so the acks run while Spark plans, executes and
  * writes its offset WAL. The next `latestOffset` waits for them first (at
  * most the client's call wait, counted in `phase.ackWaitMs`), and so does
  * `stop()`. Exactly-once rests on the log and Spark's offset WAL, not on
  * the ack: a message whose ack never lands redelivers and is dropped as
  * already persisted.
  *
  * Scale notes (100 TB): driver state is file *metadata* only: the
  * pending set is bounded by ingest lag, the log's index by the
  * maxFileAge horizon; executors read rows directly from storage; the
  * queue fetch overlaps query execution (asyncFetch timeout-then-
  * background), and so do a batch's acks; per-trigger admission is
  * bounded by maxFilesPerTrigger. An AvailableNow drain pays for a
  * backlog in waves of `queue.maxConcurrency` receives, one wave a round,
  * so about backlog / (`maxConcurrency` x 10) round trips; over SQS the
  * receives come from one connection pool per JVM, which keeps at most
  * `maxConcurrency` connections per endpoint for a drain.
  *
  * Batch composition: a default-trigger query cuts each offset from
  * whatever the queue has delivered so far, so its first batch depends on
  * queue timing. A query that needs batches fixed by the announcements
  * alone runs under `Trigger.AvailableNow`: [[prepareForTriggerAvailableNow]]
  * drains the queue before batch 0, and batches are then cut oldest first
  * from the drained snapshot.
  */
class GraftFileSource(
    sqlContext: SQLContext,
    metadataPath: String,
    userSchema: StructType,
    parameters: Map[String, String])
  extends Source with SupportsTriggerAvailableNow with ReportsSourceMetrics with Logging {

  private val options = ConnectorOptions(parameters)
  private val spark = sqlContext.sparkSession
  private val hadoopConf = sqlContext.sparkContext.hadoopConfiguration

  // A checkpoint written by the removed RocksDB log holds its state under
  // `rocksdb/`: an empty file log there would restore batch -1 under
  // Spark's committed offset, and getBatch would silently return nothing
  // for files already acked from the queue.
  locally {
    val legacy = new Path(metadataPath, "rocksdb")
    if (legacy.getFileSystem(hadoopConf).exists(legacy)) {
      throw new GraftSourceException(s"metadata path $metadataPath holds a rocksdb/ directory " +
        "written by the removed RocksDB metadata log backend; this build reads only the file " +
        "log, so restart from a new checkpoint location")
    }
  }
  private val metadataLog: FileMetadataLog = new FileBackedMetadataLog(metadataPath, hadoopConf)
  private val fileCache = new FileCache(options.maxFileAgeMs, metadataLog.newestTimestampMs)
  private val validator = new FileValidator(fileCache, metadataLog, options.pathGlobFilter)
  private val batchRelation = new BatchRelation(spark, options, userSchema)

  // restore the offset from the persisted log (exactly-once on restart)
  private var metadataLogCurrentOffset: Long = metadataLog.getLatestBatchId.getOrElse(-1L)

  @volatile private var reprocessing = false
  @volatile private var availableNowDrained = false

  // the last batch's queue deletes, in flight while Spark runs the batch
  private var pendingAcks: Future[Unit] = Future.unit
  @volatile private var ackWaitNs = 0L // summed over triggers: phase.ackWaitMs
  @volatile private var drainNs = 0L // the last AvailableNow drain: phase.drainMs
  @volatile private var logAddNs = 0L // the last trigger's metadataLog.add: phase.logAddMs
  @volatile private var getBatchNs = 0L // the last getBatch: phase.getBatchMs

  /** Admit -> queue action, run on the queue client's fetch threads
    * (reference: S3ConnectorSource.scala:76-101). [[FileValidator.admit]]
    * validates and inserts as one step against the trigger's
    * `markProcessed`, so duplicate announcements racing each other or a
    * trigger admit a path at most once; the queue calls run after it. */
  private def consume(meta: FileMetadata): Unit = {
    import FileValidResult._
    validator.admit(meta) match {
      case Ok => ()
      case ExistInCacheNotProcessed =>
        // pending in another message: retry later rather than dropping
        queueClient.setMessageVisibility(meta.messageId, options.visibilityTimeoutSeconds)
      case verdict =>
        logDebug(s"dropping ${meta.filePath}: $verdict")
        queueClient.deleteMessage(meta.messageId)
    }
  }

  private val queueClient: QueueFetchClient = {
    val transport: RawQueue = options.queueType match {
      case ConnectorOptions.QUEUE_TYPE_IN_MEMORY => InMemoryQueueRegistry.transport(options.queueName)
      case ConnectorOptions.QUEUE_TYPE_SQS =>
        // SDK-free SQS wire binding: queueName carries the full queue URL.
        // The signing region follows the URL's region when it names one
        // (cross-region queue access), falling back to the configured region.
        new SqsHttpQueue(options.queueName,
          SqsHttpQueue.regionForQueueUrl(options.queueName, options.region),
          options.credentialsProvider(), options.longPollWaitSeconds,
          maxRetries = options.queueMaxRetries)
      case other =>
        throw new GraftUnsupportedQueueTypeException(other)
    }
    new QueueFetchClient(transport, options.queueName, consume, options.maxFilesPerTrigger,
      options.visibilityTimeoutSeconds, options.maxConcurrency,
      options.keepMessageOnConsumerError)
  }

  handleReprocessing()

  // ---- reprocess / replay (reference: S3ConnectorSource.scala:112-154) --
  private def handleReprocessing(): Unit = {
    import ConnectorOptions._
    options.reprocessState match {
      case NoReprocess => ()
      case ReprocessDryRun =>
        val files = replayFiles()
        logInfo(s"reprocess dry-run for batches " +
          s"[${options.reprocessStartBatchId.get}, ${options.reprocessEndBatchId.get}]:")
        files.foreach(f => logInfo(s"  ${f.path} (ts=${f.timestampMs}, batch=${f.batchId})"))
        throw new GraftReprocessDryRunException(files.length)
      case ReprocessInAction =>
        val lockPath = new Path(metadataPath, "reprocess.lock")
        val fm = CheckpointFileManager.create(new Path(metadataPath), hadoopConf)
        if (fm.exists(lockPath)) {
          throw new GraftReprocessLockExistsException(lockPath.toString)
        }
        val out = fm.createAtomic(lockPath, overwriteIfPossible = false)
        try {
          out.write(System.currentTimeMillis().toString.getBytes(StandardCharsets.UTF_8))
          out.close()
        } catch { case t: Throwable => out.cancel(); throw t }
        val files = replayFiles()
        files.foreach { e =>
          fileCache.addIfAbsent(e.path,
            QueueMessageDesc(e.timestampMs, isProcessed = false, "reprocess"))
        }
        reprocessing = true
        logInfo(s"reprocessing ${files.length} files from batches " +
          s"[${options.reprocessStartBatchId.get}, ${options.reprocessEndBatchId.get}]")
    }
  }

  private def replayFiles(): Array[FileEntry] =
    metadataLog.get(options.reprocessStartBatchId.get, options.reprocessEndBatchId.get)
      .flatMap(_._2)

  /** Trigger.AvailableNow: drain the queue completely up front, then let
    * normal triggers admit the snapshot from the cache in
    * maxFilesPerTrigger chunks with no further queue consumption — the
    * query self-terminates once offsets stop advancing. (Implementing
    * SupportsTriggerAvailableNow directly keeps MicroBatchExecution from
    * pinning the end offset at the first getOffset, which would truncate
    * the run to one chunk.)
    *
    * A drain round takes what `maxConcurrency` full receives (10 messages
    * each) hold and opens with all of them at once, so each round is one
    * wave and a backlog costs about backlog / (`maxConcurrency` x 10)
    * round trips. The trade: an empty queue costs `maxConcurrency`
    * receives instead of one, once per query. */
  override def prepareForTriggerAvailableNow(): Unit = {
    val t0 = System.nanoTime()
    val roundBudget = Some(options.maxConcurrency * 10)
    var done = false
    var failedRounds = 0
    while (!done) {
      // round bound derives from the polling options (not a magic constant)
      val res = Await.result(
        queueClient.asyncFetch(options.queueFetchWaitTimeoutSeconds, roundBudget, openWide = true),
        options.drainRoundTimeoutSeconds.seconds)
      if (res.contains(ConsumeResult.ReceiveException)) {
        // a failing queue must NOT read as a clean drain: retry within the
        // error budget, then fail the query loudly
        failIfReceiveBudgetExhausted("AvailableNow drain")
        // bounded exponential backoff between failing rounds (200ms, 400ms,
        // ... capped at 2s) so a flapping queue is retried gently instead
        // of busy-spun; the error budget still bounds total attempts
        failedRounds += 1
        Thread.sleep(math.min(200L << math.min(failedRounds - 1, 4), 2000L))
      } else {
        failedRounds = 0
        done = res.isEmpty || res.contains(ConsumeResult.ReceiveEmpty)
      }
    }
    availableNowDrained = true
    drainNs = System.nanoTime() - t0
    logInfo(s"AvailableNow: queue drained, ${fileCache.size} files cached")
  }

  private def failIfReceiveBudgetExhausted(where: String): Unit = {
    val streak = queueClient.consecutiveReceiveFailures
    if (streak >= options.fetchErrorBudget) {
      throw new GraftSourceException(
        s"$where: $streak consecutive queue receive failures (budget " +
          s"${options.fetchErrorBudget}) on queue '${options.queueName}' — failing the " +
          s"query instead of treating a dead queue as empty")
    }
  }

  // ---- offset advance (reference: S3ConnectorSource.scala:193-242) ------
  private def fetchMaxOffset(): Option[Offset] = synchronized {
    if (!pendingAcks.isCompleted) {
      val t0 = System.nanoTime()
      queueClient.awaitCalls(pendingAcks)
      ackWaitNs += System.nanoTime() - t0
    }
    // no queue consumption while a replay or an AvailableNow snapshot drains
    if (!reprocessing && !availableNowDrained) {
      // continuous-mode error budget: fetches are fire-and-forget, so a dead
      // queue would otherwise just look idle forever — the failure streak
      // from completed background rounds surfaces here, on the trigger thread
      failIfReceiveBudgetExhausted("queue fetch")
      queueClient.asyncFetch(options.queueFetchWaitTimeoutSeconds)
    }
    val files = fileCache.getUnprocessedFiles(options.maxFilesPerTrigger)
    logAddNs = 0L
    if (files.nonEmpty) {
      metadataLogCurrentOffset += 1
      val entries =
        files.map(f => FileEntry(f.filePath, f.timestampMs, metadataLogCurrentOffset)).toArray
      val t0 = System.nanoTime()
      metadataLog.add(metadataLogCurrentOffset, entries)
      logAddNs = System.nanoTime() - t0
      logInfo(s"batch $metadataLogCurrentOffset: ${entries.length} files admitted")
      // the log holds them now: it alone records them from here on
      files.foreach(f => fileCache.markProcessed(f.filePath))
      // ack while the batch runs; the next trigger or stop() waits for it
      pendingAcks = queueClient.deleteMessageBatchAsync(
        files.map(_.messageId).filterNot(_ == "reprocess"))
    }
    // checked with or without a batch: replayed files the horizon has
    // expired are never selected, and must not stop queue consumption
    if (reprocessing && fileCache.getUnprocessedFiles(Some(1)).isEmpty) {
      reprocessing = false
      logInfo("reprocess drained; resuming queue consumption")
    }
    fileCache.purge()
    if (metadataLogCurrentOffset >= 0) Some(FileStreamSourceOffset(metadataLogCurrentOffset))
    else None
  }

  // ---- Source contract --------------------------------------------------
  override def schema: StructType = userSchema

  override def getOffset: Option[Offset] = fetchMaxOffset()

  // SupportsAdmissionControl (pulled in by SupportsTriggerAvailableNow):
  // the engine calls latestOffset instead of getOffset. Per-trigger
  // admission is governed by the source's own options, which is also what
  // the default read limit advertises.
  override def getDefaultReadLimit: ReadLimit =
    options.maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: ConnectorOffset, limit: ReadLimit): ConnectorOffset =
    fetchMaxOffset().orNull

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val t0 = System.nanoTime()
    val startId = start.map(logOffsetOf).getOrElse(-1L)
    val endId = logOffsetOf(end)
    val entries =
      if (endId <= startId) Array.empty[FileEntry]
      else metadataLog.get(startId + 1, endId).flatMap(_._2)
    // second glob enforcement point (reference: S3ConnectorSource.scala:186-191)
    val paths = entries.map(_.path).filter(validator.matchesGlob).toSeq
    logInfo(s"getBatch ($startId, $endId]: ${paths.length} files")
    // the relation is built over driver-side stats of exactly these paths
    // (no listing job); an announced directory is still listed
    val df =
      if (paths.isEmpty) GraftShims.emptyStreamingDataFrame(spark, userSchema)
      else GraftShims.ofRows(spark, LogicalRelation(batchRelation(paths), isStreaming = true))
    getBatchNs = System.nanoTime() - t0
    df
  }

  /** Spark's own decoder: it reads both the `{"logOffset":n}` JSON form
    * and the legacy plain-long form of a recovered offset. */
  private def logOffsetOf(o: Offset): Long = FileStreamSourceOffset(o).logOffset

  override def commit(end: Offset): Unit = {
    fileCache.purge()
    // amortized horizon cleanup in place of the reference's background
    // maintenance thread (<=20 batches per commit keeps it O(1)-ish)
    metadataLog.purgeBefore(fileCache.lastPurgeTimestamp)
    logInfo(s"committed ${logOffsetOf(end)}; queue metrics: ${queueClient.metrics.json}; " +
      s"metadata log metrics: ${metadataLog.metricsJson}")
  }

  /** [[ReportsSourceMetrics]]: surface the connector's operational state
    * through the engine's own progress path — `query.lastProgress
    * .sources[i].metrics` carries the 14 queue counters (prefixed
    * `queue.`), the metadata-log commit metrics (prefixed `log.`), the
    * files admitted but not yet logged (`pendingFiles`), the wall time of
    * the last AvailableNow drain (`phase.drainMs`, 0 without one), the
    * time triggers spent waiting for the previous batch's acks
    * (`phase.ackWaitMs`, summed since the source started), the last
    * trigger's metadata-log write, compaction included (`phase.logAddMs`,
    * 0 when it admitted no batch) and the last `getBatch`'s relation build
    * (`phase.getBatchMs`), so an
    * operator watching StreamingQuery progress (or a
    * StreamingQueryListener feeding a metrics system)
    * sees queue health per trigger without log scraping (reference
    * surface: AsyncClientMetrics.scala:22-38, exposed there via
    * periodic logging only). */
  override def metrics(latestConsumedOffset: java.util.Optional[ConnectorOffset])
      : java.util.Map[String, String] = {
    val m = new java.util.LinkedHashMap[String, String]()
    queueClient.metrics.snapshot.foreach { case (k, v) => m.put(s"queue.$k", v.toString) }
    metadataLog.metrics.foreach { case (k, v) => m.put(s"log.$k", v.toString) }
    m.put("pendingFiles", fileCache.size.toString)
    m.put("phase.drainMs", (drainNs / 1000000).toString)
    m.put("phase.ackWaitMs", (ackWaitNs / 1000000).toString)
    m.put("phase.logAddMs", (logAddNs / 1000000).toString)
    m.put("phase.getBatchMs", (getBatchNs / 1000000).toString)
    m
  }

  // close() waits for in-flight calls, so the last batch's acks land first
  override def stop(): Unit = {
    try queueClient.close()
    finally metadataLog.close()
  }

  override def toString: String =
    s"GraftFileSource[queue=${options.queueName}, format=${options.fileFormat}]"
}

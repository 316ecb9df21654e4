package graft.sources

import java.util.Locale
import java.util.concurrent.TimeUnit

/** Option parsing + validation for the push-based file source.
  *
  * Mirrors the reference's option surface and cross-field rules
  * (reference: S3ConnectorSourceOptions.scala:50-194): required fileFormat
  * and queue identity, maxFilesPerTrigger with non-positive => unlimited,
  * maxFileAge duration parsing, reprocess range checks, fetch-wait default
  * derived from the long-poll wait.
  *
  * Keys are case-insensitive. All keys also accept a `spark.graft.` prefix
  * so they can be set via session conf passthrough.
  */
final case class ConnectorOptions(
    fileFormat: String,
    queueType: String,
    queueName: String,
    maxFilesPerTrigger: Option[Int],
    maxFileAgeMs: Long,
    pathGlobFilter: Option[String],
    partitionColumns: Option[Seq[String]],
    basePath: Option[String],
    queueFetchWaitTimeoutSeconds: Long,
    longPollWaitSeconds: Int,
    maxConcurrency: Int,
    visibilityTimeoutSeconds: Int,
    keepMessageOnConsumerError: Boolean,
    reprocessStartBatchId: Option[Long],
    reprocessEndBatchId: Option[Long],
    reprocessDryRun: Boolean,
    fetchErrorBudget: Int,
    queueMaxRetries: Int,
    region: String,
    staticCredentials: Option[QueueCredentials],
    formatOptions: Map[String, String]) {

  /** Credentials for the SQS wire binding: explicit option-supplied keys
    * win; otherwise the default chain (env -> sysprops -> profile -> IMDS),
    * mirroring the reference's provider entry point
    * (ConnectorAwsCredentialsProvider.scala:70-82). */
  def credentialsProvider(): ConnectorCredentialsProvider = staticCredentials match {
    case Some(c) => StaticCredentialsProvider(c)
    case None => ConnectorCredentialsProvider.defaultChain()
  }

  /** Upper bound on ONE fetch round during an AvailableNow drain, derived
    * from the polling options rather than a magic constant: a round's
    * queue-side latency is governed by the long-poll wait and the caller-
    * side fetch wait, so 10x their max (floor 60 s) is generous slack for
    * consume work while still bounding a hung round. */
  def drainRoundTimeoutSeconds: Long =
    math.max(60L, 10L * math.max(queueFetchWaitTimeoutSeconds, longPollWaitSeconds.toLong))

  def reprocessState: ConnectorOptions.ReprocessState =
    (reprocessStartBatchId, reprocessEndBatchId) match {
      case (Some(_), Some(_)) if reprocessDryRun => ConnectorOptions.ReprocessDryRun
      case (Some(_), Some(_))                    => ConnectorOptions.ReprocessInAction
      case _                                     => ConnectorOptions.NoReprocess
    }
}

object ConnectorOptions {
  sealed trait ReprocessState
  case object NoReprocess extends ReprocessState
  case object ReprocessDryRun extends ReprocessState
  case object ReprocessInAction extends ReprocessState

  val FILE_FORMAT = "fileformat"
  val QUEUE_TYPE = "queuetype"
  val QUEUE_NAME = "queuename"
  val QUEUE_URL = "queueurl" // alias for queueName, reference parity
  val MAX_FILES_PER_TRIGGER = "maxfilespertrigger"
  val MAX_FILE_AGE = "maxfileage"
  val PATH_GLOB_FILTER = "pathglobfilter"
  val PARTITION_COLUMNS = "partitioncolumns"
  val BASE_PATH = "basepath"
  val QUEUE_FETCH_WAIT_TIMEOUT_SECONDS = "queuefetchwaittimeoutseconds"
  val LONG_POLL_WAIT_SECONDS = "queue.longpollingwaittimeseconds"
  val MAX_CONCURRENCY = "queue.maxconcurrency"
  val VISIBILITY_TIMEOUT_SECONDS = "queue.visibilitytimeoutseconds"
  val KEEP_MESSAGE_ON_CONSUMER_ERROR = "queue.keepmessageforconsumererror"
  val REPROCESS_START_BATCH_ID = "reprocessstartbatchid"
  val REPROCESS_END_BATCH_ID = "reprocessendbatchid"
  val REPROCESS_DRY_RUN = "reprocessdryrun"
  val SORT_BATCH_BY_TIMESTAMP = "sortbatchbytimestamp" // accepted, inert: batches are oldest first
  val METADATA_LOG = "metadatalog" // "file", the only metadata log
  val FETCH_ERROR_BUDGET = "queue.fetcherrorbudget"
  val MAX_RETRIES = "queue.maxretries"
  val REGION = "queue.region"
  val ACCESS_KEY_ID = "queue.accesskeyid"
  val SECRET_ACCESS_KEY = "queue.secretaccesskey"
  val SESSION_TOKEN = "queue.sessiontoken"

  val METADATA_LOG_FILE = "file"

  val QUEUE_TYPE_IN_MEMORY = "inmemory"
  val QUEUE_TYPE_SQS = "sqs"

  val DEFAULT_MAX_FILES_PER_TRIGGER = 100
  val DEFAULT_MAX_FILE_AGE = "15d"
  val DEFAULT_LONG_POLL_WAIT_SECONDS = 2
  val DEFAULT_MAX_CONCURRENCY = 50
  val MAX_POOL_SIZE = 200
  val DEFAULT_VISIBILITY_TIMEOUT_SECONDS = 60
  val DEFAULT_FETCH_ERROR_BUDGET = 3
  val DEFAULT_MAX_RETRIES: Int = SqsHttpQueue.DefaultMaxRetries
  val DEFAULT_REGION = "us-east-1"

  /** Keys the source owns (lowercase, `spark.graft.` stripped); all others
    * pass through to the format reader. */
  val ownKeys: Set[String] = Set(FILE_FORMAT, QUEUE_TYPE, QUEUE_NAME, QUEUE_URL,
    MAX_FILES_PER_TRIGGER, MAX_FILE_AGE, PATH_GLOB_FILTER, PARTITION_COLUMNS, BASE_PATH,
    QUEUE_FETCH_WAIT_TIMEOUT_SECONDS, LONG_POLL_WAIT_SECONDS, MAX_CONCURRENCY,
    VISIBILITY_TIMEOUT_SECONDS, KEEP_MESSAGE_ON_CONSUMER_ERROR,
    REPROCESS_START_BATCH_ID, REPROCESS_END_BATCH_ID, REPROCESS_DRY_RUN,
    SORT_BATCH_BY_TIMESTAMP, METADATA_LOG, FETCH_ERROR_BUDGET,
    MAX_RETRIES, REGION, ACCESS_KEY_ID, SECRET_ACCESS_KEY, SESSION_TOKEN)

  /** Parse a duration like "15d", "2h", "30m", "45s", "500ms", bare = ms. */
  def durationMs(s: String): Long = {
    val t = s.trim.toLowerCase(Locale.ROOT)
    val (num, unit) =
      if (t.endsWith("ms")) (t.dropRight(2), TimeUnit.MILLISECONDS)
      else if (t.endsWith("s")) (t.dropRight(1), TimeUnit.SECONDS)
      else if (t.endsWith("m")) (t.dropRight(1), TimeUnit.MINUTES)
      else if (t.endsWith("h")) (t.dropRight(1), TimeUnit.HOURS)
      else if (t.endsWith("d")) (t.dropRight(1), TimeUnit.DAYS)
      else (t, TimeUnit.MILLISECONDS)
    require(num.nonEmpty && num.forall(c => c.isDigit),
      s"cannot parse duration '$s'")
    unit.toMillis(num.toLong)
  }

  def apply(parameters: Map[String, String]): ConnectorOptions = {
    // normalize: lowercase keys, strip optional spark.graft. prefix
    val params: Map[String, String] = parameters.map { case (k, v) =>
      val lk = k.toLowerCase(Locale.ROOT)
      (if (lk.startsWith("spark.graft.")) lk.stripPrefix("spark.graft.") else lk) -> v
    }
    def get(key: String): Option[String] = params.get(key)

    val fileFormat = get(FILE_FORMAT).getOrElse(
      throw new GraftSourceException(s"option '$FILE_FORMAT' is required (csv/json/parquet/text)"))
    val queueType = get(QUEUE_TYPE).getOrElse(QUEUE_TYPE_IN_MEMORY).toLowerCase(Locale.ROOT)
    if (queueType != QUEUE_TYPE_IN_MEMORY && queueType != QUEUE_TYPE_SQS) {
      throw new GraftUnsupportedQueueTypeException(queueType)
    }
    val queueName = get(QUEUE_NAME).orElse(get(QUEUE_URL)).getOrElse(
      throw new GraftSourceException(s"option '$QUEUE_NAME' (or '$QUEUE_URL') is required"))

    // absent => default 100; explicitly non-positive or unparsable =>
    // unlimited (reference parity: S3ConnectorSourceOptions.scala:92-95)
    val maxFiles = get(MAX_FILES_PER_TRIGGER) match {
      case None => Some(DEFAULT_MAX_FILES_PER_TRIGGER)
      case Some(v) => scala.util.Try(v.trim.toInt).toOption.filter(_ > 0)
    }

    val maxFileAgeMs = durationMs(get(MAX_FILE_AGE).getOrElse(DEFAULT_MAX_FILE_AGE))

    val partitionColumns = get(PARTITION_COLUMNS)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

    val longPoll = get(LONG_POLL_WAIT_SECONDS).map(_.toInt).getOrElse(DEFAULT_LONG_POLL_WAIT_SECONDS)
    require(longPoll >= 0 && longPoll <= 20, s"$LONG_POLL_WAIT_SECONDS must be in [0, 20], got $longPoll")

    // default fetch wait = 2x long poll (reference parity :172-173)
    val fetchWait = get(QUEUE_FETCH_WAIT_TIMEOUT_SECONDS).map(_.toLong).getOrElse(2L * longPoll)

    val maxConcurrency =
      math.min(get(MAX_CONCURRENCY).map(_.toInt).getOrElse(DEFAULT_MAX_CONCURRENCY), MAX_POOL_SIZE)
    require(maxConcurrency > 0, s"$MAX_CONCURRENCY must be positive")

    val reStart = get(REPROCESS_START_BATCH_ID).map(_.toLong)
    val reEnd = get(REPROCESS_END_BATCH_ID).map(_.toLong)
    (reStart, reEnd) match {
      case (Some(s0), Some(e0)) =>
        require(s0 >= 0 && s0 <= e0,
          s"reprocess range invalid: start=$s0 end=$e0 (need 0 <= start <= end)")
      case (None, None) => ()
      case _ => throw new GraftReprocessException(
        "reprocessStartBatchId and reprocessEndBatchId must be set together")
    }

    // the key stays owned so a stale setting never reaches the format reader
    get(METADATA_LOG).map(_.trim.toLowerCase(Locale.ROOT)).foreach { b =>
      require(b == METADATA_LOG_FILE, s"$METADATA_LOG must be '$METADATA_LOG_FILE', got '$b': " +
        "the RocksDB metadata log backend was removed and the file log is the only one")
    }

    // anything we don't own passes through to the file format reader
    val formatOptions = params.filterNot { case (k, _) => ownKeys.contains(k) }

    ConnectorOptions(
      fileFormat = fileFormat,
      queueType = queueType,
      queueName = queueName,
      maxFilesPerTrigger = maxFiles,
      maxFileAgeMs = maxFileAgeMs,
      pathGlobFilter = get(PATH_GLOB_FILTER),
      partitionColumns = partitionColumns,
      basePath = get(BASE_PATH),
      queueFetchWaitTimeoutSeconds = fetchWait,
      longPollWaitSeconds = longPoll,
      maxConcurrency = maxConcurrency,
      visibilityTimeoutSeconds =
        get(VISIBILITY_TIMEOUT_SECONDS).map(_.toInt).getOrElse(DEFAULT_VISIBILITY_TIMEOUT_SECONDS),
      keepMessageOnConsumerError =
        get(KEEP_MESSAGE_ON_CONSUMER_ERROR).exists(_.trim.equalsIgnoreCase("true")),
      reprocessStartBatchId = reStart,
      reprocessEndBatchId = reEnd,
      reprocessDryRun = get(REPROCESS_DRY_RUN).forall(_.trim.equalsIgnoreCase("true")),
      fetchErrorBudget = {
        val n = get(FETCH_ERROR_BUDGET).map(_.trim.toInt).getOrElse(DEFAULT_FETCH_ERROR_BUDGET)
        require(n > 0, s"$FETCH_ERROR_BUDGET must be positive, got $n")
        n
      },
      queueMaxRetries = {
        // 0 is legal (retry disabled); negative is a config error
        val n = get(MAX_RETRIES).map(_.trim.toInt).getOrElse(DEFAULT_MAX_RETRIES)
        require(n >= 0, s"$MAX_RETRIES must be >= 0, got $n")
        n
      },
      region = get(REGION).getOrElse(DEFAULT_REGION),
      staticCredentials = (get(ACCESS_KEY_ID), get(SECRET_ACCESS_KEY)) match {
        case (Some(id), Some(secret)) =>
          Some(QueueCredentials(id, secret, get(SESSION_TOKEN)))
        case (None, None) =>
          // a token alone can't be honored; silently falling through to the
          // default chain would ignore explicit user configuration
          if (get(SESSION_TOKEN).isDefined) {
            throw new GraftSourceException(
              s"$SESSION_TOKEN requires $ACCESS_KEY_ID and $SECRET_ACCESS_KEY to be set")
          }
          None
        case _ => throw new GraftSourceException(
          s"$ACCESS_KEY_ID and $SECRET_ACCESS_KEY must be set together")
      },
      formatOptions = formatOptions)
  }
}

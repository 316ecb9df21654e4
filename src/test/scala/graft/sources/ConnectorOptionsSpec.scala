package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class ConnectorOptionsSpec extends AnyFunSuite {
  private val base = Map("fileFormat" -> "csv", "queueName" -> "q1")

  test("defaults") {
    val o = ConnectorOptions(base)
    assert(o.fileFormat == "csv")
    assert(o.queueType == ConnectorOptions.QUEUE_TYPE_IN_MEMORY)
    assert(o.maxFilesPerTrigger.contains(100))
    assert(o.maxFileAgeMs == 15L * 24 * 3600 * 1000)
    assert(o.queueFetchWaitTimeoutSeconds == 2 * o.longPollWaitSeconds)
    assert(o.reprocessState == ConnectorOptions.NoReprocess)
  }

  test("sortBatchByTimestamp stays owned: accepted, never passed to the format reader") {
    val o = ConnectorOptions(base + ("sortBatchByTimestamp" -> "true"))
    assert(!o.formatOptions.contains(ConnectorOptions.SORT_BATCH_BY_TIMESTAMP))
  }

  test("fileFormat required") {
    val e = intercept[GraftSourceException](ConnectorOptions(Map("queueName" -> "q")))
    assert(e.getMessage.contains("fileformat"))
  }

  test("queueName or queueUrl required; queueUrl aliases") {
    intercept[GraftSourceException](ConnectorOptions(Map("fileFormat" -> "csv")))
    assert(ConnectorOptions(Map("fileFormat" -> "csv", "queueUrl" -> "u")).queueName == "u")
  }

  test("metadataLog: file is accepted, the removed rocksdb backend fails at parse naming it") {
    assert(!ConnectorOptions(base + ("metadataLog" -> "file")).formatOptions.contains("metadatalog"))
    val e = intercept[IllegalArgumentException](ConnectorOptions(base + ("metadataLog" -> "rocksdb")))
    assert(e.getMessage.contains("RocksDB") && e.getMessage.contains("removed"), e.getMessage)
  }

  test("unsupported queue type throws") {
    intercept[GraftUnsupportedQueueTypeException](
      ConnectorOptions(base + ("queueType" -> "kafka")))
  }

  test("non-positive / garbage maxFilesPerTrigger means unlimited (reference parity)") {
    assert(ConnectorOptions(base + ("maxFilesPerTrigger" -> "-1")).maxFilesPerTrigger.isEmpty)
    assert(ConnectorOptions(base + ("maxFilesPerTrigger" -> "0")).maxFilesPerTrigger.isEmpty)
    assert(ConnectorOptions(base + ("maxFilesPerTrigger" -> "nope")).maxFilesPerTrigger.isEmpty)
    assert(ConnectorOptions(base + ("maxFilesPerTrigger" -> "7")).maxFilesPerTrigger.contains(7))
  }

  test("maxFileAge duration parsing") {
    assert(ConnectorOptions(base + ("maxFileAge" -> "2h")).maxFileAgeMs == 7200000L)
    assert(ConnectorOptions(base + ("maxFileAge" -> "30m")).maxFileAgeMs == 1800000L)
    assert(ConnectorOptions(base + ("maxFileAge" -> "45s")).maxFileAgeMs == 45000L)
    assert(ConnectorOptions(base + ("maxFileAge" -> "500ms")).maxFileAgeMs == 500L)
    intercept[IllegalArgumentException](ConnectorOptions(base + ("maxFileAge" -> "abc")))
  }

  test("keys are case-insensitive and accept spark.graft. prefix") {
    val o = ConnectorOptions(Map("FILEFORMAT" -> "json", "spark.graft.queueName" -> "q2",
      "MaxFilesPerTrigger" -> "5"))
    assert(o.fileFormat == "json" && o.queueName == "q2" && o.maxFilesPerTrigger.contains(5))
  }

  test("reprocess state machine + validation") {
    val dry = ConnectorOptions(base ++ Map(
      "reprocessStartBatchId" -> "1", "reprocessEndBatchId" -> "3"))
    assert(dry.reprocessState == ConnectorOptions.ReprocessDryRun) // dry-run is the default
    val act = ConnectorOptions(base ++ Map(
      "reprocessStartBatchId" -> "1", "reprocessEndBatchId" -> "3", "reprocessDryRun" -> "false"))
    assert(act.reprocessState == ConnectorOptions.ReprocessInAction)
    intercept[IllegalArgumentException](ConnectorOptions(base ++ Map(
      "reprocessStartBatchId" -> "5", "reprocessEndBatchId" -> "3")))
    intercept[GraftReprocessException](ConnectorOptions(base + ("reprocessStartBatchId" -> "1")))
  }

  test("static credentials: together, mismatched, and token-without-keys") {
    val full = ConnectorOptions(base ++ Map(
      "queue.accessKeyId" -> "AK", "queue.secretAccessKey" -> "SK",
      "queue.sessionToken" -> "TOK"))
    assert(full.staticCredentials.contains(QueueCredentials("AK", "SK", Some("TOK"))))
    assert(ConnectorOptions(base).staticCredentials.isEmpty)
    // key without secret (and vice versa) is a configuration error
    intercept[GraftSourceException](
      ConnectorOptions(base + ("queue.accessKeyId" -> "AK")))
    intercept[GraftSourceException](
      ConnectorOptions(base + ("queue.secretAccessKey" -> "SK")))
    // a session token alone must be rejected, not silently dropped into
    // the default chain
    val e = intercept[GraftSourceException](
      ConnectorOptions(base + ("queue.sessionToken" -> "TOK")))
    assert(e.getMessage.contains("sessiontoken"), s"unexpected: ${e.getMessage}")
  }

  test("unknown options pass through to the file format") {
    val o = ConnectorOptions(base ++ Map("header" -> "true", "sep" -> "|"))
    assert(o.formatOptions == Map("header" -> "true", "sep" -> "|"))
  }

  test("long poll range check and concurrency cap") {
    intercept[IllegalArgumentException](
      ConnectorOptions(base + ("queue.longPollingWaitTimeSeconds" -> "21")))
    assert(ConnectorOptions(base + ("queue.maxConcurrency" -> "900")).maxConcurrency == 200)
  }

  test("fetch error budget: default, override, must be positive") {
    assert(ConnectorOptions(base).fetchErrorBudget == 3)
    assert(ConnectorOptions(base + ("queue.fetchErrorBudget" -> "7")).fetchErrorBudget == 7)
    intercept[IllegalArgumentException](
      ConnectorOptions(base + ("queue.fetchErrorBudget" -> "0")))
  }

  test("queue.maxRetries: default 3, override, 0 legal (disabled), negative rejected") {
    assert(ConnectorOptions(base).queueMaxRetries == 3)
    assert(ConnectorOptions(base + ("queue.maxRetries" -> "5")).queueMaxRetries == 5)
    assert(ConnectorOptions(base + ("queue.maxRetries" -> "0")).queueMaxRetries == 0)
    intercept[IllegalArgumentException](
      ConnectorOptions(base + ("queue.maxRetries" -> "-1")))
  }

  test("drain round timeout derives from the polling options") {
    assert(ConnectorOptions(base).drainRoundTimeoutSeconds == 60L) // floor
    val o = ConnectorOptions(base + ("queueFetchWaitTimeoutSeconds" -> "30"))
    assert(o.drainRoundTimeoutSeconds == 300L)
  }
}

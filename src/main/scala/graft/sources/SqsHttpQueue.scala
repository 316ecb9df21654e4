package graft.sources

import java.io.ByteArrayInputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Document, Element}

/** SDK-free SQS transport: the AWS Query protocol (form-encoded POST to the
  * queue URL, XML responses) signed with [[SigV4]]. Binds [[RawQueue]] to a
  * real SQS endpoint — or to the in-process protocol stub in tests — giving
  * the connector the reference's headline capability
  * (AsyncSqsClientImpl.scala:169-182 ReceiveMessage, :211-218 DeleteMessage,
  * :251-265 DeleteMessageBatch, :442-449 ChangeMessageVisibility) without
  * the AWS SDK on the classpath.
  *
  * Wire mapping note: [[QueueMessage.messageId]] carries the SQS
  * ReceiptHandle (the token every mutation call needs), matching the
  * reference, which threads receiptHandle as the message id end-to-end
  * (AsyncSqsClientImpl.scala:324,342-343).
  *
  * Error contract (see [[RawQueue]]): a failed CALL (transport error,
  * non-entry-level service error) throws; an entry-level rejection
  * (unknown/expired receipt handle) returns false.
  *
  * Transient wire failures (connect/read IOException, HTTP 5xx, 429)
  * are retried in-place up to `maxRetries` times with exponential
  * backoff BEFORE the call-level error contract applies (reference
  * parity: S3ConnectorSourceOptions.scala:84 `sqsMaxRetries` wired
  * through AsyncSqsClientBuilder.scala:57-89 into the SDK's retry
  * policy). A call that eventually succeeds is indistinguishable from
  * one that succeeded first try — in particular it does NOT surface to
  * [[QueueFetchClient]] as a receive failure, so the source's
  * fetch-error budget is only consumed by failures that exhaust the
  * wire retries. Every retry attempt is RE-SIGNED with a fresh
  * x-amz-date (a replayed signature could fall outside the service's
  * clock-skew window after backoff). All four actions are safe to
  * retry: receive is at-least-once by contract; delete / visibility /
  * batch-delete are idempotent per receipt handle.
  *
  * Connections: every queue sends through one `HttpClient` per JVM
  * (`SqsHttpQueue.http`), so its connection pool is shared across queues,
  * sources and query restarts. A restarted query reuses pooled connections
  * instead of paying a new handshake for each, and a stopped source leaves
  * no connections of its own behind (JDK 17's `HttpClient` has no
  * `close()`: a per-queue client would hold its connections until a GC
  * cleared it). The pool holds at most as many connections to an endpoint
  * as calls were ever in flight to it at once, which for one source is
  * `queue.maxConcurrency` (an AvailableNow drain's wave width). Request
  * timeouts, retries, signing and [[close]] (which closes only this
  * queue's credentials) stay per queue.
  */
final class SqsHttpQueue(
    queueUrl: String,
    region: String,
    credentials: ConnectorCredentialsProvider,
    longPollWaitSeconds: Int,
    requestTimeoutSeconds: Int = 30,
    maxRetries: Int = SqsHttpQueue.DefaultMaxRetries,
    clock: () => Long = () => System.currentTimeMillis(),
    sleeper: Long => Unit = Thread.sleep) extends RawQueue {

  private val uri = URI.create(queueUrl)

  /** Attempts (beyond the first) that were retried; observability for the
    * "transient blip vs real outage" distinction. */
  val retriedAttempts = new java.util.concurrent.atomic.LongAdder
  /** Calls that failed transiently at least once and then succeeded. */
  val recoveredCalls = new java.util.concurrent.atomic.LongAdder

  // entry-level error codes that always mean "this handle", not "this call"
  private val EntryLevelCodes = Set("ReceiptHandleIsInvalid", "MessageNotInflight")

  /** Entry-level iff the error is about the receipt handle. SQS reports an
    * expired/foreign handle as `InvalidParameterValue` with a Message naming
    * the ReceiptHandle parameter — but the same code also covers call-level
    * misconfiguration (e.g. VisibilityTimeout above the 43200 s max), which
    * must surface loudly, not be swallowed as a per-entry false. */
  private def isEntryLevel(code: String, message: Option[String]): Boolean =
    EntryLevelCodes(code) ||
      (code == "InvalidParameterValue" &&
        message.exists(_.toLowerCase.replace(" ", "").contains("receipthandle")))

  private def formEncode(params: Seq[(String, String)]): String =
    params.map { case (k, v) => s"${SigV4.uriEncode(k)}=${SigV4.uriEncode(v)}" }.mkString("&")

  /** POST one signed Query-protocol action with transient-failure retry;
    * returns the final (status, body). Retryable: transport IOException,
    * HTTP 5xx, HTTP 429 (throttle). NOT retryable: any other 4xx — auth
    * and parameter errors are deterministic and must surface immediately. */
  private def call(action: String, params: Seq[(String, String)]): (Int, String) = {
    val all = ("Action" -> action) +: ("Version" -> "2012-11-05") +: params
    val payload = formEncode(all).getBytes(StandardCharsets.UTF_8)

    def attemptOnce(): (Int, String) = {
      val signed = SigV4.signRequest(
        method = "POST",
        uri = uri,
        queryParams = Nil,
        baseHeaders = Seq("content-type" -> "application/x-www-form-urlencoded"),
        payload = payload,
        epochMs = clock(),
        region = region,
        service = "sqs",
        creds = credentials.resolve())
      val builder = HttpRequest.newBuilder(uri)
        .timeout(Duration.ofSeconds(
          // long-poll receives may legitimately hold the connection open
          (requestTimeoutSeconds + longPollWaitSeconds).toLong))
        .POST(HttpRequest.BodyPublishers.ofByteArray(payload))
      signed.headers.foreach { case (k, v) => builder.header(k, v) }
      val resp = SqsHttpQueue.http.send(builder.build(), HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }

    def retryable(status: Int): Boolean = status / 100 == 5 || status == 429

    var attempt = 0
    var retried = false
    while (true) {
      val outcome: Either[Throwable, (Int, String)] =
        try Right(attemptOnce())
        catch { case e: java.io.IOException => Left(e) }
      outcome match {
        case Right((status, body)) if !retryable(status) =>
          if (retried) recoveredCalls.increment()
          return (status, body)
        case _ if attempt >= maxRetries =>
          // retries exhausted: surface the last outcome under the normal
          // error contract (a Left re-throws the transport error)
          return outcome.fold(throw _, identity)
        case _ =>
          attempt += 1
          retried = true
          retriedAttempts.increment()
          // full-jitter-free exponential backoff: deterministic under test,
          // bounded at 2 s so maxRetries bounds total added latency tightly
          sleeper(math.min(2000L, 100L << math.min(attempt - 1, 10)))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def parseXml(body: String): Document = {
    val dbf = DocumentBuilderFactory.newInstance()
    // hardening per OWASP XXE guidance: the responses are flat service XML
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setExpandEntityReferences(false)
    dbf.newDocumentBuilder().parse(new ByteArrayInputStream(body.getBytes(StandardCharsets.UTF_8)))
  }

  private def elements(doc: Document, tag: String): Seq[Element] = {
    val nodes = doc.getElementsByTagName(tag)
    (0 until nodes.getLength).map(nodes.item(_).asInstanceOf[Element])
  }

  private def childText(e: Element, tag: String): Option[String] = {
    val nodes = e.getElementsByTagName(tag)
    if (nodes.getLength == 0) None else Option(nodes.item(0).getTextContent)
  }

  private def errorInfo(body: String): Option[(String, Option[String])] =
    try {
      val doc = parseXml(body)
      elements(doc, "Error").headOption.flatMap(e =>
        childText(e, "Code").map(_ -> childText(e, "Message")))
    } catch { case NonFatal(_) => None }

  private def errorCode(body: String): Option[String] = errorInfo(body).map(_._1)

  private def entryLevelFailure(body: String): Boolean =
    errorInfo(body).exists { case (code, msg) => isEntryLevel(code, msg) }

  override def receive(max: Int, visibilityTimeoutSeconds: Int): Seq[QueueMessage] = {
    val (status, body) = call("ReceiveMessage", Seq(
      "MaxNumberOfMessages" -> math.min(max, 10).toString,
      "VisibilityTimeout" -> visibilityTimeoutSeconds.toString,
      "WaitTimeSeconds" -> longPollWaitSeconds.toString))
    if (status / 100 != 2) {
      throw new GraftSourceException(
        s"SQS ReceiveMessage failed: HTTP $status ${errorCode(body).getOrElse("")} on $queueUrl")
    }
    elements(parseXml(body), "Message").map { m =>
      QueueMessage(
        messageId = childText(m, "ReceiptHandle").getOrElse(
          throw new GraftSourceException(s"SQS message without ReceiptHandle on $queueUrl")),
        body = childText(m, "Body").getOrElse(""))
    }
  }

  override def delete(messageId: String): Boolean = {
    val (status, body) = call("DeleteMessage", Seq("ReceiptHandle" -> messageId))
    if (status / 100 == 2) true
    else if (entryLevelFailure(body)) false
    else throw new GraftSourceException(
      s"SQS DeleteMessage failed: HTTP $status ${errorCode(body).getOrElse("")} on $queueUrl")
  }

  override def deleteBatch(messageIds: Seq[String]): Map[String, Boolean] = {
    require(messageIds.size <= 10, s"SQS DeleteMessageBatch takes at most 10 entries")
    val entries = messageIds.zipWithIndex.flatMap { case (receipt, i) =>
      Seq(
        s"DeleteMessageBatchRequestEntry.${i + 1}.Id" -> i.toString,
        s"DeleteMessageBatchRequestEntry.${i + 1}.ReceiptHandle" -> receipt)
    }
    val (status, body) = call("DeleteMessageBatch", entries)
    if (status / 100 != 2) {
      throw new GraftSourceException(
        s"SQS DeleteMessageBatch failed: HTTP $status ${errorCode(body).getOrElse("")} on $queueUrl")
    }
    val doc = parseXml(body)
    val ok = elements(doc, "DeleteMessageBatchResultEntry")
      .flatMap(childText(_, "Id")).map(_.toInt).toSet
    messageIds.zipWithIndex.map { case (receipt, i) => receipt -> ok.contains(i) }.toMap
  }

  override def changeVisibility(messageId: String, timeoutSeconds: Int): Boolean = {
    val (status, body) = call("ChangeMessageVisibility", Seq(
      "ReceiptHandle" -> messageId,
      "VisibilityTimeout" -> timeoutSeconds.toString))
    if (status / 100 == 2) true
    else if (entryLevelFailure(body)) false
    else throw new GraftSourceException(
      s"SQS ChangeMessageVisibility failed: HTTP $status ${errorCode(body).getOrElse("")} on $queueUrl")
  }

  /** Closes this queue's credentials; the shared connection pool stays up
    * for the JVM's other queues. */
  override def close(): Unit = credentials.close()
}

object SqsHttpQueue {
  /** Default wire-retry count (attempts beyond the first), reference
    * parity with the SDK retry policy the reference builds
    * (AsyncSqsClientBuilder.scala:57-89, numRetries default 3). */
  val DefaultMaxRetries = 3

  /** The JVM's one SQS client: a single connection pool for every queue.
    * Its connect timeout is a constant; each queue sets its own request
    * timeout. */
  private lazy val http: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  private val StandardHost = """(?:sqs|sqs-fips)\.([a-z0-9-]+)\.amazonaws\.com(?:\.cn)?""".r
  private val LegacyHost = """([a-z0-9-]+)\.queue\.amazonaws\.com""".r

  /** The SigV4 signing region for a queue URL: cross-region queue access
    * must sign for the REGION IN THE URL, not the client's configured
    * default — a client defaulting to us-east-1 talking to
    * `sqs.eu-central-1.amazonaws.com/...` signs for eu-central-1, or the
    * service rejects the signature (reference exercises this via
    * S3ConnectorSourceCrossAccountItSuite.scala:54-83). Recognizes the
    * standard (`sqs.<region>.amazonaws.com`, dualstack/fips variants via
    * the `sqs-fips.` prefix) and legacy (`<region>.queue.amazonaws.com`)
    * host shapes; anything else (VPC endpoints, local stubs, custom DNS)
    * falls back to the configured region. Cross-ACCOUNT access needs no
    * special-casing here: the account id lives in the URL path, which is
    * part of the canonical request and therefore already signed. */
  def regionForQueueUrl(queueUrl: String, fallback: String): String =
    Option(URI.create(queueUrl).getHost).map(_.toLowerCase) match {
      case Some(StandardHost(r)) => r
      case Some(LegacyHost(r)) => r
      case _ => fallback
    }
}

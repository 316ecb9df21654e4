package graft.sources

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process HTTP server speaking the SQS Query wire protocol
  * (ReceiveMessage / DeleteMessage / DeleteMessageBatch /
  * ChangeMessageVisibility over form-encoded POST + XML responses), backed
  * by an [[InMemoryQueue]] for storage. Lets the SDK-free [[SqsHttpQueue]]
  * be exercised end-to-end with zero egress.
  *
  * The stub verifies every request's SigV4 signature INDEPENDENTLY: it
  * recomputes the signature from the raw wire bytes it received (payload,
  * signed headers, x-amz-date) against the secret for the claimed access
  * key, and answers 403 on mismatch — so a canonicalization bug on either
  * side fails loudly instead of passing vacuously.
  *
  * Requests are handled concurrently; `replyDelayMs` holds each one that
  * long before it is handled (a round trip), `inFlightPeak` is the most
  * requests the stub held at once, and `connectionCount` is how many
  * connections its requests came in on (distinct client ports).
  */
final class SqsStubServer(
    secretsByAccessKey: Map[String, String],
    region: String = "us-east-1",
    replyDelayMs: Long = 0L) {

  val queue = new InMemoryQueue("sqs-stub")
  @volatile var lastWaitTimeSeconds: Option[Int] = None
  private val rejected = new AtomicInteger(0)
  private val requests = new AtomicInteger(0)
  private val inFlight = new AtomicInteger(0)
  private val inFlightMax = new AtomicInteger(0)
  private val clientPorts = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  def rejectedSignatures: Int = rejected.get()
  def requestCount: Int = requests.get()
  def inFlightPeak: Int = inFlightMax.get()
  def connectionCount: Int = clientPorts.size
  /** Chaos hook: the next N requests are answered with `transientStatus`
    * before any handling (the outage-then-recovery shape a wire retry
    * must absorb). */
  @volatile var transientFailuresRemaining: Int = 0
  @volatile var transientStatus: Int = 503
  @volatile var transientFailuresServed: Int = 0

  private val handlers = Executors.newFixedThreadPool(16, r => {
    val t = new Thread(r, "sqs-stub-handler")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (exchange: HttpExchange) => handle(exchange))
  server.setExecutor(handlers)
  server.start()

  def port: Int = server.getAddress.getPort
  def queueUrl: String = s"http://127.0.0.1:$port/123456789012/graft-stub-queue"
  def stop(): Unit = {
    server.stop(0)
    handlers.shutdownNow()
    handlers.awaitTermination(5, TimeUnit.SECONDS)
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/xml")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def error(ex: HttpExchange, status: Int, code: String, msg: String): Unit =
    respond(ex, status,
      s"""<ErrorResponse><Error><Type>Sender</Type><Code>$code</Code>""" +
        s"""<Message>${xmlEscape(msg)}</Message></Error></ErrorResponse>""")

  /** Recompute the SigV4 signature from the received wire bytes; None if it
    * verifies, Some(reason) otherwise. */
  private def verifySignature(ex: HttpExchange, payload: Array[Byte]): Option[String] = {
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .getOrElse(return Some("missing Authorization header"))
    val CredRe = """AWS4-HMAC-SHA256 Credential=([^/]+)/(\d{8})/([^/]+)/([^/]+)/aws4_request, SignedHeaders=([^,]+), Signature=([0-9a-f]+)""".r
    auth match {
      case CredRe(akid, _, rgn, service, signedHeaders, claimed) =>
        val secret = secretsByAccessKey.getOrElse(akid, return Some(s"unknown access key $akid"))
        if (rgn != region) return Some(s"wrong region $rgn")
        val amzDate = Option(ex.getRequestHeaders.getFirst("x-amz-date"))
          .getOrElse(return Some("missing x-amz-date"))
        val headers = signedHeaders.split(";").toSeq.map { name =>
          name -> Option(ex.getRequestHeaders.getFirst(name)).getOrElse(
            return Some(s"signed header '$name' absent"))
        }
        val (_, expected) = SigV4.signature(
          ex.getRequestMethod, ex.getRequestURI, Nil, headers, payload,
          amzDate, rgn, service, secret)
        if (expected == claimed) None else Some("signature mismatch")
      case _ => Some(s"malformed Authorization header: $auth")
    }
  }

  private def formDecode(body: String): Map[String, String] =
    body.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = URLDecoder.decode(kv.take(i), StandardCharsets.UTF_8)
      val v = URLDecoder.decode(kv.drop(i + 1), StandardCharsets.UTF_8)
      k -> v
    }.toMap

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    clientPorts.add(ex.getRemoteAddress.getPort)
    inFlightMax.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    try {
      if (replyDelayMs > 0) Thread.sleep(replyDelayMs)
      dispatch(ex)
    } finally inFlight.decrementAndGet()
  }

  private def dispatch(ex: HttpExchange): Unit = {
    if (transientFailuresRemaining > 0) {
      transientFailuresRemaining -= 1
      transientFailuresServed += 1
      error(ex, transientStatus, "ServiceUnavailable", "transient outage (stub chaos hook)")
      return
    }
    try {
      val payload = ex.getRequestBody.readAllBytes()
      verifySignature(ex, payload) match {
        case Some(reason) =>
          rejected.incrementAndGet()
          error(ex, 403, "SignatureDoesNotMatch", reason)
        case None =>
          val params = formDecode(new String(payload, StandardCharsets.UTF_8))
          params.getOrElse("Action", "") match {
            case "ReceiveMessage" => receiveMessage(ex, params)
            case "DeleteMessage" => deleteMessage(ex, params)
            case "DeleteMessageBatch" => deleteMessageBatch(ex, params)
            case "ChangeMessageVisibility" => changeVisibility(ex, params)
            case other => error(ex, 400, "InvalidAction", s"unknown action '$other'")
          }
      }
    } catch {
      case NonFatal(e) => error(ex, 500, "InternalFailure", String.valueOf(e.getMessage))
    }
  }

  private def receiveMessage(ex: HttpExchange, params: Map[String, String]): Unit = {
    lastWaitTimeSeconds = params.get("WaitTimeSeconds").map(_.toInt)
    val max = params.get("MaxNumberOfMessages").map(_.toInt).getOrElse(1)
    val visibility = params.get("VisibilityTimeout").map(_.toInt).getOrElse(30)
    // InMemoryQueue chaos hooks surface as service-side failures on the wire
    val msgs =
      try queue.receive(max, visibility)
      catch { case NonFatal(e) => error(ex, 500, "InternalFailure", e.getMessage); return }
    val messagesXml = msgs.map { m =>
      // stable ids double as receipt handles (SqsHttpQueue threads
      // ReceiptHandle as QueueMessage.messageId, like the reference)
      s"""<Message><MessageId>${m.messageId}</MessageId>""" +
        s"""<ReceiptHandle>${m.messageId}</ReceiptHandle>""" +
        s"""<MD5OfBody>${SigV4.sha256Hex(m.body.getBytes(StandardCharsets.UTF_8)).take(32)}</MD5OfBody>""" +
        s"""<Body>${xmlEscape(m.body)}</Body></Message>"""
    }.mkString
    respond(ex, 200,
      s"""<ReceiveMessageResponse><ReceiveMessageResult>$messagesXml</ReceiveMessageResult>""" +
        """<ResponseMetadata><RequestId>stub</RequestId></ResponseMetadata></ReceiveMessageResponse>""")
  }

  private def deleteMessage(ex: HttpExchange, params: Map[String, String]): Unit = {
    val receipt = params.getOrElse("ReceiptHandle", "")
    if (queue.delete(receipt)) {
      respond(ex, 200, """<DeleteMessageResponse><ResponseMetadata><RequestId>stub</RequestId></ResponseMetadata></DeleteMessageResponse>""")
    } else {
      error(ex, 404, "ReceiptHandleIsInvalid", s"no such receipt $receipt")
    }
  }

  private def deleteMessageBatch(ex: HttpExchange, params: Map[String, String]): Unit = {
    val entries = Iterator.from(1)
      .map(i => (params.get(s"DeleteMessageBatchRequestEntry.$i.Id"),
        params.get(s"DeleteMessageBatchRequestEntry.$i.ReceiptHandle")))
      .takeWhile(_._1.isDefined)
      .collect { case (Some(id), Some(receipt)) => id -> receipt }
      .toSeq
    val outcomes =
      try queue.deleteBatch(entries.map(_._2))
      catch { case NonFatal(e) => error(ex, 500, "InternalFailure", e.getMessage); return }
    val resultXml = entries.map { case (id, receipt) =>
      if (outcomes.getOrElse(receipt, false)) {
        s"""<DeleteMessageBatchResultEntry><Id>$id</Id></DeleteMessageBatchResultEntry>"""
      } else {
        s"""<BatchResultErrorEntry><Id>$id</Id><Code>ReceiptHandleIsInvalid</Code>""" +
          """<SenderFault>true</SenderFault><Message>no such receipt</Message></BatchResultErrorEntry>"""
      }
    }.mkString
    respond(ex, 200,
      s"""<DeleteMessageBatchResponse><DeleteMessageBatchResult>$resultXml</DeleteMessageBatchResult>""" +
        """<ResponseMetadata><RequestId>stub</RequestId></ResponseMetadata></DeleteMessageBatchResponse>""")
  }

  private def changeVisibility(ex: HttpExchange, params: Map[String, String]): Unit = {
    val receipt = params.getOrElse("ReceiptHandle", "")
    val timeout = params.get("VisibilityTimeout").map(_.toInt).getOrElse(0)
    if (timeout < 0 || timeout > 43200) {
      // real SQS: call-level InvalidParameterValue naming the
      // VisibilityTimeout parameter, not the receipt handle
      error(ex, 400, "InvalidParameterValue",
        s"Value $timeout for parameter VisibilityTimeout is invalid. " +
          "Reason: Must be between 0 and 43200, if provided.")
    } else if (queue.changeVisibility(receipt, timeout)) {
      respond(ex, 200, """<ChangeMessageVisibilityResponse><ResponseMetadata><RequestId>stub</RequestId></ResponseMetadata></ChangeMessageVisibilityResponse>""")
    } else {
      // real SQS reports an expired/unknown handle on this action as
      // InvalidParameterValue with a Message naming ReceiptHandle
      error(ex, 400, "InvalidParameterValue",
        s"Value $receipt for parameter ReceiptHandle is invalid. " +
          "Reason: Message does not exist or is not available for visibility timeout change.")
    }
  }
}

package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAdder}

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{InMemoryQueue, SigV4}

/** SQS Query-protocol stub for the `sqs_drain` workload, storing messages
  * in an [[InMemoryQueue]].
  *
  *  - Every request's SigV4 signature is recomputed from the received bytes
  *    with [[SigV4.signature]]; a mismatch is answered 403 and counted.
  *  - Every answer is sent `delayMs` after the request was handled, which
  *    models a same-region round trip. The delay is a scheduled send, not a
  *    sleeping thread, so it never caps how many calls a client keeps in
  *    flight. Handler threads are bounded by `threads`.
  *  - It counts requests per action and the highest number of requests in
  *    flight at once; the replay's `queue.*` metrics count the client side.
  */
final class SqsStub(
    accessKey: String,
    secret: String,
    region: String,
    delayMs: Double,
    threads: Int) {

  val queue = new InMemoryQueue("perfbench-sqs-stub")
  val rejectedSignatures = new LongAdder
  private val calls = new ConcurrentHashMap[String, LongAdder]()
  private val inFlight = new AtomicInteger(0)
  private val inFlightMax = new AtomicLong(0)

  private val handlers = Executors.newFixedThreadPool(threads, daemon("perfbench-sqs-stub"))
  private val sender: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(daemon("perfbench-sqs-stub-send"))
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(handlers)
  server.start()

  private def daemon(name: String): java.util.concurrent.ThreadFactory = r => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    t
  }

  def queueUrl: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/123456789012/perfbench-queue"
  def callsOf(action: String): Long = Option(calls.get(action)).map(_.sum()).getOrElse(0L)
  def inFlightPeak: Long = inFlightMax.get()

  def stop(): Unit = {
    server.stop(0)
    sender.shutdownNow()
    handlers.shutdownNow()
    sender.awaitTermination(5, TimeUnit.SECONDS)
    handlers.awaitTermination(5, TimeUnit.SECONDS)
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  private def send(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val reply: Runnable = () => {
      try {
        ex.getResponseHeaders.set("Content-Type", "text/xml")
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } catch { case NonFatal(_) => () }
      finally {
        ex.close()
        inFlight.decrementAndGet()
      }
    }
    sender.schedule(reply, math.round(delayMs * 1000), TimeUnit.MICROSECONDS)
  }

  private def error(ex: HttpExchange, status: Int, code: String, msg: String): Unit =
    send(ex, status,
      s"""<ErrorResponse><Error><Type>Sender</Type><Code>$code</Code>""" +
        s"""<Message>${xmlEscape(msg)}</Message></Error></ErrorResponse>""")

  private def verifySignature(ex: HttpExchange, payload: Array[Byte]): Option[String] = {
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .getOrElse(return Some("missing Authorization header"))
    val CredRe = ("""AWS4-HMAC-SHA256 Credential=([^/]+)/(\d{8})/([^/]+)/([^/]+)/aws4_request, """ +
      """SignedHeaders=([^,]+), Signature=([0-9a-f]+)""").r
    auth match {
      case CredRe(akid, _, rgn, service, signedHeaders, claimed) =>
        if (akid != accessKey) return Some(s"unknown access key $akid")
        if (rgn != region) return Some(s"wrong region $rgn")
        val amzDate = Option(ex.getRequestHeaders.getFirst("x-amz-date"))
          .getOrElse(return Some("missing x-amz-date"))
        val headers = signedHeaders.split(";").toSeq.map { name =>
          name -> Option(ex.getRequestHeaders.getFirst(name))
            .getOrElse(return Some(s"signed header '$name' absent"))
        }
        val (_, expected) = SigV4.signature(ex.getRequestMethod, ex.getRequestURI, Nil, headers,
          payload, amzDate, rgn, service, secret)
        if (expected == claimed) None else Some("signature mismatch")
      case _ => Some("malformed Authorization header")
    }
  }

  private def formDecode(body: String): Map[String, String] =
    body.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      URLDecoder.decode(kv.take(i), StandardCharsets.UTF_8) ->
        URLDecoder.decode(kv.drop(i + 1), StandardCharsets.UTF_8)
    }.toMap

  private def handle(ex: HttpExchange): Unit = {
    val now = inFlight.incrementAndGet()
    inFlightMax.accumulateAndGet(now.toLong, math.max)
    try {
      val payload = ex.getRequestBody.readAllBytes()
      verifySignature(ex, payload) match {
        case Some(reason) =>
          rejectedSignatures.increment()
          error(ex, 403, "SignatureDoesNotMatch", reason)
        case None =>
          val params = formDecode(new String(payload, StandardCharsets.UTF_8))
          val action = params.getOrElse("Action", "")
          calls.computeIfAbsent(action, _ => new LongAdder).increment()
          action match {
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

  private def ok(ex: HttpExchange, action: String, result: String = ""): Unit =
    send(ex, 200, s"<${action}Response>$result<ResponseMetadata><RequestId>stub</RequestId>" +
      s"</ResponseMetadata></${action}Response>")

  private def receiveMessage(ex: HttpExchange, params: Map[String, String]): Unit = {
    val max = params.get("MaxNumberOfMessages").map(_.toInt).getOrElse(1)
    val visibility = params.get("VisibilityTimeout").map(_.toInt).getOrElse(30)
    val msgs = queue.receive(max, visibility)
    // message ids double as receipt handles, as in the SQS binding
    val xml = msgs.map { m =>
      s"<Message><MessageId>${m.messageId}</MessageId>" +
        s"<ReceiptHandle>${m.messageId}</ReceiptHandle><Body>${xmlEscape(m.body)}</Body></Message>"
    }.mkString
    ok(ex, "ReceiveMessage", s"<ReceiveMessageResult>$xml</ReceiveMessageResult>")
  }

  private def deleteMessage(ex: HttpExchange, params: Map[String, String]): Unit = {
    val receipt = params.getOrElse("ReceiptHandle", "")
    if (queue.delete(receipt)) ok(ex, "DeleteMessage")
    else error(ex, 404, "ReceiptHandleIsInvalid", s"no such receipt $receipt")
  }

  private def deleteMessageBatch(ex: HttpExchange, params: Map[String, String]): Unit = {
    val entries = Iterator.from(1)
      .map(i => (params.get(s"DeleteMessageBatchRequestEntry.$i.Id"),
        params.get(s"DeleteMessageBatchRequestEntry.$i.ReceiptHandle")))
      .takeWhile(_._1.isDefined)
      .collect { case (Some(id), Some(receipt)) => id -> receipt }
      .toSeq
    val outcomes = queue.deleteBatch(entries.map(_._2))
    val xml = entries.map { case (id, receipt) =>
      if (outcomes.getOrElse(receipt, false)) {
        s"<DeleteMessageBatchResultEntry><Id>$id</Id></DeleteMessageBatchResultEntry>"
      } else {
        s"<BatchResultErrorEntry><Id>$id</Id><Code>ReceiptHandleIsInvalid</Code>" +
          "<SenderFault>true</SenderFault><Message>no such receipt</Message></BatchResultErrorEntry>"
      }
    }.mkString
    ok(ex, "DeleteMessageBatch", s"<DeleteMessageBatchResult>$xml</DeleteMessageBatchResult>")
  }

  private def changeVisibility(ex: HttpExchange, params: Map[String, String]): Unit = {
    val receipt = params.getOrElse("ReceiptHandle", "")
    val timeout = params.get("VisibilityTimeout").map(_.toInt).getOrElse(0)
    if (queue.changeVisibility(receipt, timeout)) ok(ex, "ChangeMessageVisibility")
    else error(ex, 400, "InvalidParameterValue",
      s"Value $receipt for parameter ReceiptHandle is invalid.")
  }
}

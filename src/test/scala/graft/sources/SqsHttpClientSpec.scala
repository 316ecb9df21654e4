package graft.sources

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The [[InMemoryQueueSpec]] semantics matrix re-run against the SDK-free
  * SQS wire binding: [[QueueFetchClient]] over [[SqsHttpQueue]] talking the
  * AWS Query protocol + SigV4 to an in-process [[SqsStubServer]] that
  * verifies every signature independently. Zero egress, full protocol
  * coverage (reference semantics: AsyncSqsClientImpl.scala:169-319).
  */
class SqsHttpClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Akid = "AKIDGRAFTTEST"
  private val Secret = "graft-test-secret-key"
  private val creds = QueueCredentials(Akid, Secret)
  private val stub = new SqsStubServer(Map(Akid -> Secret))

  override def afterAll(): Unit = stub.stop()

  private def rawQueue(
      url: String = stub.queueUrl,
      c: QueueCredentials = creds,
      longPoll: Int = 0,
      // 0 here (vs the production default 3) keeps the persistent-chaos
      // tests fast: they assert what ONE wire call does, not the retry
      maxRetries: Int = 0,
      sleeper: Long => Unit = _ => ()): SqsHttpQueue =
    new SqsHttpQueue(url, "us-east-1", StaticCredentialsProvider(c),
      longPollWaitSeconds = longPoll, maxRetries = maxRetries, sleeper = sleeper)

  private def client(
      consumer: FileMetadata => Unit,
      maxFiles: Option[Int] = None,
      keepOnError: Boolean = false): QueueFetchClient =
    new QueueFetchClient(rawQueue(), "sqs-stub", consumer, maxFiles,
      visibilityTimeoutSeconds = 60, maxConcurrency = 4,
      keepMessageOnConsumerError = keepOnError)

  private def fetch(c: QueueFetchClient): Seq[ConsumeResult] =
    Await.result(c.asyncFetch(10), Duration(30, TimeUnit.SECONDS))

  test("wire roundtrip: receive hides, visibility re-arms, delete removes") {
    stub.queue.clear()
    val id = stub.queue.send("""{"path":"p1","timestampMs":1}""")
    val q = rawQueue()
    val first = q.receive(10, visibilityTimeoutSeconds = 60)
    assert(first.map(_.messageId) == Seq(id), "receipt handle threads through the XML")
    assert(first.head.body == """{"path":"p1","timestampMs":1}""")
    assert(q.receive(10, 60).isEmpty) // in flight: invisible
    assert(q.changeVisibility(id, 0))
    assert(q.receive(10, 60).size == 1) // re-armed: redelivered
    assert(q.delete(id))
    assert(!q.delete(id)) // ReceiptHandleIsInvalid -> entry-level false
    // expired handle on this action is InvalidParameterValue with a
    // ReceiptHandle-naming Message -> still entry-level false
    assert(!q.changeVisibility(id, 0))
    assert(stub.rejectedSignatures == 0)
    q.close()
  }

  test("call-level InvalidParameterValue (VisibilityTimeout > 43200) throws, not false") {
    stub.queue.clear()
    val id = stub.queue.send("""{"path":"loud","timestampMs":1}""")
    val q = rawQueue()
    assert(q.receive(10, 60).map(_.messageId) == Seq(id))
    val e = intercept[GraftSourceException](q.changeVisibility(id, 43201))
    assert(e.getMessage.contains("InvalidParameterValue"),
      s"misconfiguration must surface the service error code: ${e.getMessage}")
    // the same handle is still valid: the failure was the call, not the entry
    assert(q.changeVisibility(id, 0))
    q.close()
  }

  test("XML escaping: bodies with special characters survive the wire") {
    stub.queue.clear()
    val tricky = """{"path":"a&b<c>.json","timestampMs":1,"note":"\"quoted\""}"""
    stub.queue.send(tricky)
    val q = rawQueue()
    assert(q.receive(10, 60).head.body == tricky)
    stub.queue.clear()
    q.close()
  }

  test("client fetch loop over the wire: consumes all, drops garbage, counts metrics") {
    stub.queue.clear()
    (1 to 25).foreach(i => stub.queue.send(s"""{"path":"f$i","timestampMs":$i}"""))
    stub.queue.send("garbage")
    var seen = List.empty[String]
    val c = client(m => seen.synchronized { seen = m.filePath :: seen })
    val res = fetch(c)
    assert(seen.size == 25)
    assert(c.metrics.receiveMessageCounter.sum() == 26)
    assert(c.metrics.parseMessageCounter.sum() == 25)
    assert(c.metrics.parseMessageFailedCounter.sum() == 1)
    assert(res.count(_ == ConsumeResult.Ok) == 25)
    assert(res.count(_ == ConsumeResult.ParseNone) == 1)
    assert(res.last == ConsumeResult.ReceiveEmpty)
    assert(stub.queue.approximateSize == 25, "consumed-ok messages await the commit-time ack")
    c.close()
  }

  test("fetch stops at maxFilesPerFetch budget") {
    stub.queue.clear()
    (1 to 30).foreach(i => stub.queue.send(s"""{"path":"g$i","timestampMs":$i}"""))
    val n = new AtomicInteger(0)
    val c = client(_ => n.incrementAndGet(), maxFiles = Some(12))
    fetch(c)
    assert(n.get == 12)
    stub.queue.clear()
    c.close()
  }

  test("consumer exception: deleted over the wire unless keepMessageOnConsumerError") {
    stub.queue.clear()
    stub.queue.send("""{"path":"bad","timestampMs":1}""")
    val c = client(_ => throw new RuntimeException("boom"))
    val res = fetch(c)
    assert(res.contains(ConsumeResult.ConsumerException))
    assert(stub.queue.approximateSize == 0) // DeleteMessage reached the stub
    c.close()

    stub.queue.send("""{"path":"bad2","timestampMs":1}""")
    val keeper = client(_ => throw new RuntimeException("boom"), keepOnError = true)
    fetch(keeper)
    assert(stub.queue.approximateSize == 1)
    stub.queue.clear()
    keeper.close()
  }

  test("batch delete: chunked to 10, partial entry failure, call failure falls back") {
    stub.queue.clear()
    val ids = (1 to 25).map(i => stub.queue.send(s"""{"path":"d$i","timestampMs":$i}"""))
    val c = client(_ => ())
    // one unknown receipt in the middle: a failed ENTRY, not a failed call
    c.handleProcessedMessageBatch(ids.take(10) :+ "no-such-receipt")
    assert(c.metrics.deleteMessageCounter.sum() == 10)
    assert(c.metrics.deleteMessageFailedCounter.sum() == 1)
    assert(stub.queue.approximateSize == 15)
    // batch endpoint down (500 on the wire): per-message fallback clears it
    stub.queue.failBatchDeletes = true
    c.handleProcessedMessageBatch(ids.drop(10))
    stub.queue.failBatchDeletes = false
    assert(stub.queue.approximateSize == 0)
    assert(c.metrics.deleteMessageCounter.sum() == 25)
    c.close()
  }

  test("service-side receive failures build a streak; a working round resets it") {
    stub.queue.clear()
    stub.queue.send("""{"path":"later","timestampMs":1}""")
    val consumed = new AtomicInteger(0)
    val c = client(_ => consumed.incrementAndGet())
    stub.queue.failReceives = true
    (1 to 3).foreach { i =>
      val res = fetch(c)
      assert(res == Seq(ConsumeResult.ReceiveException))
      assert(c.consecutiveReceiveFailures == i)
    }
    stub.queue.failReceives = false
    val ok = fetch(c)
    assert(ok.contains(ConsumeResult.Ok) && consumed.get == 1)
    assert(c.consecutiveReceiveFailures == 0)
    stub.queue.clear()
    c.close()
  }

  test("concurrent receives over the wire: every file consumed once, the ack empties the queue") {
    val slow = new SqsStubServer(Map(Akid -> Secret), replyDelayMs = 30)
    try {
      (1 to 200).foreach(i => slow.queue.send(s"""{"path":"w$i","timestampMs":$i}"""))
      val consumed = mutable.Map[String, Int]()
      val ids = mutable.ArrayBuffer[String]()
      val c = new QueueFetchClient(
        new SqsHttpQueue(slow.queueUrl, "us-east-1", StaticCredentialsProvider(creds),
          longPollWaitSeconds = 0),
        "sqs-wide", m => consumed.synchronized {
          consumed(m.filePath) = consumed.getOrElse(m.filePath, 0) + 1
          ids += m.messageId
        },
        maxFilesPerFetch = Some(50), visibilityTimeoutSeconds = 60, maxConcurrency = 8,
        keepMessageOnConsumerError = false)
      var rounds = 0
      while (!fetch(c).contains(ConsumeResult.ReceiveEmpty)) {
        rounds += 1
        assert(rounds <= 4, "50 files a round")
      }
      assert(consumed.size == 200 && consumed.values.forall(_ == 1), "no file admitted twice")
      assert(slow.inFlightPeak > 1, "receives of one wave were on the wire together")
      c.handleProcessedMessageBatch(ids.toSeq)
      assert(slow.queue.approximateSize == 0)
      assert(c.metrics.deleteMessageCounter.sum() == 200)
      assert(slow.rejectedSignatures == 0)
      c.close()
    } finally slow.stop()
  }

  test("close mid-wave waits for in-flight calls; none signs after the transport closed") {
    val slow = new SqsStubServer(Map(Akid -> Secret), replyDelayMs = 200)
    val signedAfterClose = new AtomicInteger(0)
    val provider = new ConnectorCredentialsProvider {
      @volatile private var closed = false
      override def resolve(): QueueCredentials = {
        if (closed) signedAfterClose.incrementAndGet()
        creds
      }
      override def close(): Unit = closed = true
    }
    try {
      (1 to 100).foreach(i => slow.queue.send(s"""{"path":"x$i","timestampMs":$i}"""))
      val c = new QueueFetchClient(
        new SqsHttpQueue(slow.queueUrl, "us-east-1", provider, longPollWaitSeconds = 0),
        "sqs-close", _ => (), None, 60, 8, keepMessageOnConsumerError = false)
      val round = c.asyncFetch(0)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (slow.inFlightPeak < 2 && System.nanoTime() < deadline) Thread.sleep(5)
      assert(slow.inFlightPeak >= 2, "the wave after the probe is on the wire")
      c.close() // must not throw
      assert(round.isCompleted, "close waited for the wave's calls")
      assert(signedAfterClose.get() == 0)
    } finally slow.stop()
  }

  // ------------------------------------------- shared connection pool

  test("a second queue on the same endpoint reuses the pooled connection") {
    val st = new SqsStubServer(Map(Akid -> Secret))
    try {
      val first = rawQueue(st.queueUrl)
      assert(first.receive(10, 60).isEmpty)
      assert(st.connectionCount == 1)
      val second = rawQueue(st.queueUrl)
      assert(second.receive(10, 60).isEmpty)
      assert(st.connectionCount == 1, "the second queue opened a connection of its own")
      first.close()
      second.close()
    } finally st.stop()
  }

  test("a stopped endpoint's pooled connections do not fail calls to a new one") {
    val gone = new SqsStubServer(Map(Akid -> Secret))
    val old = rawQueue(gone.queueUrl)
    try assert(old.receive(10, 60).isEmpty)
    finally gone.stop()
    val fresh = new SqsStubServer(Map(Akid -> Secret))
    try {
      fresh.queue.send("""{"path":"after-stop","timestampMs":1}""")
      // maxRetries = 0: a stale connection would surface as a failure
      val q = rawQueue(fresh.queueUrl)
      assert(q.receive(10, 60).map(_.body) == Seq("""{"path":"after-stop","timestampMs":1}"""))
      assert(fresh.rejectedSignatures == 0)
      q.close()
    } finally {
      fresh.stop()
      old.close()
    }
  }

  test("closing one queue leaves another queue's calls working") {
    val st = new SqsStubServer(Map(Akid -> Secret))
    try {
      val closed = rawQueue(st.queueUrl)
      val open = rawQueue(st.queueUrl)
      assert(closed.receive(10, 60).isEmpty)
      closed.close()
      val id = st.queue.send("""{"path":"still-open","timestampMs":1}""")
      assert(open.receive(10, 60).map(_.messageId) == Seq(id))
      assert(open.delete(id))
      assert(st.queue.approximateSize == 0)
      open.close()
    } finally st.stop()
  }

  test("long-poll wait is forwarded on the wire") {
    stub.queue.clear()
    val q = rawQueue(longPoll = 7)
    q.receive(10, 60)
    assert(stub.lastWaitTimeSeconds.contains(7))
    q.close()
  }

  test("session-token credentials sign x-amz-security-token into the request") {
    stub.queue.clear()
    stub.queue.send("""{"path":"tok","timestampMs":1}""")
    val q = rawQueue(c = QueueCredentials(Akid, Secret, Some("session-token-value")))
    assert(q.receive(10, 60).size == 1)
    assert(stub.rejectedSignatures == 0)
    stub.queue.clear()
    q.close()
  }

  test("a wrong secret is rejected by independent signature verification") {
    stub.queue.clear()
    val before = stub.rejectedSignatures
    val q = rawQueue(c = QueueCredentials(Akid, "wrong-secret"))
    val e = intercept[GraftSourceException](q.receive(10, 60))
    assert(e.getMessage.contains("403"))
    assert(stub.rejectedSignatures == before + 1)
    // streak surfaces through the fetch client exactly like an outage
    val c = new QueueFetchClient(rawQueue(c = QueueCredentials(Akid, "wrong-secret")),
      "sqs-bad-creds", _ => (), None, 60, 2, keepMessageOnConsumerError = false)
    assert(fetch(c) == Seq(ConsumeResult.ReceiveException))
    assert(c.consecutiveReceiveFailures == 1)
    c.close()
    q.close()
  }

  test("unknown access key is rejected") {
    val q = new SqsHttpQueue(stub.queueUrl, "us-east-1",
      StaticCredentialsProvider(QueueCredentials("AKIDUNKNOWN", Secret)),
      longPollWaitSeconds = 0)
    intercept[GraftSourceException](q.receive(10, 60))
    q.close()
  }

  // ------------------------------------------------ wire-level retry

  test("transient 503s are retried with backoff and never surface: budget untouched") {
    stub.queue.clear()
    stub.queue.send("""{"path":"r1","timestampMs":1}""")
    val backoffs = scala.collection.mutable.ArrayBuffer[Long]()
    val q = rawQueue(maxRetries = 3, sleeper = backoffs += _)
    stub.transientFailuresRemaining = 2
    var consumed = 0
    val c = new QueueFetchClient(q, "sqs-retry", _ => consumed += 1, None, 60, 2,
      keepMessageOnConsumerError = false)
    val res = fetch(c)
    // the call recovered inside the transport: the fetch client saw SUCCESS
    assert(res.contains(ConsumeResult.Ok) && consumed == 1)
    assert(c.consecutiveReceiveFailures == 0,
      "a transient failure that later succeeds must not consume the fetch-error budget")
    assert(c.metrics.receiveMessageFailedCounter.sum() == 0)
    assert(q.retriedAttempts.sum() == 2)
    assert(q.recoveredCalls.sum() == 1)
    assert(stub.transientFailuresServed >= 2)
    assert(backoffs.toSeq == Seq(100L, 200L), "exponential backoff, deterministic")
    stub.queue.clear()
    c.close()
  }

  test("retries are re-signed per attempt and exhaust into the normal error contract") {
    stub.queue.clear()
    val sigsBefore = stub.rejectedSignatures
    val q = rawQueue(maxRetries = 2)
    stub.transientFailuresRemaining = 5 // more than the retry allowance
    val e = intercept[GraftSourceException](q.receive(10, 60))
    assert(e.getMessage.contains("503") || e.getMessage.contains("ServiceUnavailable"), e.getMessage)
    assert(q.retriedAttempts.sum() == 2, "exactly maxRetries extra attempts")
    assert(q.recoveredCalls.sum() == 0)
    stub.transientFailuresRemaining = 0
    // the streak surfaces through the fetch client exactly like an outage
    stub.transientFailuresRemaining = 3
    val c = new QueueFetchClient(rawQueue(maxRetries = 0), "sqs-exhaust", _ => (), None, 60, 2,
      keepMessageOnConsumerError = false)
    assert(fetch(c) == Seq(ConsumeResult.ReceiveException))
    assert(c.consecutiveReceiveFailures == 1,
      "an exhausted retry IS a receive failure: the budget must see it")
    stub.transientFailuresRemaining = 0
    assert(stub.rejectedSignatures == sigsBefore, "every retry attempt carried a fresh valid signature")
    c.close()
    q.close()
  }

  test("maxRetries=0 disables retry; 4xx auth errors are never retried") {
    stub.queue.clear()
    var slept = 0
    val q0 = rawQueue(maxRetries = 0, sleeper = _ => slept += 1)
    stub.transientFailuresRemaining = 1
    intercept[GraftSourceException](q0.receive(10, 60))
    assert(slept == 0 && q0.retriedAttempts.sum() == 0)
    stub.transientFailuresRemaining = 0
    q0.close()
    // a deterministic 403 must fail immediately even with retries enabled
    val reqBefore = stub.requestCount
    val qBad = rawQueue(c = QueueCredentials(Akid, "wrong-secret"), maxRetries = 3)
    intercept[GraftSourceException](qBad.receive(10, 60))
    assert(stub.requestCount == reqBefore + 1, "no retry on a non-transient 4xx")
    assert(qBad.retriedAttempts.sum() == 0)
    qBad.close()
  }

  // ------------------------------- cross-region signing (URL-derived)

  test("signing region is derived from the queue URL host") {
    import SqsHttpQueue.regionForQueueUrl
    assert(regionForQueueUrl(
      "https://sqs.eu-central-1.amazonaws.com/123456789012/q", "us-east-1") == "eu-central-1")
    assert(regionForQueueUrl(
      "https://sqs-fips.us-gov-west-1.amazonaws.com/123456789012/q", "us-east-1") == "us-gov-west-1")
    assert(regionForQueueUrl(
      "https://sqs.cn-north-1.amazonaws.com.cn/123456789012/q", "us-east-1") == "cn-north-1")
    assert(regionForQueueUrl( // legacy host shape
      "https://ap-southeast-2.queue.amazonaws.com/123456789012/q", "us-east-1") == "ap-southeast-2")
    // stubs / VPC endpoints / custom DNS: fall back to the configured region
    assert(regionForQueueUrl(stub.queueUrl, "eu-west-3") == "eu-west-3")
    assert(regionForQueueUrl(
      "https://vpce-0abc-sqs.us-east-1.vpce.amazonaws.com/123/q", "eu-west-2") == "eu-west-2")
  }

  test("the URL-derived region flows into the signature scope on the wire") {
    // a stub that verifies eu-central-1 scope; the client derives that
    // region from a REAL-shaped queue URL, not from its us-east-1 default
    val xStub = new SqsStubServer(Map(Akid -> Secret), region = "eu-central-1")
    try {
      xStub.queue.send("""{"path":"xr","timestampMs":1}""")
      val derived = SqsHttpQueue.regionForQueueUrl(
        "https://sqs.eu-central-1.amazonaws.com/123456789012/graft", "us-east-1")
      val good = new SqsHttpQueue(xStub.queueUrl, derived,
        StaticCredentialsProvider(creds), longPollWaitSeconds = 0)
      assert(good.receive(10, 60).size == 1)
      assert(xStub.rejectedSignatures == 0,
        "signature must carry the queue's region in its credential scope")
      good.close()
      // the default region against the same queue: scope mismatch, rejected
      val bad = new SqsHttpQueue(xStub.queueUrl, "us-east-1",
        StaticCredentialsProvider(creds), longPollWaitSeconds = 0)
      val e = intercept[GraftSourceException](bad.receive(10, 60))
      assert(e.getMessage.contains("403"), e.getMessage)
      assert(xStub.rejectedSignatures == 1)
      bad.close()
    } finally xStub.stop()
  }
}

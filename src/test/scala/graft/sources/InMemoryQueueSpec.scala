package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

/** Delegates to `q`, recording each receive's requested size, the most
  * receives in flight at once, and the start and end time of every call.
  * Each call takes `delayMs` more; the `failCall`-th receive (1-based)
  * throws instead of receiving, and a `deleteBatch` waits for `holdDeletes`
  * to open when one is given. */
private final class CountingQueue(
    q: RawQueue,
    delayMs: Long = 0L,
    failCall: Int = 0,
    holdDeletes: Option[CountDownLatch] = None) extends RawQueue {
  private val asked = mutable.ArrayBuffer[Int]()
  private val calls = new AtomicInteger(0)
  private val inFlight = new AtomicInteger(0)
  private val inFlightMax = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer[CountingQueue.Span]()

  def receiveCalls: Int = calls.get()
  def inFlightPeak: Int = inFlightMax.get()
  /** Sizes asked since the last call, in call order. */
  def takeAsked(): Seq[Int] = asked.synchronized { val a = asked.toSeq; asked.clear(); a }
  /** The finished calls named `op`, in the order they finished. */
  def spans(op: String): Seq[CountingQueue.Span] = done.synchronized(done.filter(_.op == op).toSeq)

  private def timed[A](op: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try {
      if (delayMs > 0) Thread.sleep(delayMs)
      body
    } finally {
      val span = CountingQueue.Span(op, t0, System.nanoTime())
      done.synchronized(done += span)
    }
  }

  override def receive(max: Int, visibilityTimeoutSeconds: Int): Seq[QueueMessage] = {
    val n = calls.incrementAndGet()
    asked.synchronized(asked += max)
    inFlightMax.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    try timed("receive") {
      if (n == failCall) throw new RuntimeException(s"injected failure of receive $n")
      q.receive(max, visibilityTimeoutSeconds)
    } finally inFlight.decrementAndGet()
  }
  override def delete(messageId: String): Boolean = timed("delete")(q.delete(messageId))
  override def deleteBatch(messageIds: Seq[String]): Map[String, Boolean] = timed("deleteBatch") {
    holdDeletes.foreach(_.await())
    q.deleteBatch(messageIds)
  }
  override def changeVisibility(messageId: String, timeoutSeconds: Int): Boolean =
    timed("changeVisibility")(q.changeVisibility(messageId, timeoutSeconds))
}

private object CountingQueue {
  /** One wire call, `System.nanoTime` at its start and at its end. */
  final case class Span(op: String, startNs: Long, endNs: Long)

  /** The sequential waves `calls` ran in, as the number of calls in each,
    * in start order: a call that starts after every earlier one has ended
    * starts a new wave. */
  def waveWidths(calls: Seq[Span]): Seq[Int] = {
    val widths = mutable.ArrayBuffer[Int]()
    var lastEnd = Long.MinValue
    calls.sortBy(_.startNs).foreach { c =>
      if (c.startNs >= lastEnd) widths += 1 else widths(widths.size - 1) += 1
      lastEnd = math.max(lastEnd, c.endNs)
    }
    widths.toSeq
  }
}

class InMemoryQueueSpec extends AnyFunSuite {

  test("visibility timeout: received messages hide, then redeliver") {
    val q = new InMemoryQueue("viz")
    q.send("""{"path":"p1","timestampMs":1}""")
    val first = q.receive(10, visibilityTimeoutSeconds = 1)
    assert(first.size == 1)
    assert(q.receive(10, 1).isEmpty) // in flight: invisible
    Thread.sleep(1100)
    assert(q.receive(10, 1).size == 1) // not deleted: redelivered
  }

  test("delete removes; changeVisibility re-arms") {
    val q = new InMemoryQueue("del")
    val id = q.send("""{"path":"p1","timestampMs":1}""")
    q.receive(10, 60)
    assert(q.changeVisibility(id, 0))
    assert(q.receive(10, 60).size == 1)
    assert(q.delete(id))
    assert(!q.delete(id))
    assert(q.approximateSize == 0)
  }

  test("delivery follows send order; a redelivered message rejoins at its send position") {
    val q = new InMemoryQueue("order")
    val ids = (0 until 6).map(i => q.send(s"m$i"))
    assert(q.receive(2, 60).map(_.body) == Seq("m0", "m1"))
    assert(q.receive(1, 60).map(_.body) == Seq("m2"))
    // m1 and m0 come back due (m1 first), m2 is deleted, m3.. never left
    assert(q.changeVisibility(ids(1), 0) && q.changeVisibility(ids(0), 0) && q.delete(ids(2)))
    assert(q.receive(10, 60).map(_.body) == Seq("m0", "m1", "m3", "m4", "m5"))
    assert(q.receive(10, 60).isEmpty)
    // a re-armed in-flight message stays hidden until its new due time
    assert(q.changeVisibility(ids(4), 60) && q.changeVisibility(ids(5), 0))
    assert(q.receive(10, 60).map(_.body) == Seq("m5"))
    assert(q.approximateSize == 5)
  }

  test("client fetch loop: consumes all, stops on empty round, counts metrics") {
    val q = InMemoryQueueRegistry.queue("fetch-1")
    q.clear()
    (1 to 25).foreach(i => q.send(s"""{"path":"f$i","timestampMs":$i}"""))
    q.send("garbage")
    var seen = List.empty[String]
    val client = new QueueFetchClient(q, "fetch-1",
      m => seen.synchronized { seen = m.filePath :: seen },
      maxFilesPerFetch = None, visibilityTimeoutSeconds = 60,
      maxConcurrency = 4, keepMessageOnConsumerError = false)
    val res = Await.result(client.asyncFetch(10), Duration(30, TimeUnit.SECONDS))
    assert(seen.size == 25)
    assert(client.metrics.receiveMessageCounter.sum() == 26)
    assert(client.metrics.parseMessageCounter.sum() == 25)
    assert(client.metrics.parseMessageFailedCounter.sum() == 1)
    assert(client.metrics.consumeMessageCounter.sum() == 25)
    assert(res.count(_ == ConsumeResult.Ok) == 25)
    assert(res.count(_ == ConsumeResult.ParseNone) == 1)
    assert(res.last == ConsumeResult.ReceiveEmpty)
    client.close()
  }

  test("client fetch loop: stops at maxFilesPerFetch budget") {
    val q = InMemoryQueueRegistry.queue("fetch-2")
    q.clear()
    (1 to 30).foreach(i => q.send(s"""{"path":"g$i","timestampMs":$i}"""))
    val n = new AtomicInteger(0)
    val client = new QueueFetchClient(q, "fetch-2", _ => n.incrementAndGet(),
      maxFilesPerFetch = Some(12), visibilityTimeoutSeconds = 60,
      maxConcurrency = 4, keepMessageOnConsumerError = false)
    Await.result(client.asyncFetch(10), Duration(30, TimeUnit.SECONDS))
    assert(n.get == 12)
    client.close()
  }

  test("consumer exception: message deleted unless keepMessageOnConsumerError") {
    val q = InMemoryQueueRegistry.queue("fetch-3")
    q.clear()
    q.send("""{"path":"bad","timestampMs":1}""")
    val client = new QueueFetchClient(q, "fetch-3",
      _ => throw new RuntimeException("boom"),
      None, 60, 2, keepMessageOnConsumerError = false)
    val res = Await.result(client.asyncFetch(10), Duration(30, TimeUnit.SECONDS))
    assert(res.contains(ConsumeResult.ConsumerException))
    assert(client.metrics.consumeMessageFailedCounter.sum() == 1)
    assert(q.approximateSize == 0) // deleted
    client.close()

    q.send("""{"path":"bad2","timestampMs":1}""")
    val keeper = new QueueFetchClient(q, "fetch-3",
      _ => throw new RuntimeException("boom"),
      None, 60, 2, keepMessageOnConsumerError = true)
    Await.result(keeper.asyncFetch(10), Duration(30, TimeUnit.SECONDS))
    assert(q.approximateSize == 1) // kept for DLQ-style debugging
    keeper.close()
  }

  test("batch delete: chunked, partial entry failures counted, call failure falls back") {
    val q = InMemoryQueueRegistry.queue("batch-del")
    q.clear()
    val ids = (1 to 25).map(i => q.send(s"""{"path":"d$i","timestampMs":$i}"""))
    val client = new QueueFetchClient(q, "batch-del", _ => (),
      None, 60, 2, keepMessageOnConsumerError = false)
    // one unknown id in the middle: a failed ENTRY, not a failed call
    client.handleProcessedMessageBatch(ids.take(10) :+ "no-such-id")
    assert(client.metrics.deleteMessageCounter.sum() == 10)
    assert(client.metrics.deleteMessageFailedCounter.sum() == 1)
    assert(q.approximateSize == 15)
    // batch endpoint down: per-message fallback still clears the queue
    q.failBatchDeletes = true
    client.handleProcessedMessageBatch(ids.drop(10))
    assert(q.approximateSize == 0)
    assert(client.metrics.deleteMessageCounter.sum() == 25)
    q.failBatchDeletes = false
    client.close()
  }

  test("persistent receive failures build a streak; a working round resets it") {
    val q = InMemoryQueueRegistry.queue("fetch-fail")
    q.clear()
    q.send("""{"path":"later","timestampMs":1}""")
    val consumed = new AtomicInteger(0)
    val client = new QueueFetchClient(q, "fetch-fail", _ => consumed.incrementAndGet(),
      None, 60, 2, keepMessageOnConsumerError = false)
    q.failReceives = true
    (1 to 3).foreach { i =>
      val res = Await.result(client.asyncFetch(10), Duration(30, TimeUnit.SECONDS))
      assert(res == Seq(ConsumeResult.ReceiveException))
      assert(client.consecutiveReceiveFailures == i, "each failing round extends the streak")
    }
    assert(client.metrics.receiveMessageFailedCounter.sum() == 3)
    // queue recovers: the round consumes the backlog and the streak resets
    q.failReceives = false
    val ok = Await.result(client.asyncFetch(10), Duration(30, TimeUnit.SECONDS))
    assert(ok.contains(ConsumeResult.Ok) && consumed.get == 1)
    assert(client.consecutiveReceiveFailures == 0)
    client.close()
  }

  private def filled(name: String, n: Int): InMemoryQueue = {
    val q = new InMemoryQueue(name)
    (1 to n).foreach(i => q.send(s"""{"path":"$name-$i","timestampMs":$i}"""))
    q
  }

  private def countingClient(q: RawQueue, maxFiles: Option[Int], maxConcurrency: Int) =
    new QueueFetchClient(q, "counting", _ => (), maxFiles, visibilityTimeoutSeconds = 60,
      maxConcurrency = maxConcurrency, keepMessageOnConsumerError = false)

  private def round(c: QueueFetchClient): Seq[ConsumeResult] =
    Await.result(c.asyncFetch(10), 30.seconds)

  test("round accounting: an empty queue costs one receive per round") {
    val q = new CountingQueue(new InMemoryQueue("acct-empty"))
    val c = countingClient(q, None, maxConcurrency = 8)
    (1 to 3).foreach { i =>
      assert(round(c) == Seq(ConsumeResult.ReceiveEmpty))
      assert(q.receiveCalls == i)
    }
    c.close()
  }

  test("round accounting: no round asks for more than maxFilesPerFetch") {
    val q = new CountingQueue(filled("acct-budget", 100))
    val c = countingClient(q, Some(25), maxConcurrency = 8)
    (1 to 4).foreach { _ =>
      val res = round(c)
      assert(res.count(_ == ConsumeResult.Ok) == 25)
      // a full probe of 10, then one wave asking for exactly the other 15
      assert(q.takeAsked().sorted == Seq(5, 10, 10))
    }
    assert(round(c) == Seq(ConsumeResult.ReceiveEmpty))
    c.close()
  }

  test("round accounting: a full probe is followed by a wider wave") {
    val q = new CountingQueue(filled("acct-wave", 35), delayMs = 50)
    val c = countingClient(q, None, maxConcurrency = 4)
    val res = round(c)
    assert(res.count(_ == ConsumeResult.Ok) == 35)
    assert(res.last == ConsumeResult.ReceiveEmpty)
    assert(q.takeAsked() == Seq.fill(5)(10), "probe, then a wave of maxConcurrency receives")
    assert(q.inFlightPeak > 1, "the wave's receives were in flight together")
    c.close()
  }

  test("round accounting: one throwing receive in a wave fails the wave once") {
    // receive 3 is the second of the wave that follows the full probe
    val q = new CountingQueue(filled("acct-fail", 40), delayMs = 20, failCall = 3)
    val c = countingClient(q, None, maxConcurrency = 4)
    val res = round(c)
    assert(q.receiveCalls == 5)
    assert(res.count(_ == ConsumeResult.Ok) == 40, "the other receives' messages are consumed")
    assert(res.count(_ == ConsumeResult.ReceiveException) == 1)
    assert(res.last == ConsumeResult.ReceiveException)
    assert(c.consecutiveReceiveFailures == 1)
    assert(c.metrics.receiveMessageFailedCounter.sum() == 1)
    c.close()
  }

  test("a fatal error in receive fails the round instead of hanging it") {
    val fatal = new RawQueue { // NonFatal does not match a LinkageError
      override def receive(max: Int, visibilityTimeoutSeconds: Int): Seq[QueueMessage] =
        throw new LinkageError("injected fatal receive error")
      override def delete(messageId: String): Boolean = false
      override def deleteBatch(messageIds: Seq[String]): Map[String, Boolean] = Map.empty
      override def changeVisibility(messageId: String, timeoutSeconds: Int): Boolean = false
    }
    val c = countingClient(fatal, None, maxConcurrency = 2)
    val fut = c.asyncFetch(0)
    Await.ready(fut, 10.seconds) // a TimeoutException here is the hang
    // a Promise boxes a fatal error in an ExecutionException
    val failure = fut.value.flatMap(_.failed.toOption)
    assert(failure.exists(_.getCause.isInstanceOf[LinkageError]), s"round ended with $failure")
    assert(c.metrics.fetchThreadFailedCounter.sum() == 1)
    // the fatal error is rethrown on its pool thread after failing the round
    eventually(timeout(5.seconds)) {
      assert(c.metrics.fetchThreadUncaughtExceptionCounter.sum() == 1)
    }
    c.close()
  }
}

package graft.sources

import java.util.concurrent.TimeUnit

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

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
    var n = 0
    val client = new QueueFetchClient(q, "fetch-2", _ => n.synchronized { n += 1 },
      maxFilesPerFetch = Some(12), visibilityTimeoutSeconds = 60,
      maxConcurrency = 4, keepMessageOnConsumerError = false)
    Await.result(client.asyncFetch(10), Duration(30, TimeUnit.SECONDS))
    assert(n == 12)
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
    client.deleteMessageBatch(ids.take(10) :+ "no-such-id")
    assert(client.metrics.deleteMessageCounter.sum() == 10)
    assert(client.metrics.deleteMessageFailedCounter.sum() == 1)
    assert(q.approximateSize == 15)
    // batch endpoint down: per-message fallback still clears the queue
    q.failBatchDeletes = true
    client.deleteMessageBatch(ids.drop(10))
    assert(q.approximateSize == 0)
    assert(client.metrics.deleteMessageCounter.sum() == 25)
    q.failBatchDeletes = false
    client.close()
  }

  test("persistent receive failures build a streak; a working round resets it") {
    val q = InMemoryQueueRegistry.queue("fetch-fail")
    q.clear()
    q.send("""{"path":"later","timestampMs":1}""")
    var consumed = 0
    val client = new QueueFetchClient(q, "fetch-fail", _ => consumed.synchronized { consumed += 1 },
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
    assert(ok.contains(ConsumeResult.Ok) && consumed == 1)
    assert(client.consecutiveReceiveFailures == 0)
    client.close()
  }
}

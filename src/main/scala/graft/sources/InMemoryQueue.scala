package graft.sources

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** A process-local message broker with SQS-like semantics: at-least-once
  * delivery, per-message visibility timeout, redelivery after the timeout
  * elapses, explicit delete. Used to run the full source end-to-end with
  * no cloud dependency (goes one step beyond the reference's mock-only
  * unit tests, per SURVEY §5).
  */
final class InMemoryQueue(val name: String) extends RawQueue {
  private case class Stored(message: QueueMessage, var visibleAtMs: Long)
  private val byId = new java.util.LinkedHashMap[String, Stored]()

  /** Chaos hook: while true, every receive throws — simulates a queue
    * endpoint outage for error-budget tests. */
  @volatile var failReceives: Boolean = false

  /** Chaos hook: while true, the batch-delete endpoint throws (entries
    * untouched) — exercises the client's per-message fallback. */
  @volatile var failBatchDeletes: Boolean = false

  def send(body: String): String = synchronized {
    val id = UUID.randomUUID().toString
    byId.put(id, Stored(QueueMessage(id, body), 0L))
    id
  }

  /** Up to max currently-visible messages; each becomes invisible for
    * visibilityTimeoutSeconds (at-least-once: undeleted messages come back). */
  override def receive(max: Int, visibilityTimeoutSeconds: Int): Seq[QueueMessage] = synchronized {
    if (failReceives) throw new RuntimeException(s"injected receive failure on queue '$name'")
    val now = System.currentTimeMillis()
    val out = mutable.ArrayBuffer[QueueMessage]()
    val it = byId.values().iterator()
    while (it.hasNext && out.size < max) {
      val s = it.next()
      if (s.visibleAtMs <= now) {
        s.visibleAtMs = now + visibilityTimeoutSeconds * 1000L
        out += s.message
      }
    }
    out.toSeq
  }

  override def delete(messageId: String): Boolean = synchronized { byId.remove(messageId) != null }

  /** SQS DeleteMessageBatch shape: one call, per-entry outcomes (an
    * unknown id is a failed ENTRY, not a failed CALL). */
  override def deleteBatch(messageIds: Seq[String]): Map[String, Boolean] = synchronized {
    if (failBatchDeletes) throw new RuntimeException(s"injected batch-delete failure on '$name'")
    messageIds.map(id => id -> (byId.remove(id) != null)).toMap
  }

  override def changeVisibility(messageId: String, timeoutSeconds: Int): Boolean = synchronized {
    val s = byId.get(messageId)
    if (s == null) false
    else { s.visibleAtMs = System.currentTimeMillis() + timeoutSeconds * 1000L; true }
  }

  def approximateSize: Int = synchronized(byId.size())
  def clear(): Unit = synchronized(byId.clear())
  // registry-owned: close() (RawQueue default no-op) must not drop messages
}

/** Registry keyed by queue name, so a source resolves the same broker the
  * test/pipeline wrote to (queueName option = registry key). */
object InMemoryQueueRegistry {
  private val queues = new ConcurrentHashMap[String, InMemoryQueue]()
  def queue(name: String): InMemoryQueue =
    queues.computeIfAbsent(name, new InMemoryQueue(_))
  def remove(name: String): Unit = queues.remove(name)
}

/** Queue client over any [[RawQueue]] transport, implementing the
  * reference's fetch semantics (AsyncSqsClientImpl.scala:61-167): a fetch
  * round receives, parses, and consumes concurrently; the loop stops when a
  * round comes back empty or `maxFilesPerTrigger` messages were consumed;
  * the caller blocks at most `waitTimeoutSeconds` and the round continues
  * in the background (overlap of ingest with query execution). The delete
  * path carries the reference's partial-failure discipline
  * (AsyncSqsClientImpl.scala:238-289) regardless of transport. The one
  * client class of the source (reference: AsyncQueueClient.scala:26-52);
  * tests drive it over an [[InMemoryQueue]].
  */
final class QueueFetchClient(
    queue: RawQueue,
    label: String,
    consumer: FileMetadata => Unit,
    maxFilesPerFetch: Option[Int],
    visibilityTimeoutSeconds: Int,
    maxConcurrency: Int,
    keepMessageOnConsumerError: Boolean) extends AutoCloseable {

  val metrics = new QueueClientMetrics
  private val receiveFailureStreak = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of fetch rounds in a row that ended in a receive failure; any
    * round that talks to the queue successfully resets it. The source
    * compares this against its error budget to fail the query loudly
    * instead of letting a dead queue look like an idle (or, during an
    * AvailableNow drain, a fully-drained) one. */
  def consecutiveReceiveFailures: Int = receiveFailureStreak.get()

  private val pool = Executors.newFixedThreadPool(math.max(2, math.min(maxConcurrency, 16)), r => {
    val t = new Thread(r, s"graft-queue-fetch-$label")
    t.setDaemon(true)
    t
  })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private val ReceiveBatch = 10 // SQS receive hard limit, kept for parity

  /** Kick one fetch round-trip; the returned future completes when the
    * round finishes (caller may stop waiting early and let it continue). */
  def asyncFetch(waitTimeoutSeconds: Long): Future[Seq[ConsumeResult]] = {
    metrics.fetchThreadCounter.increment()
    val fut = Future {
      val results = mutable.ArrayBuffer[ConsumeResult]()
      var consumed = 0
      var done = false
      val budget = maxFilesPerFetch.getOrElse(Int.MaxValue)
      while (!done && consumed < budget) {
        val received =
          try {
            val msgs =
              queue.receive(math.min(ReceiveBatch, budget - consumed), visibilityTimeoutSeconds)
            receiveFailureStreak.set(0) // the queue answered: streak over
            msgs
          } catch {
            case NonFatal(_) =>
              metrics.receiveMessageFailedCounter.increment()
              receiveFailureStreak.incrementAndGet()
              results += ConsumeResult.ReceiveException
              done = true
              Seq.empty[QueueMessage]
          }
        if (received.isEmpty) {
          if (!done) results += ConsumeResult.ReceiveEmpty
          done = true
        } else {
          metrics.receiveMessageCounter.add(received.size)
          received.foreach { msg =>
            EventParser.parse(msg) match {
              case Some(meta) =>
                metrics.parseMessageCounter.increment()
                try {
                  consumer(meta)
                  metrics.consumeMessageCounter.increment()
                  results += ConsumeResult.Ok
                } catch {
                  case NonFatal(_) =>
                    metrics.consumeMessageFailedCounter.increment()
                    results += ConsumeResult.ConsumerException
                    if (!keepMessageOnConsumerError) deleteMessage(msg.messageId)
                }
              case None =>
                // unparsable / non-create events are dropped immediately
                metrics.parseMessageFailedCounter.increment()
                metrics.discardedMessageCounter.increment()
                deleteMessage(msg.messageId)
                results += ConsumeResult.ParseNone
            }
            consumed += 1
          }
        }
      }
      results.toSeq
    }
    // block the trigger thread at most waitTimeoutSeconds; on timeout the
    // fetch keeps running and its results land in the cache for the next
    // trigger (reference: AsyncSqsClientImpl.scala:157-167)
    try Await.ready(fut, Duration(waitTimeoutSeconds, TimeUnit.SECONDS))
    catch { case _: java.util.concurrent.TimeoutException => () }
    fut
  }

  def deleteMessage(messageId: String): Unit = {
    try {
      if (queue.delete(messageId)) metrics.deleteMessageCounter.increment()
      else metrics.deleteMessageFailedCounter.increment()
    } catch {
      case NonFatal(_) => metrics.deleteMessageFailedCounter.increment()
    }
  }

  /** Batch delete in SQS-sized chunks of 10 with the reference's
    * partial-failure discipline (AsyncSqsClientImpl.scala:238-289): a
    * failed ENTRY is counted and dropped (the message redelivers and is
    * re-acked later), while a failed CALL falls back to per-message
    * deletes so one broken batch endpoint can't strand a whole chunk. */
  def deleteMessageBatch(messageIds: Seq[String]): Unit =
    messageIds.grouped(ReceiveBatch).foreach { chunk =>
      try {
        queue.deleteBatch(chunk).foreach { case (_, ok) =>
          if (ok) metrics.deleteMessageCounter.increment()
          else metrics.deleteMessageFailedCounter.increment()
        }
      } catch {
        case NonFatal(_) => chunk.foreach(deleteMessage)
      }
    }

  def setMessageVisibility(messageId: String, timeoutSeconds: Int): Unit = {
    try {
      if (queue.changeVisibility(messageId, timeoutSeconds)) metrics.setVisibilityCounter.increment()
      else metrics.setVisibilityFailedCounter.increment()
    } catch {
      case NonFatal(_) => metrics.setVisibilityFailedCounter.increment()
    }
  }

  /** Ack a committed batch: delete all its messages (chunked). */
  def handleProcessedMessageBatch(messageIds: Seq[String]): Unit =
    deleteMessageBatch(messageIds)

  override def close(): Unit = {
    pool.shutdown()
    queue.close()
  }
}

package graft.sources

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.Try
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
  private val wrapped = new ConcurrentHashMap[String, RawQueue]()
  def queue(name: String): InMemoryQueue =
    queues.computeIfAbsent(name, new InMemoryQueue(_))
  def remove(name: String): Unit = { queues.remove(name); wrapped.remove(name) }
  /** The transport a source opens on `name`: the queue itself, or what
    * [[interpose]] put over it. */
  private[graft] def transport(name: String): RawQueue =
    Option(wrapped.get(name)).getOrElse(queue(name))
  /** Sources opened on `name` from now on talk through `transport`, a
    * wrapper over `queue(name)` (tests time and slow the wire calls so). */
  private[graft] def interpose(name: String, transport: RawQueue): Unit =
    wrapped.put(name, transport)
  /** Names of the queues registered now (leak checks in tests). */
  private[graft] def names: Set[String] = {
    import scala.jdk.CollectionConverters._
    queues.keySet.asScala.toSet
  }
}

/** Queue client over any [[RawQueue]] transport, implementing the
  * reference's fetch semantics (AsyncSqsClientImpl.scala:61-167) with up to
  * `maxConcurrency` wire calls in flight at once.
  *
  * A fetch round is a chain of waves of concurrent receives, bounded by the
  * round's budget: `maxFilesPerFetch` unless the caller passes another. One
  * width rule holds for every round: a wave is at most
  * min(maxConcurrency, ceil(budget / 10)) receives wide, so a
  * `maxFilesPerFetch` round keeps its usual width and an AvailableNow drain
  * round (budget `maxConcurrency` x 10) is `maxConcurrency` wide. A round
  * starts with one receive, so an idle or failing queue costs one call per
  * round (each is billed on real SQS); a caller that asks for a wide opening
  * (the drain) starts at full width instead, so a drain round whose
  * receives come back full or empty is a single wave. While every receive
  * of the last wave came back full, the next wave issues
  * min(width, ceil(remaining / 10)) receives together, never asking for
  * more than the round's remaining budget in total; after a partly full
  * wave the next is one receive again. Each wave's messages are then
  * parsed and consumed one after another, in receive order. The round ends
  * at the budget, when a receive comes back empty (`ReceiveEmpty`) or when
  * one throws (one `ReceiveException` per wave). The caller blocks at most
  * `waitTimeoutSeconds` and the round continues in the background (overlap
  * of ingest with query execution).
  *
  * The trade of the wide opening: an empty queue costs a drain
  * `maxConcurrency` receives, not one, once per query; a backlog costs
  * about backlog / (`maxConcurrency` x 10) sequential round trips. Every
  * in-flight receive holds a connection, so over [[SqsHttpQueue]]
  * `maxConcurrency` is also the most connections a drain opens to the
  * endpoint (the pool they come from is shared by every queue of the JVM).
  *
  * The delete path carries the reference's partial-failure discipline
  * (AsyncSqsClientImpl.scala:238-289) regardless of transport and sends a
  * batch's 10-entry chunks concurrently on the pool.
  * [[deleteMessageBatchAsync]] returns without waiting, so the source acks
  * a batch while Spark runs it; [[handleProcessedMessageBatch]] waits for
  * the same calls. The one client class of the source (reference:
  * AsyncQueueClient.scala:26-52); tests drive it over an [[InMemoryQueue]]
  * and over [[SqsHttpQueue]].
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

  // One pool thread per in-flight wire call. No pool thread ever waits on
  // another pool task, so overlapping rounds cannot starve the pool.
  private val pool = {
    val p = new ThreadPoolExecutor(maxConcurrency, maxConcurrency, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-queue-fetch-$label")
        t.setDaemon(true)
        t.setUncaughtExceptionHandler { (th, e) =>
          metrics.fetchThreadUncaughtExceptionCounter.increment()
          th.getThreadGroup.uncaughtException(th, e)
        }
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }
  // Every step that does work runs through onPool; the glue between steps
  // only starts the next one, on the thread that finished the previous.
  private implicit val glue: ExecutionContext = ExecutionContext.parasitic

  private val ReceiveBatch = 10 // SQS receive hard limit, kept for parity

  /** How long a caller waits for the wire calls it fanned out (a batch's
    * deletes; in-flight calls at close). A call still running after the
    * visibility timeout has lost its messages' lease anyway: they are
    * redelivered and acked again. */
  private val callWaitSeconds = math.max(1L, visibilityTimeoutSeconds.toLong)

  /** Runs `body` on the pool. `Future.apply` never completes its future when
    * the body throws a fatal error; here any throwable fails the future, and
    * a fatal one is rethrown afterwards so it still reaches the thread's
    * uncaught-exception handler. A closed pool fails the future too. */
  private def onPool[A](body: => A): Future[A] = {
    val p = Promise[A]()
    try {
      pool.execute { () =>
        try p.success(body)
        catch { case t: Throwable => p.failure(t); if (!NonFatal(t)) throw t }
      }
    } catch { case NonFatal(e) => p.failure(e) }
    p.future
  }

  /** Kick one fetch round of at most `budget` messages (None: until the
    * queue comes back empty), opening with one receive or, when `openWide`,
    * with a wave of the round's full width; the returned future completes
    * when the round finishes (caller may stop waiting early and let it
    * continue). */
  def asyncFetch(
      waitTimeoutSeconds: Long,
      budget: Option[Int] = maxFilesPerFetch,
      openWide: Boolean = false): Future[Seq[ConsumeResult]] = {
    metrics.fetchThreadCounter.increment()
    val fut = fetchRound(budget.getOrElse(Int.MaxValue), openWide).transform { r =>
      if (r.isFailure) metrics.fetchThreadFailedCounter.increment()
      r
    }
    // block the trigger thread at most waitTimeoutSeconds; on timeout the
    // fetch keeps running and its results land in the cache for the next
    // trigger (reference: AsyncSqsClientImpl.scala:157-167)
    try Await.ready(fut, Duration(waitTimeoutSeconds, TimeUnit.SECONDS))
    catch { case _: java.util.concurrent.TimeoutException => () }
    fut
  }

  private def fetchRound(budget: Int, openWide: Boolean): Future[Seq[ConsumeResult]] = {
    val results = mutable.ArrayBuffer[ConsumeResult]()
    var received = 0 // messages received so far, charged against the budget
    // most receives one wave issues: what the budget needs at once, and
    // never more than maxConcurrency
    val width = math.min(maxConcurrency, (budget - 1) / ReceiveBatch + 1)

    // consume one wave in receive order; the next wave's width, 0 to stop
    def settle(asked: Seq[Int], replies: Seq[Try[Seq[QueueMessage]]]): Int = {
      replies.foreach(_.foreach { msgs =>
        metrics.receiveMessageCounter.add(msgs.size)
        msgs.foreach(msg => results += consume(msg))
        received += msgs.size
      })
      val failed = replies.count(_.isFailure)
      if (failed > 0) {
        metrics.receiveMessageFailedCounter.add(failed)
        receiveFailureStreak.incrementAndGet()
        results += ConsumeResult.ReceiveException
        0
      } else {
        receiveFailureStreak.set(0) // the queue answered: streak over
        val got = replies.map(_.get.size)
        if (got.contains(0)) { results += ConsumeResult.ReceiveEmpty; 0 }
        else if (received >= budget) 0
        else if (got == asked) math.min(width, (budget - received - 1) / ReceiveBatch + 1)
        else 1
      }
    }

    def wave(n: Int): Future[Seq[ConsumeResult]] = {
      val remaining = budget - received
      val asked = Seq.tabulate(n)(i => math.min(ReceiveBatch, remaining - i * ReceiveBatch))
      Future.traverse(asked)(k => onPool(Try(queue.receive(k, visibilityTimeoutSeconds))))
        .flatMap(replies => onPool(settle(asked, replies)))
        .flatMap(next => if (next > 0) wave(next) else Future.successful(results.toSeq))
    }

    wave(if (openWide) width else 1)
  }

  private def consume(msg: QueueMessage): ConsumeResult =
    EventParser.parse(msg) match {
      case Some(meta) =>
        metrics.parseMessageCounter.increment()
        try {
          consumer(meta)
          metrics.consumeMessageCounter.increment()
          ConsumeResult.Ok
        } catch {
          case NonFatal(_) =>
            metrics.consumeMessageFailedCounter.increment()
            if (!keepMessageOnConsumerError) deleteMessage(msg.messageId)
            ConsumeResult.ConsumerException
        }
      case None =>
        // unparsable / non-create events are dropped immediately
        metrics.parseMessageFailedCounter.increment()
        metrics.discardedMessageCounter.increment()
        deleteMessage(msg.messageId)
        ConsumeResult.ParseNone
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
    * deletes so one broken batch endpoint can't strand a whole chunk.
    * Every chunk goes out on the pool at once; the returned future
    * completes when all of them (fallbacks included) have returned. A
    * closed pool fails it: the messages redeliver and are dropped as
    * already persisted. */
  def deleteMessageBatchAsync(messageIds: Seq[String]): Future[Unit] =
    Future.traverse(messageIds.grouped(ReceiveBatch).toSeq)(chunk => onPool(deleteChunk(chunk)))
      .map(_ => ())

  /** Waits for `calls` at most `callWaitSeconds`, then returns either way. */
  def awaitCalls(calls: Future[_]): Unit =
    try Await.ready(calls, Duration(callWaitSeconds, TimeUnit.SECONDS))
    catch { case _: java.util.concurrent.TimeoutException => () }

  private def deleteChunk(chunk: Seq[String]): Unit =
    try {
      queue.deleteBatch(chunk).foreach { case (_, ok) =>
        if (ok) metrics.deleteMessageCounter.increment()
        else metrics.deleteMessageFailedCounter.increment()
      }
    } catch {
      case NonFatal(_) => chunk.foreach(deleteMessage)
    }

  def setMessageVisibility(messageId: String, timeoutSeconds: Int): Unit = {
    try {
      if (queue.changeVisibility(messageId, timeoutSeconds)) metrics.setVisibilityCounter.increment()
      else metrics.setVisibilityFailedCounter.increment()
    } catch {
      case NonFatal(_) => metrics.setVisibilityFailedCounter.increment()
    }
  }

  /** Ack a committed batch: [[deleteMessageBatchAsync]], waited for at
    * most `callWaitSeconds`. */
  def handleProcessedMessageBatch(messageIds: Seq[String]): Unit =
    awaitCalls(deleteMessageBatchAsync(messageIds))

  /** Stops new work, waits at most `callWaitSeconds` for in-flight wire
    * calls (a batch's deletes among them) so none signs with credentials
    * the transport is about to close, then closes the transport. A round
    * whose next step the closed pool refuses fails instead of consuming. */
  override def close(): Unit = {
    pool.shutdown()
    try pool.awaitTermination(callWaitSeconds, TimeUnit.SECONDS)
    catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    queue.close()
  }
}

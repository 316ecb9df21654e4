package graft.sources

import java.util.concurrent.atomic.LongAdder

/** Counter set mirroring the reference's 14 queue-client metrics
  * (AsyncClientMetrics.scala:22-38, AsyncSqsClientMetricsImpl.scala:25-76). */
final class QueueClientMetrics {
  val receiveMessageCounter = new LongAdder
  val receiveMessageFailedCounter = new LongAdder
  val parseMessageCounter = new LongAdder
  val parseMessageFailedCounter = new LongAdder
  val discardedMessageCounter = new LongAdder
  val consumeMessageCounter = new LongAdder
  val consumeMessageFailedCounter = new LongAdder
  val deleteMessageCounter = new LongAdder
  val deleteMessageFailedCounter = new LongAdder
  val setVisibilityCounter = new LongAdder
  val setVisibilityFailedCounter = new LongAdder
  val fetchThreadCounter = new LongAdder
  val fetchThreadFailedCounter = new LongAdder
  val fetchThreadUncaughtExceptionCounter = new LongAdder

  /** The 14 counters as an ordered name -> value snapshot (one read per
    * counter; values from one snapshot may straddle concurrent updates,
    * which is fine for monitoring counters). */
  def snapshot: Seq[(String, Long)] = Seq(
    "receiveMessage" -> receiveMessageCounter, "receiveMessageFailed" -> receiveMessageFailedCounter,
    "parseMessage" -> parseMessageCounter, "parseMessageFailed" -> parseMessageFailedCounter,
    "discardedMessage" -> discardedMessageCounter,
    "consumeMessage" -> consumeMessageCounter, "consumeMessageFailed" -> consumeMessageFailedCounter,
    "deleteMessage" -> deleteMessageCounter, "deleteMessageFailed" -> deleteMessageFailedCounter,
    "setVisibility" -> setVisibilityCounter, "setVisibilityFailed" -> setVisibilityFailedCounter,
    "fetchThread" -> fetchThreadCounter, "fetchThreadFailed" -> fetchThreadFailedCounter,
    "fetchThreadUncaughtException" -> fetchThreadUncaughtExceptionCounter
  ).map { case (k, v) => k -> v.sum() }

  def json: String =
    snapshot.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

/** Low-level queue transport: the four point operations one fetch round is
  * built from. Implementations: [[InMemoryQueue]] (process-local broker) and
  * [[SqsHttpQueue]] (SDK-free SQS wire protocol over HTTP + SigV4). The
  * shared fetch/consume/delete discipline lives in [[QueueFetchClient]], so
  * both transports get identical semantics — the reference gets the same
  * split from `SqsAsyncClient` (transport) vs `AsyncSqsClientImpl` (loop).
  *
  * Error contract: `receive` and `deleteBatch` throw on a failed CALL;
  * `delete`/`changeVisibility` return false on a failed ENTRY (unknown or
  * expired handle) and throw only on transport failure.
  */
trait RawQueue extends AutoCloseable {
  def receive(max: Int, visibilityTimeoutSeconds: Int): Seq[QueueMessage]
  def delete(messageId: String): Boolean
  /** One call, per-entry outcomes (an unknown id is a failed ENTRY, not a
    * failed CALL — SQS DeleteMessageBatch shape). */
  def deleteBatch(messageIds: Seq[String]): Map[String, Boolean]
  def changeVisibility(messageId: String, timeoutSeconds: Int): Boolean
  override def close(): Unit = {}
}

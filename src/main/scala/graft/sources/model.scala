package graft.sources

/** Core file-level data model of the push-based file source.
  *
  * Semantics follow the reference connector's model
  * (reference: S3ConnectorModel.scala:23-34, S3MetadataLog.scala:22-25):
  * the engine's own data model is file-level metadata; row-level data is
  * whatever the user's schema + file format declare.
  */

/** A file announced by the queue: where it is and when it was created. */
final case class FileMetadata(filePath: String, timestampMs: Long, messageId: String)

/** Cache entry for an announced file awaiting processing. `isProcessed`
  * is ignored: [[FileCache]] holds pending files only, and a processed
  * file is recorded by the metadata log alone. */
final case class QueueMessageDesc(timestampMs: Long, isProcessed: Boolean, messageId: String)

/** A file as persisted in the metadata log, tagged with its batch. */
final case class FileEntry(path: String, timestampMs: Long, batchId: Long)

/** A raw queue message (body is a JSON event notification). */
final case class QueueMessage(messageId: String, body: String)

/** Verdicts for admission of an announced file
  * (reference: S3ConnectorFileValidator.scala:58-61, less its
  * `ExistInCacheProcessed`: a processed file is answered by the log). */
sealed trait FileValidResult
object FileValidResult {
  case object Ok extends FileValidResult
  case object PatternNotMatch extends FileValidResult
  case object FileExpired extends FileValidResult
  case object ExistInCacheNotProcessed extends FileValidResult
  case object PersistedInMetadataLog extends FileValidResult
}

/** Outcome taxonomy of one queue consume round
  * (reference: AsyncQueueClient.scala:54-57). */
sealed trait ConsumeResult
object ConsumeResult {
  case object Ok extends ConsumeResult
  case object ParseNone extends ConsumeResult
  case object ConsumerException extends ConsumeResult
  case object ReceiveEmpty extends ConsumeResult
  case object ReceiveException extends ConsumeResult
}

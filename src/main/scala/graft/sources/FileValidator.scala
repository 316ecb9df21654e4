package graft.sources

import org.apache.hadoop.fs.GlobPattern

/** Admission control for announced files: the five-verdict dedup/validity
  * check that gives the source its exactly-once ingestion guarantee
  * (reference: S3ConnectorFileValidator.scala:32-55).
  *
  * Order of checks matters and is preserved: glob -> expiry -> pending ->
  * persisted log. Each kind of duplicate is answered from one place: a
  * path still pending in the cache is `ExistInCacheNotProcessed` (retry
  * later), a path the log holds inside the horizon is
  * `PersistedInMetadataLog` (drop). The metadata-log check only holds
  * within the age window — a file older than the purge horizon that *was*
  * logged is treated as new again (documented reference semantics,
  * SURVEY §2.2), whether or not `purge()` has run since the horizon moved.
  */
final class FileValidator(
    cache: FileCache,
    metadataLog: FileMetadataLog,
    pathGlobFilter: Option[String]) {

  private val glob: Option[GlobPattern] = pathGlobFilter.map(new GlobPattern(_))

  def isValidNewFile(filePath: String, timestampMs: Long): FileValidResult = {
    if (glob.exists(g => !g.matches(filePath))) {
      FileValidResult.PatternNotMatch
    } else if (cache.isExpired(timestampMs)) {
      FileValidResult.FileExpired
    } else if (cache.isPending(filePath)) {
      FileValidResult.ExistInCacheNotProcessed
    } else if (!metadataLog.isNewFile(filePath, cache.lastPurgeTimestamp)) {
      FileValidResult.PersistedInMetadataLog
    } else {
      FileValidResult.Ok
    }
  }

  /** Validate `meta` and insert it on `Ok`, as one step under the cache's
    * monitor. `markProcessed` takes the same monitor after the log holds
    * the file, so a path is always pending or logged and is admitted once.
    * No I/O under the monitor: the log check reads its in-memory index. */
  def admit(meta: FileMetadata): FileValidResult = cache.synchronized {
    val verdict = isValidNewFile(meta.filePath, meta.timestampMs)
    if (verdict == FileValidResult.Ok) {
      cache.addIfAbsent(meta.filePath,
        QueueMessageDesc(meta.timestampMs, isProcessed = false, meta.messageId))
    }
    verdict
  }

  /** Batch-read-time path filter (second glob enforcement point,
    * reference: S3ConnectorSource.scala:186-191). */
  def matchesGlob(filePath: String): Boolean = glob.forall(_.matches(filePath))
}

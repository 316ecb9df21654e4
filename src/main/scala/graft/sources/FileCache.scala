package graft.sources

/** Driver-side set of pending files: announced and admitted, not yet
  * logged into a batch. Ordered oldest first by `(timestampMs, path)`,
  * with a monotonic event-time high-water mark and an age-based purge
  * horizon.
  *
  * Semantics follow the reference (S3ConnectorFileCache.scala:36-164):
  *  - the high-water mark only moves forward;
  *  - a file is droppable once older than the mark minus `maxAgeMs`;
  *  - `getUnprocessedFiles` takes the oldest `maxFiles` unexpired pending
  *    files, in O(log n + maxFiles) (the reference's `shouldSortFiles`
  *    order, :98-105, is the only order);
  *  - `purge()` evicts expired entries from the head and returns the count.
  *
  * A file leaves the set through `markProcessed` once the metadata log has
  * persisted the batch holding it: from then on the log's index is the
  * only record of it, so the set is bounded by ingest lag, not by the
  * arrival rate times the age horizon. Every method holds the instance's
  * monitor; a caller that must check and insert as one step (admission,
  * [[FileValidator.admit]]) holds it across both.
  *
  * `restoredLatestMs` seeds the high-water mark: a restarted source passes
  * the newest timestamp its restored log holds, so it keeps the horizon
  * it had instead of starting at 0 until the first admission.
  */
final class FileCache(maxAgeMs: Long, restoredLatestMs: Long = -1L) {
  require(maxAgeMs > 0, s"maxAgeMs must be positive, got $maxAgeMs")

  private val byPath = new java.util.HashMap[String, FileMetadata]()
  private val oldestFirst = new java.util.TreeSet[FileMetadata](FileCache.Order)
  private var latest = restoredLatestMs

  /** Files strictly older than this are expired. Never negative. */
  def lastPurgeTimestamp: Long = synchronized(math.max(0L, latest - maxAgeMs))

  def isExpired(timestampMs: Long): Boolean = timestampMs < lastPurgeTimestamp

  /** Insert a pending file unless its path is pending already; true if
    * inserted. The high-water mark observes the timestamp either way. */
  def addIfAbsent(path: String, desc: QueueMessageDesc): Boolean = synchronized {
    latest = math.max(latest, desc.timestampMs)
    if (byPath.containsKey(path)) false
    else {
      val f = FileMetadata(path, desc.timestampMs, desc.messageId)
      byPath.put(path, f)
      oldestFirst.add(f)
      true
    }
  }

  def isPending(path: String): Boolean = synchronized(byPath.containsKey(path))

  /** Drop `path` from the pending set; call once the log holds it. */
  def markProcessed(path: String): Unit = synchronized {
    val f = byPath.remove(path)
    if (f != null) oldestFirst.remove(f)
  }

  /** The oldest `maxFiles` unexpired pending files (all of them if None). */
  def getUnprocessedFiles(maxFiles: Option[Int]): Seq[FileMetadata] = synchronized {
    val live = oldestFirst.tailSet(FileMetadata("", lastPurgeTimestamp, ""), true).iterator()
    val out = Seq.newBuilder[FileMetadata]
    var n = maxFiles.getOrElse(Int.MaxValue)
    while (n > 0 && live.hasNext) { out += live.next(); n -= 1 }
    out.result()
  }

  /** Evict expired entries; returns the number removed. */
  def purge(): Int = synchronized {
    val horizon = lastPurgeTimestamp
    var removed = 0
    while (!oldestFirst.isEmpty && oldestFirst.first().timestampMs < horizon) {
      byPath.remove(oldestFirst.pollFirst().filePath)
      removed += 1
    }
    removed
  }

  def size: Int = synchronized(byPath.size())
}

object FileCache {
  /** Oldest first; the path breaks ties, so equal timestamps keep a
    * deterministic batch composition. */
  private val Order: java.util.Comparator[FileMetadata] = (a, b) => {
    val byTime = java.lang.Long.compare(a.timestampMs, b.timestampMs)
    if (byTime != 0) byTime else a.filePath.compareTo(b.filePath)
  }
}

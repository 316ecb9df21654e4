package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Driver-side pending-file cache: thread-safe path -> descriptor map with a
  * monotonic event-time high-water mark and an age-based purge horizon.
  *
  * Semantics follow the reference (S3ConnectorFileCache.scala:36-164):
  *  - `latestTimestamp` only moves forward (CAS loop);
  *  - a file is droppable once older than `latestTimestamp - maxAgeMs`;
  *  - `getUnprocessedFiles` takes up to `maxFiles` unexpired, unprocessed
  *    entries, optionally in event-time order;
  *  - `purge()` evicts expired entries and returns the count.
  *
  * The cache synchronizes the async queue-consumer threads with the
  * stream-execution thread. It holds pending files AND processed ones:
  * `markProcessed` only flags an entry, and `purge()` evicts by age, so
  * every file admitted within the `maxAgeMs` horizon stays cached. Its
  * size is bounded by the file arrival rate times the age horizon, not
  * by ingest lag or total history.
  */
final class FileCache(maxAgeMs: Long) {
  require(maxAgeMs > 0, s"maxAgeMs must be positive, got $maxAgeMs")

  private val cache = new ConcurrentHashMap[String, QueueMessageDesc]()
  private val latest = new AtomicLong(-1L)
  private val admitted = new AtomicLong(0L)

  /** Cumulative count of distinct files ever admitted (insertions, not
    * current size — markProcessed/purge don't decrement). Backs the
    * source's deterministic-first-batch gate. */
  def totalAdmitted: Long = admitted.get()

  /** Monotonically advance the event-time high-water mark. */
  private def observe(timestampMs: Long): Unit = {
    var cur = latest.get()
    while (timestampMs > cur && !latest.compareAndSet(cur, timestampMs)) {
      cur = latest.get()
    }
  }

  def latestTimestamp: Long = latest.get()

  /** Files strictly older than this are expired. Never negative. */
  def lastPurgeTimestamp: Long = math.max(0L, latest.get() - maxAgeMs)

  def isExpired(timestampMs: Long): Boolean = timestampMs < lastPurgeTimestamp

  def add(path: String, desc: QueueMessageDesc): Unit = {
    if (cache.put(path, desc) == null) admitted.incrementAndGet()
    observe(desc.timestampMs)
  }

  /** CAS insert; returns true if we won the race (entry was absent). */
  def addIfAbsent(path: String, desc: QueueMessageDesc): Boolean = {
    val prev = cache.putIfAbsent(path, desc)
    observe(desc.timestampMs)
    if (prev == null) admitted.incrementAndGet()
    prev == null
  }

  def get(path: String): Option[QueueMessageDesc] = Option(cache.get(path))

  def isNewFile(path: String): Boolean = !cache.containsKey(path)

  def markProcessed(path: String): Unit =
    cache.computeIfPresent(path, (_, d) => d.copy(isProcessed = true))

  /** Up to maxFiles unprocessed, unexpired files; sorted=true gives the
    * oldest-first top-K (reference's shouldSortFiles mode, :98-105). */
  def getUnprocessedFiles(maxFiles: Option[Int], sorted: Boolean = false): Seq[FileMetadata] = {
    val horizon = lastPurgeTimestamp
    val pending = cache.entrySet().iterator().asScala.collect {
      case e if !e.getValue.isProcessed && e.getValue.timestampMs >= horizon =>
        FileMetadata(e.getKey, e.getValue.timestampMs, e.getValue.messageId)
    }
    if (sorted) {
      val all = pending.toSeq.sortBy(f => (f.timestampMs, f.filePath))
      maxFiles.fold(all)(all.take)
    } else {
      maxFiles.fold(pending.toSeq)(pending.take(_).toSeq)
    }
  }

  /** Evict expired entries; returns the number removed. */
  def purge(): Int = {
    val horizon = lastPurgeTimestamp
    var removed = 0
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getValue.timestampMs < horizon) { it.remove(); removed += 1 }
    }
    removed
  }

  def size: Int = cache.size()
}

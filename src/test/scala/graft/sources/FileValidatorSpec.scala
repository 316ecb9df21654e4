package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Five-verdict admission matrix (mirrors the reference's
  * S3ConnectorFileValidatorSuite, less its processed-in-cache verdict).
  * Uses a stub metadata log so the validator is exercised in isolation. */
class FileValidatorSpec extends AnyFunSuite {
  import FileValidResult._

  private class StubLog(known: Map[String, Long]) extends FileMetadataLog {
    def add(batchId: Long, entries: Array[FileEntry]): Boolean = true
    def get(batchId: Long): Option[Array[FileEntry]] = None
    def get(startId: Long, endId: Long): Array[(Long, Array[FileEntry])] = Array.empty
    def getLatestBatchId: Option[Long] = None
    def isNewFile(path: String, horizon: Long): Boolean =
      !known.contains(path) || known(path) < horizon
    def getFile(path: String): Option[FileEntry] =
      known.get(path).map(ts => FileEntry(path, ts, 0))
    def newestTimestampMs: Long = known.values.maxOption.getOrElse(-1L)
    def purgeBefore(horizonMs: Long): Int = 0
    def close(): Unit = ()
  }

  test("Ok for a fresh file") {
    val v = new FileValidator(new FileCache(1000), new StubLog(Map.empty), None)
    assert(v.isValidNewFile("s3://b/x.csv", 100) == Ok)
  }

  test("PatternNotMatch when glob rejects (incl. partition-dir patterns)") {
    val cache = new FileCache(1000)
    val v = new FileValidator(cache, new StubLog(Map.empty), Some("*/part=*/*.csv"))
    assert(v.isValidNewFile("bucket/part=1/a.csv", 1) == Ok)
    assert(v.isValidNewFile("bucket/other/a.csv", 1) == PatternNotMatch)
    assert(v.isValidNewFile("bucket/part=1/a.json", 1) == PatternNotMatch)
  }

  private def seed(cache: FileCache, path: String, ts: Long): Unit =
    cache.addIfAbsent(path, QueueMessageDesc(ts, isProcessed = false, "m"))

  test("FileExpired when older than the purge horizon") {
    val cache = new FileCache(100)
    seed(cache, "seed", 10_000)
    val v = new FileValidator(cache, new StubLog(Map.empty), None)
    assert(v.isValidNewFile("f", 10) == FileExpired)
  }

  test("a pending path retries; a processed one is answered by the log") {
    val cache = new FileCache(10_000)
    seed(cache, "pending", 10)
    seed(cache, "done", 20)
    cache.markProcessed("done") // the log holds it from here on
    val v = new FileValidator(cache, new StubLog(Map("done" -> 20L)), None)
    assert(v.isValidNewFile("pending", 10) == ExistInCacheNotProcessed)
    assert(v.isValidNewFile("done", 20) == PersistedInMetadataLog)
  }

  test("admit inserts on Ok only, and a second announcement retries") {
    val cache = new FileCache(10_000)
    val v = new FileValidator(cache, new StubLog(Map("logged" -> 5L)), None)
    assert(v.admit(FileMetadata("a", 10, "m1")) == Ok)
    assert(cache.isPending("a"))
    assert(v.admit(FileMetadata("a", 10, "m2")) == ExistInCacheNotProcessed)
    assert(v.admit(FileMetadata("logged", 5, "m3")) == PersistedInMetadataLog)
    assert(cache.getUnprocessedFiles(None) == Seq(FileMetadata("a", 10, "m1")))
  }

  test("PersistedInMetadataLog within horizon; resurrection past horizon") {
    val cache = new FileCache(100)
    seed(cache, "seed", 10_000)
    // horizon = 9_900; logged at 50 => no longer vouched for => new again
    val v = new FileValidator(cache, new StubLog(Map("logged" -> 9_950L, "ancient" -> 50L)), None)
    assert(v.isValidNewFile("logged", 9_950) == PersistedInMetadataLog)
    assert(v.isValidNewFile("ancient", 9_950) == Ok)
  }
}

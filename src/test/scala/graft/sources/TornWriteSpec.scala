package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Torn-write fault injection on the metadata log (reference
  * discipline: RocksDBFileManager's atomic-rename + recover-previous-
  * version handling, RocksDBFileManager.scala:244-312,435-466).
  *
  * `createAtomic` makes a torn FINAL file unreachable on rename-atomic
  * filesystems — a mid-write kill leaves only an invisible temp file —
  * but object stores without atomic rename can tear the renamed artifact
  * itself. These specs inject exactly that: truncate a compact or batch
  * file in place and demand restore either reconstructs the
  * pre-crash state from older intact artifacts or fails descriptively,
  * never continues from silently-partial state (which would re-admit
  * already-ingested files at the source).
  */
class TornWriteSpec extends AnyFunSuite with SuiteTempDirs {

  private def entries(batchId: Long, paths: (String, Long)*): Array[FileEntry] =
    paths.map { case (p, ts) => FileEntry(p, ts, batchId) }.toArray

  private def truncate(p: Path, keep: Int): Unit = {
    val bytes = Files.readAllBytes(p)
    assert(bytes.length > keep, s"fixture too small to tear: $p (${bytes.length} bytes)")
    Files.write(p, bytes.take(keep), StandardOpenOption.TRUNCATE_EXISTING)
  }

  test("file log: torn newest compact falls back to the previous compact + full tail") {
    val dir = tempDir("graft-torn").toString
    val log = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3)
    (0L to 4L).foreach(i => log.add(i, entries(i, s"f$i" -> (1000L + i))))
    log.close() // on disk now: 2.compact (intact) + batch files 3, 4
    val logDir = Paths.get(dir, "graft-batches")

    // crash model for the torn compaction at batch 5: the batch file was
    // written (adds are file-first), the compact's rename tore, and the
    // post-compact deletes never ran — so batches 3..5 all still exist
    Files.write(logDir.resolve("5"),
      """[{"path":"f5","timestampMs":1005,"batchId":5}]""".getBytes("UTF-8"))
    Files.write(logDir.resolve("5.compact"),
      """{"version":2,"batchIds":[0,1,2,3,4,5],"entr""".getBytes("UTF-8")) // torn mid-key

    val restored = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3)
    try {
      assert(restored.getLatestBatchId.contains(5L))
      (0L to 5L).foreach(i =>
        assert(restored.get(i).exists(_.exists(_.path == s"f$i")),
          s"batch $i lost by the torn-compact fallback"))
      assert(!restored.isNewFile("f1", 0L), "file index missing pre-compact state")
      assert(!restored.isNewFile("f5", 0L), "file index missing the tail batch")
    } finally restored.close()
  }

  test("file log: all compacts torn fails descriptively, never silently partial") {
    val dir = tempDir("graft-torn").toString
    val log = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3)
    (0L to 3L).foreach(i => log.add(i, entries(i, s"f$i" -> (1000L + i))))
    log.close() // 2.compact + batch 3; batches 0-2 live only in the compact
    truncate(Paths.get(dir, "graft-batches", "2.compact"), 20)
    val e = intercept[GraftSourceException](
      new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3))
    assert(e.getMessage.contains("no readable compact"), s"not descriptive: ${e.getMessage}")
    assert(e.getMessage.contains("2.compact"), s"must name the torn file: ${e.getMessage}")
  }

  test("file log: torn per-batch tail file fails descriptively and names the batch") {
    val dir = tempDir("graft-torn").toString
    val log = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 100)
    (0L to 2L).foreach(i => log.add(i, entries(i, s"f$i" -> (1000L + i))))
    log.close()
    truncate(Paths.get(dir, "graft-batches", "2"), 10)
    val e = intercept[GraftSourceException](
      new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 100))
    assert(e.getMessage.contains("torn or corrupt"), s"not descriptive: ${e.getMessage}")
    assert(e.getMessage.contains("2"), s"must name the batch file: ${e.getMessage}")
  }

  test("file log: torn compact whose cleanup already ran refuses, never rebuilds stale state") {
    val dir = tempDir("graft-torn").toString
    val log = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3)
    (0L to 4L).foreach(i => log.add(i, entries(i, s"f$i" -> (1000L + i))))
    log.close() // on disk: 2.compact (intact) + batch files 3, 4
    val logDir = Paths.get(dir, "graft-batches")

    // rot model (vs the crash model above): the compaction at batch 5
    // COMPLETED — its cleanup deleted the folded batch files but crashed
    // before removing the superseded 2.compact — and 5.compact rotted
    // later. Falling back to 2.compact + surviving tail would silently
    // regress latestBatchId to 2 and re-admit f3..f5 at the source.
    Files.write(logDir.resolve("5.compact"),
      """{"version":2,"batchIds":[0,1,2,3,4,5],"entr""".getBytes("UTF-8"))
    Files.delete(logDir.resolve("3"))
    Files.delete(logDir.resolve("4"))

    val e = intercept[GraftSourceException](
      new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3))
    assert(e.getMessage.contains("already deleted"), s"not descriptive: ${e.getMessage}")
    assert(e.getMessage.contains("5.compact"), s"must name the torn compact: ${e.getMessage}")
    assert(e.getMessage.contains("3") && e.getMessage.contains("4"),
      s"must name the missing batches: ${e.getMessage}")
  }

  test("file log: fallback audit exempts horizon-purged batches instead of refusing") {
    val dir = tempDir("graft-torn").toString
    val log = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 4)
    (0L to 5L).foreach(i => log.add(i, entries(i, s"f$i" -> (1000L + i))))
    // on disk: 3.compact + batch files 4, 5
    // age-horizon purge removes batch 4 (all files below horizon, not the
    // latest) and records it in the _purged sidecar
    assert(log.purgeBefore(1005L) >= 1)
    log.add(6L, entries(6L, "f6" -> 1006L))
    log.close()
    val logDir = Paths.get(dir, "graft-batches")
    assert(!Files.exists(logDir.resolve("4")), "purge must have deleted batch file 4")

    // crash model: compaction at batch 7 tore mid-rename, cleanup never
    // ran — every batch it folded still exists EXCEPT purged batch 4,
    // whose absence is deliberate, not evidence that cleanup ran
    Files.write(logDir.resolve("7"),
      """[{"path":"f7","timestampMs":1007,"batchId":7}]""".getBytes("UTF-8"))
    Files.write(logDir.resolve("7.compact"),
      """{"version":2,"batchIds":[0,1,2,3,5,6,7],"entr""".getBytes("UTF-8"))

    val restored = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 4)
    try {
      assert(restored.getLatestBatchId.contains(7L),
        "purge-exempt fallback must reconstruct up to the torn compact's tail")
      Seq(5L, 6L, 7L).foreach(i =>
        assert(restored.get(i).exists(_.exists(_.path == s"f$i")), s"batch $i lost"))
      assert(restored.get(4L).isEmpty, "purged batch must stay purged after fallback")
    } finally restored.close()

    // negative control on the same layout: a batch missing WITHOUT a purge
    // record still refuses (the "cleanup already ran" rot model)
    Files.delete(logDir.resolve("5"))
    val e = intercept[GraftSourceException](
      new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 4))
    assert(e.getMessage.contains("already deleted"), s"not descriptive: ${e.getMessage}")
  }

  test("file log: a leftover createAtomic temp file is invisible to restore") {
    val dir = tempDir("graft-torn").toString
    val log = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3)
    (0L to 3L).foreach(i => log.add(i, entries(i, s"f$i" -> (1000L + i))))
    log.close()
    // the rename-atomic crash shape: a half-written temp that never renamed
    Files.write(Paths.get(dir, "graft-batches", ".5.compact.deadbeef.tmp"),
      """{"version":2,"batchIds":[0""".getBytes("UTF-8"))
    val restored = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3)
    try assert(restored.getLatestBatchId.contains(3L))
    finally restored.close()
  }
}

package graft.sources

import java.io.{FilterOutputStream, IOException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Checkpoint file manager whose atomic `.compact` streams throw once
  * `FailingCompactFileManager.LimitKey` bytes have been written: a crash
  * in the middle of writing a compact. Installed through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` Hadoop conf key. */
class FailingCompactFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  private val limit = conf.getLong(FailingCompactFileManager.LimitKey, Long.MaxValue)

  override def createAtomic(p: Path, overwrite: Boolean): CancellableFSDataOutputStream = {
    val inner = super.createAtomic(p, overwrite)
    if (!p.getName.endsWith(".compact")) inner
    else {
      val failing = new FilterOutputStream(inner) {
        private var written = 0L
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          val n = math.min(len.toLong, limit - written).toInt
          inner.write(b, off, n)
          written += n
          if (n < len) throw new IOException(s"injected failure after $written bytes of $p")
        }
      }
      new CancellableFSDataOutputStream(failing) {
        override def cancel(): Unit = inner.cancel()
        override def close(): Unit = inner.close()
      }
    }
  }
}

object FailingCompactFileManager {
  val LimitKey = "graft.test.compactFailAfterBytes"
}

class FileMetadataLogSpec extends AnyFunSuite with SuiteTempDirs {
  private def withLog(f: (FileBackedMetadataLog, String) => Unit): Unit = {
    val dir = tempDir("graft-metalog").toString
    val log = new FileBackedMetadataLog(dir, new Configuration())
    try f(log, dir) finally log.close()
  }

  private def entries(batchId: Long, paths: (String, Long)*): Array[FileEntry] =
    paths.map { case (p, ts) => FileEntry(p, ts, batchId) }.toArray

  test("add/get roundtrip and latest") {
    withLog { (log, _) =>
      assert(log.getLatestBatchId.isEmpty)
      log.add(0, entries(0, "a" -> 10L, "b" -> 20L))
      log.add(1, entries(1, "c" -> 30L))
      assert(log.getLatestBatchId.contains(1L))
      assert(log.get(0).get.map(_.path).toSeq == Seq("a", "b"))
      assert(log.get(1).get.head.timestampMs == 30L)
      assert(log.get(99).isEmpty)
    }
  }

  test("duplicate batch id rejected") {
    withLog { (log, _) =>
      log.add(0, entries(0, "a" -> 1L))
      intercept[GraftMetalogAddException](log.add(0, entries(0, "b" -> 2L)))
    }
  }

  test("range get; missing batch in range throws") {
    withLog { (log, _) =>
      log.add(0, entries(0, "a" -> 1L)); log.add(1, entries(1, "b" -> 2L))
      val r = log.get(0, 1)
      assert(r.map(_._1).toSeq == Seq(0L, 1L))
      intercept[GraftSourceException](log.get(0, 5))
    }
  }

  test("restart restores offset and file index from disk") {
    val dir = tempDir("graft-metalog").toString
    val log1 = new FileBackedMetadataLog(dir, new Configuration())
    log1.add(0, entries(0, "p1" -> 100L))
    log1.add(1, entries(1, "p2" -> 200L))
    log1.close()
    val log2 = new FileBackedMetadataLog(dir, new Configuration())
    assert(log2.getLatestBatchId.contains(1L))
    assert(!log2.isNewFile("p1", 0L))
    assert(log2.getFile("p2").get.batchId == 1L)
    assert(log2.get(0).get.head.path == "p1")
    log2.close()
  }

  test("compaction: restart after 25 batches reads O(1) files, state intact") {
    val dir = tempDir("graft-metalog").toString
    val log1 = new FileBackedMetadataLog(dir, new Configuration())
    (0L until 25L).foreach(i => log1.add(i, entries(i, s"p$i" -> (100L + i))))
    log1.close()
    val log2 = new FileBackedMetadataLog(dir, new Configuration())
    assert(log2.lastRestoreFilesRead <= 3,
      s"restart read ${log2.lastRestoreFilesRead} files; compaction is not bounding restart cost")
    // the folded state is fully intact across the compact representation
    assert(log2.getLatestBatchId.contains(24L))
    (0L until 25L).foreach { i =>
      assert(log2.get(i).get.head.path == s"p$i", s"batch $i lost in compaction")
      assert(log2.getFile(s"p$i").get.batchId == i)
    }
    assert(log2.get(0, 24).length == 25)
    // a fresh add on the restored log keeps working (and re-compacts later)
    log2.add(25L, entries(25L, "p25" -> 200L))
    assert(log2.getLatestBatchId.contains(25L))
    log2.close()
  }

  test("compaction preserves zero-entry batches: get and latest survive restart") {
    val dir = tempDir("graft-metalog").toString
    val log = new FileBackedMetadataLog(dir, new Configuration())
    log.add(0, entries(0, "p0" -> 100L))
    // empty batch (a trigger that admitted no files still advances the
    // offset); the compact file must record its boundary explicitly
    log.add(1, Array.empty[FileEntry])
    (2L until 5L).foreach(i => log.add(i, entries(i, s"p$i" -> (100L + i))))
    // batch 4 triggered compaction ((4+1) % 5 == 0); restart from compact
    val log2 = new FileBackedMetadataLog(dir, new Configuration())
    assert(log2.lastRestoreFilesRead == 1, "restart must read only the compact file")
    assert(log2.get(1).exists(_.isEmpty), "zero-entry batch vanished in compaction")
    assert(log2.get(0, 4).length == 5, "range read must see all five batches")
    assert(log2.getLatestBatchId.contains(4L))
    log2.close(); log.close()
  }

  test("compact bytes are the v2 JSON that earlier builds write and read") {
    val dir = tempDir("graft-metalog").toString
    val log = new FileBackedMetadataLog(dir, new Configuration())
    log.add(0, entries(0, "s3://b/dt=1/a.parquet" -> 100L, "s3://b/dt=1/b \"q\".parquet" -> 101L))
    log.add(1, Array.empty[FileEntry])
    log.add(2, entries(2, "s3://b/dt=2/café.parquet" -> 1700000000000L))
    log.add(3, entries(3, "s3://b/dt=3/c.parquet" -> 103L))
    log.add(4, entries(4, "s3://b/dt=4/d.parquet" -> 104L))
    log.close()
    val golden =
      """{"version":2,"batchIds":[0,1,2,3,4],"entries":[""" +
        """{"path":"s3://b/dt=1/a.parquet","timestampMs":100,"batchId":0},""" +
        """{"path":"s3://b/dt=1/b \"q\".parquet","timestampMs":101,"batchId":0},""" +
        """{"path":"s3://b/dt=2/café.parquet","timestampMs":1700000000000,"batchId":2},""" +
        """{"path":"s3://b/dt=3/c.parquet","timestampMs":103,"batchId":3},""" +
        """{"path":"s3://b/dt=4/d.parquet","timestampMs":104,"batchId":4}]}"""
    val got = Files.readAllBytes(Paths.get(dir, "graft-batches", "4.compact"))
    assert(got.toSeq == golden.getBytes(StandardCharsets.UTF_8).toSeq,
      new String(got, StandardCharsets.UTF_8))
  }

  test("a compact that fails mid-write never becomes visible; restore reads the batch files") {
    val dir = tempDir("graft-metalog").toString
    val failing = new Configuration()
    failing.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[FailingCompactFileManager].getName)
    failing.setLong(FailingCompactFileManager.LimitKey, 4096L)
    val log = new FileBackedMetadataLog(dir, failing)
    // 5 x 100 entries: the compact is far larger than the 4 KiB the
    // stream accepts, so the failure lands partway through the write
    def batch(i: Long) = entries(i, (0 until 100).map(j => s"s3://b/$i/part-$j.parquet" -> (1000L + i)): _*)
    (0L until 4L).foreach(i => log.add(i, batch(i)))
    val e = intercept[IOException](log.add(4L, batch(4L)))
    assert(e.getMessage.contains("injected failure"), e.getMessage)
    log.close()
    val names = Files.list(Paths.get(dir, "graft-batches")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!names.exists(_.contains(".compact")), s"a compact or its temp file is visible: $names")
    assert((0 to 4).forall(i => names(i.toString)), s"a per-batch file is missing: $names")

    val restored = new FileBackedMetadataLog(dir, new Configuration())
    try {
      assert(restored.getLatestBatchId.contains(4L))
      assert(restored.lastRestoreFilesRead == 5)
      (0L to 4L).foreach { i =>
        assert(restored.get(i).get.map(_.path).toSeq == batch(i).map(_.path).toSeq, s"batch $i")
        assert(!restored.isNewFile(s"s3://b/$i/part-99.parquet", 0L))
      }
    } finally restored.close()
  }

  test("compaction interleaves with purge: purged batches stay gone from the live log") {
    val dir = tempDir("graft-metalog").toString
    val log = new FileBackedMetadataLog(dir, new Configuration())
    (0L until 10L).foreach(i => log.add(i, entries(i, s"x$i" -> (10L + i))))
    // purge everything except the latest (horizon above all timestamps)
    log.purgeBefore(1000L)
    assert(log.get(0).isEmpty && log.get(9).nonEmpty)
    // next compaction serializes only the live state
    (10L until 15L).foreach(i => log.add(i, entries(i, s"x$i" -> 2000L)))
    val log2 = new FileBackedMetadataLog(dir, new Configuration())
    assert(log2.get(9).nonEmpty && log2.get(12).nonEmpty)
    assert(log2.get(0).isEmpty, "purged batch resurrected by compaction")
    log2.close(); log.close()
  }

  test("restore migrates a legacy v1 bare-array compact file (pre-versioned checkpoint)") {
    val dir = tempDir("graft-metalog").toString
    // hand-write the pre-round-4 compact shape: a bare JSON array of
    // entries, no version marker, no batchIds boundary list
    val logDir = java.nio.file.Paths.get(dir, "graft-batches")
    Files.createDirectories(logDir)
    val legacy =
      """[{"path":"old-a","timestampMs":10,"batchId":0},
        |{"path":"old-b","timestampMs":20,"batchId":0},
        |{"path":"old-c","timestampMs":30,"batchId":2}]""".stripMargin
    // legacy compacts are named after the batch that triggered them, so
    // the id is always <= the restored latest batch id
    Files.write(logDir.resolve("2.compact"), legacy.getBytes("UTF-8"))
    val log = new FileBackedMetadataLog(dir, new Configuration())
    assert(log.getLatestBatchId.contains(2L))
    assert(log.get(0).get.map(_.path).sorted.toSeq == Seq("old-a", "old-b"))
    assert(log.get(2).get.head.path == "old-c")
    assert(!log.isNewFile("old-a", 0L), "file index must be rebuilt from the legacy compact")
    // the upgraded log keeps working: new adds and a v2 re-compaction
    (3L until 10L).foreach(i => log.add(i, entries(i, s"new$i" -> (100L + i))))
    log.close()
    val log2 = new FileBackedMetadataLog(dir, new Configuration())
    assert(log2.getLatestBatchId.contains(9L))
    assert(log2.get(2).get.head.path == "old-c", "legacy state lost across re-compaction")
    assert(log2.get(7).get.head.path == "new7")
    log2.close()
  }

  test("restore fails descriptively on a future compact format version") {
    val dir = tempDir("graft-metalog").toString
    val logDir = java.nio.file.Paths.get(dir, "graft-batches")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("4.compact"),
      """{"version":99,"batchIds":[0],"entries":[]}""".getBytes("UTF-8"))
    val e = intercept[GraftSourceException](new FileBackedMetadataLog(dir, new Configuration()))
    assert(e.getMessage.contains("version 99"), s"error must name the version: ${e.getMessage}")
  }

  test("restore fails descriptively on an unrecognized compact shape, not an NPE") {
    val dir = tempDir("graft-metalog").toString
    val logDir = java.nio.file.Paths.get(dir, "graft-batches")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("4.compact"), """{"what":"is-this"}""".getBytes("UTF-8"))
    val e = intercept[GraftSourceException](new FileBackedMetadataLog(dir, new Configuration()))
    assert(e.getMessage.contains("compact"), s"unexpected message: ${e.getMessage}")
  }

  test("isNewFile: expiry resurrection semantics (SURVEY §2.2)") {
    withLog { (log, _) =>
      log.add(0, entries(0, "old" -> 100L))
      assert(!log.isNewFile("old", 50L))  // within horizon: dedup holds
      assert(log.isNewFile("old", 150L))  // past horizon: new again
      assert(log.isNewFile("never-seen", 0L))
    }
  }

  test("purgeBefore removes only fully-expired batches, never the latest") {
    withLog { (log, dir) =>
      log.add(0, entries(0, "a" -> 10L, "b" -> 500L)) // mixed: keep
      log.add(1, entries(1, "c" -> 20L))              // all old: drop
      log.add(2, entries(2, "d" -> 900L))             // latest: keep
      val removed = log.purgeBefore(300L)
      assert(removed == 1)
      assert(log.get(1).isEmpty)
      assert(log.get(0).isDefined && log.get(2).isDefined)
      // latest is never purged even when expired
      assert(log.purgeBefore(Long.MaxValue) == 1) // removes batch 0 only
      assert(log.get(2).isDefined)
      assert(log.getLatestBatchId.contains(2L))
    }
  }

  test("bench-age files never reach the purge sidecar path (r10 stream_* rule-out)") {
    withLog { (log, dir) =>
      // The bench stream queries stage their input seconds before the
      // run and keep the 15d maxFileAge default, so GraftFileSource's
      // commit-time purge horizon (newest file ts - maxFileAgeMs, per
      // FileCache.lastPurgeTimestamp) sits 15 DAYS before every file it
      // has admitted. This pins the resulting law: at bench data ages
      // purgeBefore selects nothing and the `_purged` sidecar — the one
      // r10 FileMetadataLog change on the stream_* hot path — is never
      // even created, so it cannot have contributed a byte of the r10
      // stream_* bench swing.
      val now = System.currentTimeMillis()
      val maxFileAgeMs = ConnectorOptions(
        Map("queueurl" -> "q", "fileformat" -> "parquet")).maxFileAgeMs
      assert(maxFileAgeMs == 15L * 24 * 3600 * 1000, "15d default moved; re-derive this law")
      (0L until 20L).foreach { i =>
        log.add(i, entries(i, s"staged-$i" -> (now - i * 1000)))
      }
      val horizon = math.max(0L, now - maxFileAgeMs)
      assert(log.purgeBefore(horizon) == 0, "bench-age batch purged — horizon law broken")
      (0L until 20L).foreach(i => assert(log.get(i).isDefined))
      val sidecar = java.nio.file.Paths.get(dir, "graft-batches", "_purged")
      assert(!Files.exists(sidecar),
        "purge sidecar written without any purge — the write is not horizon-gated")
    }
  }

  test("purge sidecar stays O(compactInterval): compaction prunes covered ids") {
    withLog { (log, dir) =>
      // Purge-heavy run: every batch below the horizon gets purged as
      // soon as it is no longer the latest, across many compaction
      // cycles (default interval 5). Without the compact-time pruning
      // at FileMetadataLog.compact, purgedIds would grow O(history) and
      // the `_purged` file would be rewritten whole on every purge.
      val sidecar = java.nio.file.Paths.get(dir, "graft-batches", "_purged")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      var maxSeen = 0
      (0L until 60L).foreach { i =>
        log.add(i, entries(i, s"old-$i" -> i))
        log.purgeBefore(Long.MaxValue) // everything but the latest is expired
        if (Files.exists(sidecar)) {
          val n = mapper.readTree(new String(Files.readAllBytes(sidecar), "UTF-8")).size()
          maxSeen = math.max(maxSeen, n)
        }
      }
      // a purge AFTER the last compaction may leave ids below the compact
      // until the next one runs — the law is that each completed
      // compaction drops every id it covers. Run batches up to the next
      // compact boundary (no interleaved purge) and check the sidecar.
      (60L until 65L).foreach(i => log.add(i, entries(i, s"old-$i" -> i)))
      val lastCompact = Files.list(java.nio.file.Paths.get(dir, "graft-batches"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".compact")).map(_.stripSuffix(".compact").toLong).max
      assert(lastCompact >= 60L, s"fixture: expected a fresh compaction, last is $lastCompact")
      val ids = mapper.readTree(new String(Files.readAllBytes(sidecar), "UTF-8"))
        .elements().asScala.map(_.asLong()).toSeq
      assert(ids.forall(_ > lastCompact),
        s"sidecar retains ids at/below the surviving compact $lastCompact: $ids")
      // bound: ids above the last compact are at most one interval's
      // worth of batches (+1 for the never-purged latest exclusion)
      assert(maxSeen <= 2 * FileBackedMetadataLog.DefaultCompactInterval + 1,
        s"sidecar grew to $maxSeen entries over 60 purge-heavy batches — not O(compactInterval)")
      // and the pruning must not cost correctness: a restart still
      // audits clean (no spurious torn-compact refusal on purged gaps)
      val log2 = new FileBackedMetadataLog(dir, new Configuration())
      assert(log2.getLatestBatchId.contains(64L))
      log2.close()
    }
  }
}

package graft.sources

import scala.collection.immutable.SortedMap

import org.apache.hadoop.conf.Configuration
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Model-based property of admission plus the file log: random sequences
  * of announcements, triggers, commits and restarts drive `FileCache` +
  * `FileValidator` + `FileBackedMetadataLog` and a pure in-memory model
  * side by side; every message's verdict and every batch's file list must
  * agree. Uses raw ScalaCheck Gens with fixed seeds, as
  * [[ConcurrencyAndPropertySpec]] does (the scalatest bridge artifact is
  * not in the offline cache). */
class AdmissionModelSpec extends AnyFunSuite with SuiteTempDirs {
  import AdmissionModelSpec._
  import FileValidResult._

  /** The code under test, wired as `GraftFileSource` wires it, over a
    * fresh checkpoint dir. */
  private final class Sut extends AutoCloseable {
    private val dir = tempDir("graft-admission-model").toString
    private def open() = new FileBackedMetadataLog(dir, new Configuration(), compactInterval = 3)
    var log: FileBackedMetadataLog = open()
    var cache = new FileCache(MaxAgeMs, log.newestTimestampMs)
    var validator = new FileValidator(cache, log, None)
    var batch: Long = log.getLatestBatchId.getOrElse(-1L)

    def announce(path: String, ts: Long): FileValidResult =
      validator.admit(FileMetadata(path, ts, s"m-$path-$ts"))

    /** `fetchMaxOffset`: select, log, mark processed, purge the cache. */
    def trigger(maxFiles: Int): Option[(Long, Seq[String])] = {
      val files = cache.getUnprocessedFiles(Some(maxFiles))
      val out = if (files.isEmpty) None else {
        batch += 1
        log.add(batch, files.map(f => FileEntry(f.filePath, f.timestampMs, batch)).toArray)
        files.foreach(f => cache.markProcessed(f.filePath))
        Some(batch -> files.map(_.filePath))
      }
      cache.purge()
      out
    }

    /** `commit`: purge the cache, then the log below the horizon. */
    def commit(): Unit = {
      cache.purge()
      log.purgeBefore(cache.lastPurgeTimestamp)
    }

    /** A new source over the same checkpoint: restored log, empty cache
      * whose high-water mark is the log's newest timestamp. */
    def restart(): Unit = {
      log.close()
      log = open()
      cache = new FileCache(MaxAgeMs, log.newestTimestampMs)
      validator = new FileValidator(cache, log, None)
      batch = log.getLatestBatchId.getOrElse(-1L)
    }

    override def close(): Unit = log.close()
  }

  private def run(ops: Seq[Op]): Unit = {
    val sut = new Sut
    var model = Model()
    var clock = 0L
    try ops.zipWithIndex.foreach { case (op, i) =>
      def trace = s"op $i of ${ops.mkString("[", ", ", "]")}"
      op match {
        case Announce(p, advance, back) =>
          clock += advance
          val ts = math.max(0L, clock - back)
          val (want, next) = model.announce(s"f$p", ts)
          val got = sut.announce(s"f$p", ts)
          assert(got == want, s"verdict for f$p@$ts: $trace")
          model = next
        case Trigger(n) =>
          val (want, next) = model.trigger(n)
          assert(sut.trigger(n) == want, s"batch: $trace")
          model = next
        case Commit =>
          sut.commit()
          model = model.commit
        case Restart =>
          sut.restart()
          model = model.restart
          assert(sut.batch == model.latestBatch, s"restored batch id: $trace")
      }
    } finally sut.close()
  }

  test("generated: verdicts and batches agree with the model across restarts") {
    Iterator.iterate(Seed(7L))(_.next).take(100)
      .foreach(seed => run(ops.pureApply(Gen.Parameters.default, seed)))
  }

  test("a file logged before the horizon is new in the fetch round that moved the horizon") {
    // f0 is logged at 1000; f1 moves the horizon to 1050; f0 comes back in
    // the same round, before any purge: the log no longer vouches for it
    run(Seq(Announce(0, 1000, 0), Trigger(10), Announce(1, 150, 0), Announce(0, 0, 0),
      Trigger(10)))
    val sut = new Sut
    try {
      assert(sut.announce("f0", 1000) == Ok)
      sut.trigger(10)
      assert(sut.announce("f0", 1000) == PersistedInMetadataLog)
      assert(sut.announce("f1", 1150) == Ok)
      assert(sut.announce("f0", 1150) == Ok)
    } finally sut.close()
  }

  test("a file purged from the log before a restart stays forgotten after it") {
    // f0's batch is purged after the compact at batch 2 folded it; the
    // restart must not restore it, or f0 would be dropped as persisted
    run(Seq(Announce(0, 1000, 0), Trigger(1), Announce(1, 1, 0), Trigger(1),
      Announce(2, 200, 0), Trigger(1), Commit, Restart, Announce(0, 0, 0)))
  }

  test("a restart keeps the age horizon of the restored log") {
    // f0 is logged at 1000, f1 at 1200 (horizon 1100); after the restart
    // the horizon is still 1100, not 0: f0's entry no longer vouches for
    // it, and a stamp below the horizon is expired
    run(Seq(Announce(0, 1000, 0), Trigger(10), Announce(1, 200, 0), Trigger(10), Restart,
      Announce(0, 0, 0)))
    val sut = new Sut
    try {
      assert(sut.announce("f0", 1000) == Ok)
      sut.trigger(10)
      assert(sut.announce("f1", 1200) == Ok)
      sut.trigger(10)
      sut.restart()
      assert(sut.announce("f2", 1050) == FileExpired)
      assert(sut.announce("f0", 1200) == Ok)
    } finally sut.close()
  }
}

object AdmissionModelSpec {
  val MaxAgeMs = 100L
  val PathCount = 4

  sealed trait Op
  /** Move the announcement clock by `advance`, then announce path `f<p>`
    * stamped `back` ms before the clock. */
  final case class Announce(p: Int, advance: Long, back: Long) extends Op
  final case class Trigger(maxFiles: Int) extends Op
  case object Commit extends Op
  case object Restart extends Op

  val op: Gen[Op] = Gen.frequency(
    6 -> (for {
      p <- Gen.choose(0, PathCount - 1)
      // mostly small steps; sometimes far past the horizon
      advance <- Gen.frequency(6 -> Gen.choose(0L, 20L), 1 -> Gen.choose(100L, 300L))
      // mostly fresh stamps; sometimes at or before the horizon
      back <- Gen.frequency(4 -> Gen.const(0L), 3 -> Gen.choose(0L, 2 * MaxAgeMs))
    } yield Announce(p, advance, back)),
    3 -> Gen.choose(1, 4).map(Trigger),
    2 -> Gen.const(Commit),
    1 -> Gen.const(Restart))

  val ops: Gen[Seq[Op]] = Gen.listOfN(40, op)

  /** The admission rules, with no cache, log or I/O: `pending` is the
    * cache's pending set, `batches` the live log, `index` its path ->
    * (timestamp, batch) lookup. */
  final case class Model(
      latest: Long = -1L,
      pending: Map[String, Long] = Map.empty,
      batches: SortedMap[Long, Seq[(String, Long)]] = SortedMap.empty,
      index: Map[String, (Long, Long)] = Map.empty) {
    import FileValidResult._

    def horizon: Long = math.max(0L, latest - MaxAgeMs)
    def latestBatch: Long = batches.lastOption.fold(-1L)(_._1)

    def announce(path: String, ts: Long): (FileValidResult, Model) =
      if (ts < horizon) (FileExpired, this)
      else if (pending.contains(path)) (ExistInCacheNotProcessed, this)
      else if (index.get(path).exists(_._1 >= horizon)) (PersistedInMetadataLog, this)
      else (Ok, copy(latest = math.max(latest, ts), pending = pending + (path -> ts)))

    /** Oldest `n` unexpired pending files, logged as the next batch; then
      * the expired pending files are purged. */
    def trigger(n: Int): (Option[(Long, Seq[String])], Model) = {
      val files = pending.toSeq.filter(_._2 >= horizon).sortBy(f => (f._2, f._1)).take(n)
      val logged =
        if (files.isEmpty) this
        else {
          val id = latestBatch + 1
          copy(pending = pending -- files.map(_._1), batches = batches + (id -> files),
            index = index ++ files.map { case (p, ts) => p -> (ts, id) })
        }
      val out = if (files.isEmpty) None else Some(logged.latestBatch -> files.map(_._1))
      (out, logged.copy(pending = logged.pending.filter(_._2 >= horizon)))
    }

    /** Up to 20 batches wholly below the horizon leave the log, oldest
      * first, never the latest one; the index forgets their paths unless
      * a later batch logged them again. */
    def commit: Model = {
      val h = horizon
      val gone = batches.iterator
        .filter { case (id, fs) => id != latestBatch && fs.forall(_._2 < h) }
        .map(_._1).take(FileBackedMetadataLog.MaxBatchesRemovedPerPurge).toSet
      copy(pending = pending.filter(_._2 >= h), batches = batches -- gone,
        index = index.filterNot { case (_, (_, b)) => gone(b) })
    }

    /** Pending files are lost; the mark restarts at the newest live
      * logged timestamp. */
    def restart: Model =
      copy(latest = index.values.map(_._1).maxOption.getOrElse(-1L), pending = Map.empty)
  }
}

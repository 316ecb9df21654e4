package graft.sources

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Concurrency semantics of the cache insert and of admission racing a
  * trigger, and generator-driven coverage of the option parser
  * (going a step past the reference's example-based suites, SURVEY §5).
  * Uses raw ScalaCheck Gens with a fixed seed (the scalatest bridge
  * artifact is not in the offline cache). */
class ConcurrencyAndPropertySpec extends AnyFunSuite with SuiteTempDirs {

  /** Deterministic sampling: 200 values from a seeded generator. */
  private def samples[A](gen: Gen[A], n: Int = 200): Seq[A] =
    Iterator.iterate(Seed(42L))(_.next)
      .map(s => gen.pureApply(Gen.Parameters.default, s))
      .take(n).toSeq

  test("addIfAbsent: exactly one winner per key under 16-thread contention") {
    val cache = new FileCache(Long.MaxValue / 2)
    val pool = Executors.newFixedThreadPool(16)
    val wins = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(16 * 50)
    (0 until 16).foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          (0 until 50).foreach { k =>
            if (cache.addIfAbsent(s"file-$k", QueueMessageDesc(k.toLong, isProcessed = false, s"m$t")))
              wins.incrementAndGet()
            done.countDown()
          }
        }
      })
    }
    start.countDown()
    assert(done.await(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(wins.get() == 50) // one winner per distinct key
    assert(cache.size == 50)
  }

  test("admit: duplicate announcements racing triggers land in exactly one logged batch") {
    val dir = tempDir("graft-admit-race").toString
    val log = new FileBackedMetadataLog(dir, new Configuration())
    val cache = new FileCache(Long.MaxValue / 2)
    val validator = new FileValidator(cache, log, None)
    val paths = (0 until 300).map(i => s"file-$i")
    val consumers = 4
    val pool = Executors.newFixedThreadPool(consumers)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(consumers)
    // each consumer announces every path three times, in its own order, as
    // overlapping fetch rounds redeliver the same messages
    (0 until consumers).foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit = try {
          start.await()
          val order = new scala.util.Random(t).shuffle(paths)
          (1 to 3).foreach(_ => order.foreach(p =>
            validator.admit(FileMetadata(p, p.stripPrefix("file-").toLong, s"m$t"))))
        } finally done.countDown()
      })
    }
    start.countDown()
    // the trigger thread: select, log, mark processed, until the
    // consumers are done and nothing is pending
    var batch = -1L
    var drained = false
    while (!drained) {
      val finished = done.getCount == 0
      val files = cache.getUnprocessedFiles(Some(7))
      if (files.nonEmpty) {
        batch += 1
        log.add(batch, files.map(f => FileEntry(f.filePath, f.timestampMs, batch)).toArray)
        files.foreach(f => cache.markProcessed(f.filePath))
      } else drained = finished
    }
    pool.shutdown()
    try {
      val logged = log.get(0L, batch).toSeq.flatMap(_._2.map(_.path))
      assert(logged.sorted == paths.sorted, "every path logged exactly once")
      assert(cache.size == 0 && cache.getUnprocessedFiles(None).isEmpty)
    } finally log.close()
  }

  test("generated: durationMs parses every unit consistently") {
    val units = Seq(("ms", 1L), ("s", 1000L), ("m", 60000L), ("h", 3600000L), ("d", 86400000L))
    for {
      n <- samples(Gen.choose(0L, 10000L), 50)
      (suffix, factor) <- units
    } assert(ConnectorOptions.durationMs(s"$n$suffix") == n * factor)
  }

  test("generated: maxFilesPerTrigger - positive kept, non-positive/garbage unlimited") {
    val base = Map("fileFormat" -> "csv", "queueName" -> "q")
    samples(Gen.choose(-1000, 1000)).foreach { n =>
      val got = ConnectorOptions(base + ("maxFilesPerTrigger" -> n.toString)).maxFilesPerTrigger
      if (n > 0) assert(got.contains(n)) else assert(got.isEmpty)
    }
    samples(Gen.alphaStr, 50).filter(_.toIntOption.isEmpty).foreach { s =>
      assert(ConnectorOptions(base + ("maxFilesPerTrigger" -> s)).maxFilesPerTrigger.isEmpty)
    }
  }

  test("generated: unknown options always pass through to the file format") {
    val base = Map("fileFormat" -> "csv", "queueName" -> "q")
    val kv = for {
      k <- Gen.identifier.suchThat(_.nonEmpty)
      v <- Gen.alphaNumStr
    } yield (k, v)
    samples(kv, 100)
      .filterNot { case (k, _) => ConnectorOptions.ownKeys.contains(k.toLowerCase) }
      .foreach { case (k, v) =>
        val o = ConnectorOptions(base + (k -> v))
        assert(o.formatOptions.get(k.toLowerCase).contains(v))
      }
  }
}

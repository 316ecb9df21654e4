package graft.sources

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Queue round trips on the source's trigger path, timed at the wire by a
  * [[CountingQueue]] with a per-call delay: how many sequential receive
  * waves an AvailableNow drain takes and how wide they are, that no drain
  * round outgrows its budget, that a default-trigger round still opens with
  * one receive, and when a batch's acks run relative to `latestOffset` and
  * `stop()`. */
class QueueRoundTripSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-roundtrip")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val schema = StructType(Seq(StructField("id", IntegerType)))

  private def announce(q: InMemoryQueue, n: Int): InMemoryQueue = {
    (1 to n).foreach(i => q.send(s"""{"path":"file:/graft-roundtrip/${q.name}/f$i.json","timestampMs":$i}"""))
    q
  }

  /** Runs `body` on a source whose queue holds `n` announcements, reached
    * through a [[CountingQueue]] of `delayMs` per call. */
  private def withSource(name: String, n: Int, options: Map[String, String], delayMs: Long)(
      body: (GraftFileSource, CountingQueue, InMemoryQueue) => Unit): Unit = {
    val q = announce(InMemoryQueueRegistry.queue(name), n)
    val wire = new CountingQueue(q, delayMs = delayMs)
    InMemoryQueueRegistry.interpose(name, wire)
    try {
      val src = new GraftFileSource(spark.sqlContext, tempDir("graft-roundtrip").toString, schema,
        Map("fileformat" -> "json", "queuename" -> name) ++ options)
      body(src, wire, q)
    } finally InMemoryQueueRegistry.remove(name)
  }

  private def metric(src: GraftFileSource, key: String): Long =
    src.metrics(java.util.Optional.empty()).get(key).toLong

  test("an AvailableNow drain of 100 messages at maxConcurrency 50 is one receive wave") {
    withSource("roundtrip-drain", 100,
      Map("maxfilespertrigger" -> "50", "queue.maxconcurrency" -> "50"), delayMs = 100) {
      (src, wire, _) =>
        src.prepareForTriggerAvailableNow()
        assert(metric(src, "pendingFiles") == 100)
        // the round opens with all 50 receives: 10 come back full and the
        // rest empty, so the drain ends after a single round trip
        val waves = CountingQueue.waveWidths(wire.spans("receive"))
        assert(waves.size == 1, s"drain took receive waves of $waves")
        assert(wire.inFlightPeak <= 50, s"${wire.inFlightPeak} receives in flight")
        assert(metric(src, "phase.drainMs") >= 100L)
        src.stop()
    }
  }

  test("the same drain at maxConcurrency 4 runs waves at most 4 wide") {
    withSource("roundtrip-drain-4", 100,
      Map("maxfilespertrigger" -> "50", "queue.maxconcurrency" -> "4"), delayMs = 100) {
      (src, wire, _) =>
        src.prepareForTriggerAvailableNow()
        assert(metric(src, "pendingFiles") == 100)
        // rounds of 40 messages, one wave of 4 each: 40, 40, then 20 and the end
        val waves = CountingQueue.waveWidths(wire.spans("receive"))
        assert(waves == Seq(4, 4, 4), s"drain took receive waves of $waves")
        assert(wire.inFlightPeak <= 4, s"${wire.inFlightPeak} receives in flight")
        src.stop()
    }
  }

  test("a 2,000-message drain completes and no round exceeds its budget") {
    val wire = new CountingQueue(announce(new InMemoryQueue("roundtrip-2000"), 2000))
    val c = new QueueFetchClient(wire, "roundtrip", _ => (), maxFilesPerFetch = Some(50),
      visibilityTimeoutSeconds = 60, maxConcurrency = 50, keepMessageOnConsumerError = false)
    val budget = 50 * 10
    var consumed = 0
    var rounds = 0
    var done = false
    while (!done) {
      val res = Await.result(c.asyncFetch(10, Some(budget), openWide = true), 30.seconds)
      rounds += 1
      val asked = wire.takeAsked()
      assert(asked.sum <= budget, s"round $rounds asked for ${asked.sum} messages")
      // one wave: the round's only receives are its 50-wide opening
      assert(asked == Seq.fill(50)(10), s"round $rounds asked $asked")
      consumed += res.count(_ == ConsumeResult.Ok)
      done = res.contains(ConsumeResult.ReceiveEmpty) || rounds > 5
    }
    assert(consumed == 2000)
    assert(rounds == 5, "four full rounds of 500, then one that finds the queue empty")
    assert(wire.inFlightPeak <= 50, "a wave is at most maxConcurrency wide")
    c.close()
  }

  test("a default-trigger round opens with one receive and stays ceil(maxFilesPerTrigger/10) wide") {
    withSource("roundtrip-default", 100, Map("maxfilespertrigger" -> "50"), delayMs = 100) {
      (src, wire, _) =>
        assert(src.latestOffset(null, ReadLimit.allAvailable()) != null)
        assert(metric(src, "pendingFiles") == 0, "the round's 50 files are in the batch")
        // a full probe, then one wave for the other 40 of the budget
        val waves = CountingQueue.waveWidths(wire.spans("receive"))
        assert(waves == Seq(1, 4), s"round took receive waves of $waves")
        assert(wire.takeAsked().sum == 50)
        assert(wire.inFlightPeak <= 5, s"${wire.inFlightPeak} receives in flight")
        src.stop()
    }
  }

  test("latestOffset returns before its batch's acks; the next latestOffset and stop() wait for them") {
    withSource("roundtrip-acks", 20, Map("maxfilespertrigger" -> "10"), delayMs = 300) {
      (src, wire, q) =>
        src.prepareForTriggerAvailableNow()
        assert(src.latestOffset(null, ReadLimit.allAvailable()) != null)
        assert(wire.spans("deleteBatch").isEmpty, "latestOffset waited for its own batch's acks")
        assert(q.approximateSize == 20)

        src.latestOffset(null, ReadLimit.allAvailable())
        assert(wire.spans("deleteBatch").size == 1,
          "the next latestOffset returns once the first batch's acks are done, not the second's")
        assert(q.approximateSize == 10)
        assert(metric(src, "phase.ackWaitMs") >= 100, "that wait is counted")

        src.stop()
        assert(wire.spans("deleteBatch").size == 2, "stop() waits for the last batch's acks")
        assert(q.approximateSize == 0)
    }
  }
}

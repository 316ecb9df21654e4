package perfbench

import java.nio.file.Paths
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.perfbenchshim.{ListenerBusShim, TestEvents}

import graft.sources.{QueueCredentials, SqsHttpQueue, StaticCredentialsProvider}

/** Self-test of the benchmark's own accounting:
  * `python3 perfbench/run.py --selftest`. Prints one line per check and
  * exits nonzero if any fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case NonFatal(e) =>
        failures += 1
        println(s"FAIL $name: ${e.getMessage}")
    }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))

    check("a task end delivered after its trigger ended counts toward that trigger") {
      val s = new Session(2, work)
      try {
        val sc = s.spark.sparkContext
        val run = Map("spark.jobGroup.id" -> "run-a")
        val t = System.currentTimeMillis()
        ListenerBusShim.post(sc, TestEvents.jobStart(90001, 90001, t, run + ("streaming.sql.batchId" -> "7")))
        ListenerBusShim.post(sc, TestEvents.jobEnd(90001, t + 10))
        // trigger 7 is over and trigger 8 has started when the late event arrives
        ListenerBusShim.post(sc, TestEvents.jobStart(90002, 90002, t + 20, run + ("streaming.sql.batchId" -> "8")))
        ListenerBusShim.post(sc, TestEvents.taskEnd(90001, runTimeMs = 5, timeMs = t + 30))
        s.drainBus()
        val byBatch = s.exec.ofRun("run-a").map(j => j.batchId -> (j.tasks, j.runMs)).toMap
        expect(byBatch(7L) == ((1L, 5L)), s"trigger 7 got ${byBatch(7L)}, want one task of 5 ms")
        expect(byBatch(8L) == ((0L, 0L)), s"trigger 8 got ${byBatch(8L)}, want nothing")
      } finally s.stop()
    }

    check("a stalled consumer delays later files, and latency counts from their due time") {
      var clock = 0.0
      val committedAt = new Array[Double](30)
      // 100 files/s; announcing file 5 stalls the consumer for 200 ms
      val gen = new OpenLoopGen(100.0, 30, (i, _) => {
        if (i == 5) clock += 200
        committedAt(i) = clock
      }, () => clock, ms => clock += ms)
      gen.run(0.0)
      (0 until 30).foreach(i => expect(gen.dueMs(i) == i * 10L, s"file $i due at ${gen.dueMs(i)}"))
      // file 6 was due at 60 ms and went out at 250 ms, when the stall ended;
      // it committed as soon as it went out, yet its latency is 190 ms
      val latency = (0 until 30).map(i => committedAt(i) - gen.dueMs(i))
      expect(latency(6) == 190.0, s"file 6 latency ${latency(6)} ms, want 190 (from its due time)")
      expect(gen.lateMs(6) == 190.0, s"file 6 late by ${gen.lateMs(6)} ms, want 190")
      expect(gen.lateMs(29) == 0.0, s"file 29 late by ${gen.lateMs(29)} ms, want 0")
      expect(Stats.quantile(gen.lateMs, 0.99) >= 130.0, "late p99 shows the stall")
    }

    check("self time subtracts the children a span covers") {
      val spans = IndexedSeq(
        Span("engine", "trigger", 0, 100, 1), Span("source", "get_batch", 10, 40, 1),
        Span("exec", "listing_job", 20, 30, 1), Span("exec", "job", 50, 90, 1))
      val self = Spans.selfTimes(spans)
      expect(self == IndexedSeq(30.0, 20.0, 10.0, 40.0), s"self times $self")
      expect(Spans.union(spans, 0, 100) == 100.0, "union")
    }

    check("the SQS stub verifies signatures and delays answers without holding a thread") {
      val stub = new SqsStub("AKIDTEST", "secret", "us-east-1", delayMs = 200, threads = 1)
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        (0 until 8).foreach(i => stub.queue.send(s"""{"path":"file:/x$i","timestampMs":1}"""))
        def client(secret: String) = new SqsHttpQueue(stub.queueUrl, "us-east-1",
          StaticCredentialsProvider(QueueCredentials("AKIDTEST", secret, None)), 0, maxRetries = 0)
        val t0 = System.nanoTime()
        val got = Await.result(Future.sequence((0 until 8).map(_ => Future(client("secret").receive(1, 60)))),
          30.seconds)
        val ms = (System.nanoTime() - t0) / 1e6
        expect(got.map(_.size).sum == 8, s"received ${got.map(_.size).sum} of 8")
        expect(ms >= 200 && ms < 1000, s"8 concurrent calls took $ms ms on one handler thread")
        expect(stub.inFlightPeak >= 4, s"in-flight peak ${stub.inFlightPeak}")
        expect(stub.callsOf("ReceiveMessage") == 8, "receive calls counted")
        val rejected = scala.util.Try(client("wrong").receive(1, 60)).isFailure
        expect(rejected && stub.rejectedSignatures.sum() == 1, "a bad signature is rejected")
      } finally {
        pool.shutdown()
        pool.awaitTermination(10, TimeUnit.SECONDS)
        stub.stop()
      }
    }

    println(if (failures == 0) "selftest: all checks passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

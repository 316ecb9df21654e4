package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Attribution laws of the one measurement path: each reading holds what
  * its own body caused, even when the listener bus lags behind the jobs. */
class QueryProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def plainJob(): Long = spark.sparkContext.parallelize(1 to 8, 8).count()
  private def shuffleJob(): Long =
    spark.sparkContext.parallelize(1 to 8, 8).map(i => (i % 2, i)).reduceByKey(_ + _).count()

  test("a late listener event lands on the measure call that caused it") {
    val sc = spark.sparkContext
    // slower than the tasks: every event queues up behind this listener,
    // so the stage ends arrive well after each action returned
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    sc.addSparkListener(slow)
    val probe = new QueryProbe(sc)
    try {
      val (n, plain) = probe.measure(plainJob())
      val (groups, shuffled) = probe.measure(shuffleJob())
      assert(n == 8 && groups == 2, "measure returns the body's value")
      assert(plain.jobs == 1 && plain.shuffleWriteBytes == 0 && plain.shuffleReadBytes == 0,
        s"the plain job's reading: $plain")
      assert(shuffled.jobs == 1 && shuffled.shuffleWriteBytes > 0 && shuffled.shuffleReadBytes > 0,
        s"the shuffle job's reading: $shuffled")
      assert(plain.wallSec > 0 && shuffled.wallSec > 0)
    } finally {
      probe.close()
      sc.removeSparkListener(slow)
    }
  }

  test("close() stops counting") {
    val probe = new QueryProbe(spark.sparkContext)
    val (_, open) = probe.measure(shuffleJob())
    assert(open.jobs == 1 && open.shuffleWriteBytes > 0)
    probe.close()
    val (_, closed) = probe.measure(shuffleJob())
    assert(closed.jobs == 0 && closed.shuffleWriteBytes == 0 && closed.taskSec == 0, closed)
  }
}

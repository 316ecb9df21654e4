package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Encoder, Encoders, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Sink + trigger surface the reference exercises that the gate queries
  * don't: row-level ForeachWriter (reference TestForeachWriter.scala:24-34),
  * csv file sink (DataConsumer.scala:72-79), ProcessingTime / Once
  * triggers (DataConsumer.scala:78, S3ConnectorSourceItSuite.scala:105),
  * and the typed Aggregator API.
  */
class SinksAndTriggersSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def stage(n: Int): String = {
    import spark.implicits._
    val dir = tempDir("graft-snk").toString
    (0L until n).map(i => (i, i * 2)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("ForeachWriter receives every row exactly once (graft-files source)") {
    val runId = s"fw_${System.nanoTime()}"
    val dir = stage(50)
    val queue = InMemoryQueueRegistry.queue(runId)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => queue.send(
        s"""{"path":"file:${f.getAbsolutePath}","timestampMs":1000}"""))
    val q = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "parquet").option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
      .load()
      .writeStream.foreach(new ForeachWriter[Row] {
        def open(partitionId: Long, epochId: Long): Boolean = true
        def process(r: Row): Unit = SinksAndTriggersSpec.seen.add(r.getLong(0))
        def close(errorOrNull: Throwable): Unit = ()
      }).start()
    try q.processAllAvailable() finally q.stop()
    InMemoryQueueRegistry.remove(runId)
    val got = SinksAndTriggersSpec.seen.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
    assert(got.toSeq == (0L until 50))
  }

  test("csv file sink with Trigger.AvailableNow writes all rows then stops") {
    val dir = stage(30)
    val out = tempDir("graft-csvout").toString
    val ckpt = tempDir("graft-csvck").toString
    val q = spark.readStream.schema(schema).parquet(dir)
      .writeStream.format("csv")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) // AvailableNow self-terminates
    val back = spark.read.schema(schema).csv(out)
    assert(back.count() == 30)
    assert(back.agg(sum(col("v"))).head.getLong(0) == (0L until 30).map(_ * 2).sum)
  }

  test("ProcessingTime trigger drains the queue across timed micro-batches") {
    val runId = s"pt_${System.nanoTime()}"
    val dir = stage(40)
    val queue = InMemoryQueueRegistry.queue(runId)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => queue.send(
        s"""{"path":"file:${f.getAbsolutePath}","timestampMs":1000}"""))
    val sink = s"sink_$runId"
    val q = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "parquet").option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
      .load()
      .writeStream.format("memory").queryName(sink)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try q.processAllAvailable() finally q.stop()
    InMemoryQueueRegistry.remove(runId)
    assert(spark.table(sink).count() == 40)
  }

  test("typed Aggregator: exact mean via (sum, count) buffer") {
    import spark.implicits._
    val meanAgg = new Aggregator[Long, (Long, Long), Double] {
      def zero: (Long, Long) = (0L, 0L)
      def reduce(b: (Long, Long), a: Long): (Long, Long) = (b._1 + a, b._2 + 1)
      def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) = (x._1 + y._1, x._2 + y._2)
      def finish(b: (Long, Long)): Double = b._1.toDouble / b._2
      def bufferEncoder: Encoder[(Long, Long)] = Encoders.product[(Long, Long)]
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
    val ds = (1L to 100L).toDS()
    assert(ds.select(meanAgg.toColumn).head() == 50.5)
  }
}

object SinksAndTriggersSpec {
  /** Row ids seen by the ForeachWriter (static: the writer is serialized
    * to executors; local[*] shares this JVM). */
  val seen = new ConcurrentLinkedQueue[java.lang.Long]()
}

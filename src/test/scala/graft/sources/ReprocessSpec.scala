package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Replay semantics (reference: S3ConnectorSource.scala:112-154 +
  * S3ConnectorSourceItSuite reprocess scenarios): dry-run lists and
  * aborts, in-action re-emits committed batches as new batch ids behind
  * a lock file, and a second reprocess fails until the lock is removed. */
class ReprocessSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private def writeJson(dir: java.nio.file.Path, name: String, rows: Seq[(Int, String)]): String = {
    val f = dir.resolve(name)
    Files.write(f, rows.map { case (i, n) => s"""{"id":$i,"name":"$n"}""" }.mkString("\n").getBytes)
    "file:" + f.toString
  }

  private def run(qn: String, out: String, ckpt: String, extra: Map[String, String] = Map.empty): Unit = {
    val r = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "json").option("queueName", qn)
      .option("queueFetchWaitTimeoutSeconds", "5")
    extra.foreach { case (k, v) => r.option(k, v) }
    val q = r.load().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }

  test("reprocess: dry-run aborts, in-action replays behind a lock, lock blocks reruns") {
    val qn = s"repro-${System.nanoTime()}"
    val queue = InMemoryQueueRegistry.queue(qn)
    val dir = tempDir("repro")
    val out = tempDir("repro-out").toString
    val ckpt = tempDir("repro-ckpt").toString

    // two committed batches (maxFilesPerTrigger=1 forces one file per batch)
    queue.send(s"""{"path":"${writeJson(dir, "a.json", Seq(1 -> "a"))}","timestampMs":1000}""")
    queue.send(s"""{"path":"${writeJson(dir, "b.json", Seq(2 -> "b"))}","timestampMs":2000}""")
    run(qn, out, ckpt, Map("maxFilesPerTrigger" -> "1", "sortBatchByTimestamp" -> "true"))
    assert(spark.read.parquet(out).count() == 2)

    val reproOpts = Map("reprocessStartBatchId" -> "0", "reprocessEndBatchId" -> "1")

    // dry-run: lists the files and aborts the query with the marker exception
    val dryEx = intercept[StreamingQueryException] {
      run(qn, out, ckpt, reproOpts) // reprocessDryRun defaults true
    }
    def rootOf(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootOf(t.getCause)
    assert(rootOf(dryEx).isInstanceOf[GraftReprocessDryRunException])

    // in-action: re-emits both files as new batches appended to the sink
    run(qn, out, ckpt, reproOpts + ("reprocessDryRun" -> "false"))
    val names = spark.read.parquet(out).collect().map(_.getString(1)).sorted.toSeq
    assert(names == Seq("a", "a", "b", "b"))

    // the lock survives: a second in-action reprocess must fail
    val lockEx = intercept[StreamingQueryException] {
      run(qn, out, ckpt, reproOpts + ("reprocessDryRun" -> "false"))
    }
    assert(rootOf(lockEx).isInstanceOf[GraftReprocessLockExistsException])

    // deleting the lock re-enables reprocess (crc sidecar too: the local
    // Hadoop FS would otherwise refuse to recreate the lock)
    val lockPath = new java.io.File(ckpt + "/sources/0/reprocess.lock")
    assert(lockPath.exists)
    lockPath.delete()
    new java.io.File(ckpt + "/sources/0/.reprocess.lock.crc").delete()
    run(qn, out, ckpt, reproOpts + ("reprocessDryRun" -> "false"))
    assert(spark.read.parquet(out).count() == 6)
  }
}

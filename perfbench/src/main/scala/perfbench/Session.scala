package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import org.apache.spark.perfbenchshim.ListenerBusShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.FileBackedMetadataLog

/** One local Spark session with the benchmark's listeners attached. */
final class Session(cores: Int, work: Path) {
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  val progress = new ProgressLog
  val exec = new ExecLog
  spark.streams.addListener(progress)
  spark.sparkContext.addSparkListener(exec)

  /** Deliver every listener event posted so far. Called after a clock
    * stops and before any accounting is read. */
  def drainBus(): Unit = ListenerBusShim.drain(spark.sparkContext)

  def stop(): Unit = spark.stop()

  /** The push source over the benchmark's CSV inputs. Traced runs build it
    * through [[TracedGraftProvider]]. */
  def pushStream(traced: Boolean, options: Map[String, String]): DataFrame =
    spark.readStream
      .format(if (traced) classOf[TracedGraftProvider].getName else "graft-files")
      .schema(InputFiles.schema)
      .option("fileFormat", "csv")
      .options(options)
      .load()

  /** Spark's own listing file source over a directory of the same inputs. */
  def listingStream(dir: Path, maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(InputFiles.schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toLong))
    r.csv(dir.toString)
  }

  def fileSink(df: DataFrame, out: Path, checkpoint: Path, trigger: Trigger): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(trigger)
      .start()

  /** Commit time of each announced file: the end of the first data trigger
    * whose end offset covers the log batch the source put the file in. The
    * batch comes from the source's metadata log, read through its public
    * constructor and `getFile` after the query stopped. */
  def commitTimes(query: StreamingQuery, checkpoint: Path, uris: Seq[String]): Seq[Option[Double]] = {
    val triggers = progress.triggers(query).filter(_.numInputRows > 0)
    val log = new FileBackedMetadataLog(checkpoint.resolve("sources").resolve("0").toString,
      spark.sparkContext.hadoopConfiguration)
    try uris.map(u => log.getFile(u).flatMap(e => triggers.find(_.endOffset >= e.batchId).map(_.endMs)))
    finally log.close()
  }

  /** Check that the sink holds exactly the rows of `expected` files: each
    * file's row count, no other file, and the id checksum. Files numbered
    * below `fromId` were written before the run and are not checked.
    * Failures are counted per file. */
  def checkSink(
      out: Path, expected: Seq[Long], rowsPerFile: Int, what: String, report: Report,
      fromId: Long = 0L): Unit = {
    val df = spark.read.schema(InputFiles.schema).parquet(out.toString).where(col("file_id") >= fromId)
    val perFile = df.groupBy("file_id").agg(count(lit(1)), sum("id")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), BigInt(r.getLong(2)))).toMap
    val exp = expected.toSet
    val bad = exp.count(f => !perFile.get(f).exists(_._1 == rowsPerFile)) +
      perFile.keys.count(f => !exp(f))
    report.attempted += exp.size
    report.fail(bad.toLong, s"$what: files not in the sink exactly once")
    if (bad == 0 && perFile.values.map(_._2).sum != InputFiles.idSum(exp, rowsPerFile)) {
      report.fail(1, s"$what: id checksum differs from the generated rows")
    }
  }

  /** Driver heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc()
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

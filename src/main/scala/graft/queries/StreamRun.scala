package graft.queries

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.TempDirs
import graft.sources.InMemoryQueueRegistry

/** The one path from queue announcement to sink for the `stream_*` rows.
  *
  * Every streaming row stages parquet files, announces them on an
  * in-memory queue, reads them back through the push-based `graft-files`
  * source, runs its transform into a sink and returns the result for the
  * DuckDB oracle. A run owns everything those rows share:
  *  - the run id and a fresh queue per [[source]] (a stream-stream join
  *    opens two);
  *  - the `{"path","timestampMs"}` announcement of each staged dir's
  *    `.parquet` files in name order;
  *  - the reader's fixed options;
  *  - the query lifecycle: start under `Trigger.AvailableNow`, run to
  *    termination, the last micro-batch plan for [[StreamPlans]]
  *    (memory-sink runs only: a foreachBatch row captures its per-batch
  *    plan inside the lambda, where `lastExecution` would only see the
  *    source scan), stop;
  *  - one release, on success and failure alike, of every queue the run
  *    registered and of the checkpoint dir it created.
  *
  * A row keeps only what differs: schema, announcement timestamps,
  * per-row source options, the transform, the sink and its own cleanup.
  * The query lifecycle is Structured Streaming's (SIGMOD 2018). Under
  * AvailableNow the source drains its queue before batch 0 and cuts the
  * batches oldest first, so every batch's composition is fixed by the
  * announcements alone, never by queue-consumption timing.
  */
private[graft] final class StreamRun private (s: SparkSession, val gate: String) {
  val id: String = s"${gate}_${StreamRun.seq.incrementAndGet()}_${System.nanoTime()}"
  private val queues = ArrayBuffer.empty[String]
  private var checkpoint: Option[File] = None

  /** Queues this run registered so far (all removed on release). */
  private[graft] def queueNames: Seq[String] = queues.toSeq
  /** The checkpoint dir of the run's foreachBatch query, if it started one. */
  private[graft] def checkpointDir: Option[String] = checkpoint.map(_.getPath)

  /** Announce `feeds` on a fresh queue and read them back as a stream of
    * `schema` rows; `options` are the row's own source options. */
  def source(schema: StructType, feeds: Seq[StreamRun.Feed],
      options: (String, String)*): DataFrame = {
    val name = s"${id}_q${queues.size}"
    val queue = InMemoryQueueRegistry.queue(name)
    queues += name
    feeds.foreach { feed =>
      StreamRun.parquetFiles(feed.dir).zipWithIndex.foreach { case (f, i) =>
        val msg = s"""{"path":"file:${f.getAbsolutePath}","timestampMs":${feed.stamp(f, i)}}"""
        (1 to feed.copies).foreach(_ => queue.send(msg))
      }
    }
    s.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "parquet").option("queueName", name)
      .options(options.toMap).load()
  }

  /** Run `df` to completion into a memory sink with `outputMode`, record
    * its last micro-batch plan under the gate name, and return the sink. */
  def memory(df: DataFrame, outputMode: String): DataFrame = {
    val sink = s"sink_$id"
    val query = df.writeStream.format("memory").queryName(sink)
      .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
    try {
      query.awaitTermination()
      StreamPlans.capture(gate, query)
    } finally query.stop()
    s.table(sink)
  }

  /** Run `df` to completion through `body` on a checkpoint dir the run
    * deletes on release. */
  def foreachBatch(df: DataFrame)(body: (Dataset[Row], Long) => Unit): Unit = {
    val cp = Files.createTempDirectory(s"graft-$id-cp").toFile
    checkpoint = Some(cp)
    val query = df.writeStream.foreachBatch(body)
      .option("checkpointLocation", cp.getPath).trigger(Trigger.AvailableNow()).start()
    try query.awaitTermination() finally query.stop()
  }

  /** A fresh output dir named after the run. Not released with the run,
    * because the frame a row returns reads it; deleted at JVM exit. */
  def tempDir(tag: String): String = StreamRun.outputs.create(s"graft-$id-$tag")

  private def release(): Unit = {
    queues.foreach(InMemoryQueueRegistry.remove)
    checkpoint.foreach(TempDirs.delete)
  }
}

private[graft] object StreamRun {
  private val seq = new AtomicInteger(0)
  private val outputs = new TempDirs

  /** Announcement timestamp of the `i`-th file (name order) of a feed. */
  type Stamp = (File, Int) => Long
  val modified: Stamp = (f, _) => f.lastModified()
  def at(ms: Long): Stamp = (_, _) => ms
  /** `ms`, `ms + 1`, ...: batches are cut oldest first, so at one file
    * per trigger the files arrive one batch each in name order. */
  def from(ms: Long): Stamp = (_, i) => ms + i

  /** The `.parquet` files of a staged `dir`, announced `copies` times each. */
  final case class Feed(dir: String, stamp: Stamp = at(1000L), copies: Int = 1)

  /** The `.parquet` files of `dir` in name order. */
  def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** Run `body` with a fresh [[StreamRun]] for `gate`, then release it. */
  def apply[T](s: SparkSession, gate: String)(body: StreamRun => T): T = {
    val run = new StreamRun(s, gate)
    try body(run) finally run.release()
  }
}

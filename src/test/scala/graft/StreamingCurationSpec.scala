package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Parity
import graft.sources.InMemoryQueueRegistry

/** The two halves of the library composing: documents ingested through the
  * push-based connector, curated with the text operators INSIDE the
  * stream, and the streamed result must match the batch operator run on
  * the same corpus — the end-to-end shape of a production ingest+curation
  * pipeline (queue announcement → exactly-once admission → per-batch
  * scoring → sink). */
class StreamingCurationSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("connector-fed stream scores documents identically to the batch path") {
    import spark.implicits._
    val dir = tempDir("graft-sc")
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "spam spam spam spam spam",
      3L -> "a measured sentence with a few repeated few tokens",
      4L -> "x")
    // two files announced separately: scoring must survive batch boundaries
    docs.grouped(2).zipWithIndex.foreach { case (part, i) =>
      val f = dir.resolve(s"docs$i.json")
      Files.write(f, part.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
        .mkString("\n").getBytes("UTF-8"))
      InMemoryQueueRegistry.queue("curation-q")
        .send(s"""{"path":"file:$f","timestampMs":${System.currentTimeMillis()}}""")
    }

    def curate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val toks = Parity.tokens($"text")
      df.select($"doc_id",
        size(toks).as("n_tokens"),
        Parity.stopwordRatio(toks).as("stop_ratio"),
        graft.functions.SimHash.simhash(toks).as("sig"))
    }

    val streamed = curate(
      spark.readStream.format("graft-files").schema(schema)
        .option("fileFormat", "json")
        .option("queueName", "curation-q")
        .option("queueFetchWaitTimeoutSeconds", "5")
        .load())
    val q = streamed.writeStream.format("memory")
      .queryName("curated").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val batch = curate(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    val got = spark.table("curated")
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    assert(got == batch,
      s"stream and batch curation must agree row-for-row:\n$got\nvs\n$batch")
    assert(got.size == 4)
  }
}

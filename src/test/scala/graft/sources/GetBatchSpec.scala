package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** What one `getBatch` reads, pinned on batches above Spark's 32-path
  * parallel-listing threshold (`spark.sql.sources.parallelPartitionDiscovery
  * .threshold`): rows, `_metadata.file_*`, schema nullability, hive
  * partition columns, hidden names, missing files, announced directories,
  * an announced file-sink output directory and names that look like globs.
  * Where a batch read of the same paths exists (`spark.read...load(paths)`,
  * Spark's own listing), the streamed batch must equal it.
  */
class GetBatchSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-getbatch")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  /** Files per batch: above the 32-path threshold. */
  private val N = 40

  private val metaCols = Seq("_metadata.file_path", "_metadata.file_size",
    "_metadata.file_modification_time")

  private def writeJson(dir: JPath, name: String, id: Int): String = {
    val f = dir.resolve(name)
    Files.write(f, s"""{"id":$id,"name":"n$id"}""".getBytes("UTF-8"))
    "file:" + f.toString
  }

  private def jsonFiles(dir: JPath, n: Int, from: Int = 0): Seq[String] =
    (from until from + n).map(i => writeJson(dir, f"f$i%03d.json", i))

  private var qSeq = 0

  /** A new in-memory queue holding one announcement per path. */
  private def freshQueue(paths: Seq[String]): String = {
    qSeq += 1
    val qn = s"getbatch-q$qSeq-${System.nanoTime()}"
    val q = InMemoryQueueRegistry.queue(qn)
    paths.foreach(p => q.send(s"""{"path":"$p","timestampMs":${System.currentTimeMillis()}}"""))
    qn
  }

  /** The relation `getBatch` builds for one batch of `paths`, read as a
    * batch DataFrame: `_metadata` resolves on a file relation, and the
    * sinks hand their batch on as materialized rows without it. */
  private def batchRelation(paths: Seq[String]): DataFrame = {
    val qn = freshQueue(paths)
    val source = new GraftFileSource(spark.sqlContext, tempDir("getbatch-meta").toString,
      schema, Map("fileFormat" -> "json", "queueName" -> qn, "maxFilesPerTrigger" -> "100"))
    val plan = try {
      // the AvailableNow drain admits every announced path before the
      // first offset, so batch 0 holds all of them
      source.prepareForTriggerAvailableNow()
      source.getBatch(None, source.getOffset.get).queryExecution.logical
    } finally { source.stop(); InMemoryQueueRegistry.remove(qn) }
    GraftShims.ofRows(spark, plan.collectFirst {
      case l: LogicalRelation => LogicalRelation(l.relation)
    }.getOrElse(fail(s"no file relation in $plan")))
  }

  /** Announce `paths`, drain them with one AvailableNow query at
    * maxFilesPerTrigger 100, and return each non-empty batch's schema and
    * rows. */
  private def drain(paths: Seq[String], userSchema: StructType = schema,
      extra: Map[String, String] = Map.empty): Seq[(StructType, Seq[Row])] = {
    val qn = freshQueue(paths)
    val batches = new ConcurrentLinkedQueue[(StructType, Seq[Row])]()
    try {
      val r = spark.readStream.format("graft-files").schema(userSchema)
        .option("fileFormat", "json").option("queueName", qn)
        .option("maxFilesPerTrigger", "100")
      extra.foreach { case (k, v) => r.option(k, v) }
      val query = r.load().writeStream
        .option("checkpointLocation", tempDir("getbatch-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().toSeq
          if (rows.nonEmpty) batches.add((df.schema, rows))
          ()
        }.start()
      assert(query.awaitTermination(120000), "AvailableNow drain did not terminate")
    } finally InMemoryQueueRegistry.remove(qn)
    batches.asScala.toSeq
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("rows and _metadata.file_* equal a batch read of the same paths") {
    val paths = jsonFiles(tempDir("getbatch"), N)
    val batches = drain(paths)
    assert(batches.size == 1, s"expected one batch of $N files, got ${batches.size}")
    val expected = spark.read.schema(schema).json(paths: _*)
    assert(sorted(batches.head._2) == sorted(expected.collect().toSeq))
    val cols = Seq("id", "name") ++ metaCols
    val meta = batchRelation(paths).selectExpr(cols: _*).collect().toSeq
    val expectedMeta = expected.selectExpr(cols: _*).collect().toSeq
    assert(expectedMeta.length == N)
    assert(sorted(meta) == sorted(expectedMeta))
  }

  test("a non-null user schema reads back nullable, as a batch read does") {
    val strict = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val paths = jsonFiles(tempDir("getbatch"), N)
    val Seq((batchSchema, rows)) = drain(paths, userSchema = strict)
    assert(rows.size == N)
    assert(batchSchema.fields.forall(_.nullable), batchSchema.treeString)
    assert(batchSchema == spark.read.schema(strict).json(paths: _*).schema)
  }

  test("hive partition columns take the user's types with partitionColumns and basePath") {
    val base = tempDir("getbatch")
    val paths = (0 until N).map { i =>
      val d = base.resolve(s"p=${i % 2}")
      Files.createDirectories(d)
      writeJson(d, s"f$i.json", i)
    }
    val pschema = schema.add(StructField("p", IntegerType))
    val Seq((batchSchema, rows)) = drain(paths, userSchema = pschema,
      extra = Map("partitionColumns" -> "p", "basePath" -> ("file:" + base)))
    assert(batchSchema("p").dataType == IntegerType)
    assert(batchSchema.fieldNames.toSeq == Seq("id", "name", "p"))
    assert(rows.map(r => (r.getInt(0), r.getInt(2))).sorted == (0 until N).map(i => (i, i % 2)))
  }

  test("inferred hive partitions under basePath equal a batch read of the same paths") {
    val base = tempDir("getbatch")
    val paths = (0 until N).map { i =>
      val d = base.resolve(s"p=${i % 3}")
      Files.createDirectories(d)
      writeJson(d, s"f$i.json", i)
    }
    val pschema = schema.add(StructField("p", LongType))
    val Seq((batchSchema, rows)) = drain(paths, userSchema = pschema,
      extra = Map("basePath" -> ("file:" + base)))
    val expected = spark.read.schema(pschema).option("basePath", "file:" + base)
      .json(paths: _*)
    assert(batchSchema == expected.schema)
    assert(batchSchema("p").dataType == LongType)
    assert(sorted(rows) == sorted(expected.collect().toSeq))
  }

  test("announced hidden names (_x, .x) are dropped from the batch") {
    val dir = tempDir("getbatch")
    val visible = jsonFiles(dir, N - 2)
    val hidden = Seq(writeJson(dir, "_x.json", 1000), writeJson(dir, ".x.json", 1001))
    val Seq((_, rows)) = drain(visible ++ hidden)
    assert(rows.map(_.getInt(0)).sorted == (0 until N - 2))
  }

  Seq("true", "false").foreach { ignore =>
    test(s"an announced file deleted before its trigger is skipped (ignoreMissingFiles=$ignore)") {
      val dir = tempDir("getbatch")
      val paths = jsonFiles(dir, N)
      Files.delete(dir.resolve("f007.json"))
      val Seq((_, rows)) = drain(paths, extra = Map("ignoreMissingFiles" -> ignore))
      assert(rows.map(_.getInt(0)).sorted == (0 until N).filterNot(_ == 7))
    }
  }

  test("an announced directory is listed: its files, not its hidden ones") {
    val dir = tempDir("getbatch")
    val files = jsonFiles(dir, N - 1)
    val sub = Files.createDirectory(dir.resolve("sub"))
    jsonFiles(sub, 3, from = 100)
    writeJson(sub, "_hidden.json", 200)
    val announced = files :+ ("file:" + sub)
    val Seq((_, rows)) = drain(announced)
    assert(rows.map(_.getInt(0)).sorted == (0 until N - 1) ++ (100 until 103))
    val cols = Seq("id") ++ metaCols
    val expected = spark.read.schema(schema).json(announced: _*).selectExpr(cols: _*)
    assert(sorted(batchRelation(announced).selectExpr(cols: _*).collect().toSeq) ==
      sorted(expected.collect().toSeq))
  }

  test("a single announced file-sink output directory reads its committed files") {
    val in = tempDir("getbatch-sink-in")
    writeJson(in, "a.json", 1)
    writeJson(in, "b.json", 2)
    val out = tempDir("getbatch-sink")
    val sink = spark.readStream.schema(schema).json(in.toString).writeStream.format("json")
      .option("path", out.toString)
      .option("checkpointLocation", tempDir("getbatch-sink-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(sink.awaitTermination(120000), "file-sink query did not terminate")
    assert(Files.isDirectory(out.resolve("_spark_metadata")))
    // a data file of a sink batch that never committed: not in the log
    writeJson(out, "part-99999-uncommitted.json", 99)
    val Seq((_, rows)) = drain(Seq("file:" + out))
    assert(rows.map(r => (r.getInt(0), r.getString(1))).sorted == Seq(1 -> "n1", 2 -> "n2"))
  }

  test("announced names holding glob metacharacters are read as literal files") {
    val dir = tempDir("getbatch")
    val plain = jsonFiles(dir, N)
    // `c*.json` read as a pattern would also match the unannounced cX.json
    writeJson(dir, "cX.json", 500)
    val literal = Seq("a[1].json", "b{2,3}.json", "c*.json").zipWithIndex.map {
      case (name, i) => writeJson(dir, name, 100 + i)
    }
    val Seq((_, rows)) = drain(plain ++ literal)
    assert(rows.map(_.getInt(0)).sorted == (0 until N) ++ (100 until 103))
  }

  test("a data trigger of more than 32 files runs no listing job") {
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val paths = jsonFiles(tempDir("getbatch"), N)
    spark.sparkContext.addSparkListener(listener)
    val batches = try {
      val b = drain(paths)
      GraftShims.drainListenerBus(spark.sparkContext, 20000L)
      b
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(batches.map(_._2.size) == Seq(N))
    val listing = descriptions.asScala.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs: ${listing.mkString(" | ")}")
  }
}
